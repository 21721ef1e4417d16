"""bun_csv_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference CSV toolkit (bytebrujo/bun-csv),
re-expressed Spark-first.

The reference (see SURVEY.md) is a single-node CSV parser with a small
relational layer (select / filter / sort / join / groupBy-aggregate), an
option-rich reader, writer/unparse, and a CLI. This package maps that surface
onto the Spark DataFrame/SQL stack — Catalyst does the optimizing, Tungsten
the execution — and extends it with the operators a large-scale training-data
pipeline needs (dedup, similarity search, text analysis, multimodal columns,
structured streaming).

Layout
------
- ``session``      SparkSession factory + testdata table loading
- ``plans``        the CLI filter-expression compiler (string -> Column)
- ``operators``    frame ops with reference semantics, dedup, similarity, stats
- ``functions``    coercion / text / vector column-expression libraries
- ``sources``      CSV reader with the reference's full option surface
- ``streaming``    structured-streaming windows over event tables
- ``multimodal``   binary-column plumbing with pure-Python image/audio/video decoders
"""

__version__ = "0.1.0"

from bun_csv_spark.session import get_spark, load_tables  # noqa: F401
