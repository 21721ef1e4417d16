"""Report pandas-dtype differences between Spark results and DuckDB oracle
results per query — the driver's schema comparison may be type-sensitive.

    python tools/check_dtypes.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bun_csv_spark.session import TABLES, get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dtypes", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_diff = 0
    for name, fn in queries.items():
        if name not in oracles:
            continue
        sdf = fn(spark, sf_dir).limit(50).toPandas()
        odf = con.execute(f"SELECT * FROM ({oracles[name]}) LIMIT 50").df()
        diffs = []
        for c in sorted(sdf.columns):
            st, ot = str(sdf[c].dtype), str(odf[c].dtype)
            # pandas promotes int columns with NULLs to float64; the two
            # 50-row samples may disagree on whether a null landed in them,
            # so int64 vs float64 is only a real drift when the float side
            # carries non-integral values
            if {st, ot} == {"int64", "float64"}:
                fcol = (sdf if st == "float64" else odf)[c].dropna()
                if (fcol == fcol.round()).all():
                    continue
            if st != ot:
                diffs.append(f"{c}: spark={st} oracle={ot}")
        if diffs:
            n_diff += 1
            print(f"DIFF {name}: " + "; ".join(diffs))
    print(f"\n{n_diff} queries with dtype differences")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
