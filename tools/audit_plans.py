"""Physical-plan audit: assert the plans we want at 100 TB.

Checks, per query: parquet filter pushdown (PushedFilters), column pruning
(ReadSchema), broadcast joins for dimension tables, whole-stage codegen
presence, and shuffle (Exchange) counts. Run:

    python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from bun_csv_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


EXPECTATIONS = {
    # query: (max_shuffles, must_contain, must_not_contain)
    # r18: the ensure_parallelism round-robin exchange is gone — the one
    # remaining shuffle is the groupBy's partial->final reduce
    "tpch_q1": (1, ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"], []),
    "filter_numeric": (0, ["PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal"], ["Exchange"]),
    "select_project": (0, ["ReadSchema: struct<c_custkey:bigint,c_name:string>"], ["Exchange"]),
    "join_inner": (0, ["BroadcastHashJoin"], ["SortMergeJoin"]),
    "sort_topk": (0, ["TakeOrderedAndProject"], ["GlobalSort"]),
    "minhash_signatures": (1, [], ["SortMergeJoin"]),  # keyed repartition only
    "ann_cosine_topk": (0, ["TakeOrderedAndProject"], []),
    # r18: ensure_parallelism exchange removed -> the groupBy reduce only
    "groupby_reference_aggs": (1, ["HashAggregate"], []),
    "dedup_exact": (1, ["HashAggregate"], []),
    # as-of join is union-and-carry: ONE key shuffle for the window (+1 if
    # the final project reorders) — and NEVER a nested-loop/cartesian join
    "asof_join": (2, ["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "range_join": (4, [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # capped banded pairs (cap window, pair distinct — no self-join) +
    # the pinned cosine-verify spread
    "dedup_embedding": (3, [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # r3 additions
    # substring anchors: window cap + equi-join + count agg — never n²
    # r18: +2 for the keyed ensure_parallelism spread of the single-file
    # local scan (once per union branch of the self-join; no-op >=128 MB)
    "substring_dedup": (7, [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # bounds are a 1-row combinable agg broadcast back — the only Exchange
    # is the ungrouped agg's partial-state reduce (1 tiny row per task),
    # NOT a posexplode shuffle of n·d rows
    "embedding_quantize": (1, ["BroadcastExchange"], ["SortMergeJoin"]),
    # per-row fold: zero shuffles
    # r18: the keyed ensure_parallelism exchange spreads the one-core
    # entropy fold on the single-file local scan (3.9 -> 0.46 s); the
    # compute itself stays a pure map — pin 1 exchange max, no shuffle
    # joins
    "char_entropy": (1, [], ["SortMergeJoin", "CartesianProduct"]),
    # candidate selection is a bounded TakeOrdered, then re-rank; the one
    # Exchange is the bounds agg's 1-row reduce (as embedding_quantize)
    "ann_quantized": (1, ["TakeOrderedAndProject"], ["SortMergeJoin"]),
    # one window shuffle on the group key
    "domain_cap": (1, ["Window"], []),
    "quality_percentile": (1, ["BroadcastExchange"], ["SortMergeJoin"]),
    # r4 additions
    # the round-3 scale fix: per-bucket running sums — one hash exchange,
    # and NEVER a global ordering window (Exchange SinglePartition)
    "token_budget": (1, ["Window"], ["SinglePartition"]),
    # doc side stays broadcast-joined to per-source rates; the only
    # SinglePartition window runs over one row PER SOURCE (dim-sized)
    "temperature_resample": (2, ["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # eval grams broadcast against doc grams — keyed shuffles only
    "decontamination_surgical": (3, ["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # one keyed shuffle into the per-user collect_list
    "user_sequences": (1, ["ObjectHashAggregate"], ["SortMergeJoin"]),
    # map-side md5 split + count agg
    "hash_split": (1, ["HashAggregate"], ["SortMergeJoin"]),
    "boilerplate_prefix": (1, ["HashAggregate"], ["SortMergeJoin"]),
    # batch result of a real micro-batch run: a collected LocalTableScan
    # (the streaming plan itself is exercised in tests/test_streaming*)
    "streaming_enrich": (0, ["LocalTableScan"], ["Exchange"]),
    # r4 operator batch — every keyed window asserts it never degrades to
    # a single-partition global window; 1-row bounds/ref broadcasts are
    # the only BroadcastNestedLoopJoins allowed (crossJoin of an agg row)
    # +1 exchange r9: the (group, hash-bucket) pre-rank that bounds the
    # final per-group window at prune_buckets*k rows (hot-group safety)
    "kmv_distinct": (3, ["WindowGroupLimit"], ["SinglePartition"]),
    "rolling_range": (1, ["Window"], ["SinglePartition"]),
    "anomaly_zscore": (1, ["Window"], ["SinglePartition"]),
    "funnel": (2, [], ["SinglePartition"]),
    # r18: +1 for the keyed ensure_parallelism spread of the corpus scan
    # (no-op at scale); the capped banded pairs evaluate the banding once
    "simhash_pairs": (3, [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # r18: +1 pinned repartition of the candidate-pair ids before the
    # payload joins (_spread_for_cpu — AQE's bytes-based coalescing ran
    # the set-intersection verify single-core otherwise)
    "ngram_containment": (4, [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "quantile_normalize": (1, ["Window"], ["SinglePartition"]),
    "balanced_sample": (1, ["WindowGroupLimit"], ["SinglePartition"]),
    # bounds-broadcast decile assignment: NO ranking window anywhere
    "curriculum_shards": (1, ["BroadcastExchange"], ["Window"]),
    "decay_weighted": (2, ["BroadcastExchange"], ["SortMergeJoin"]),
    # full-outer digest join: SMJ is the right physical op (both sides
    # preserved); churn-only output
    "corpus_diff": (2, [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "temporal_split": (1, ["Window"], ["SinglePartition"]),
    # grouped-percentile stats rejoin as a dimension broadcast
    "robust_scale": (1, ["BroadcastHashJoin"], ["SortMergeJoin", "Window"]),
    "lang_confusion": (1, ["HashAggregate"], ["SortMergeJoin"]),
    # df top-100 is a TakeOrdered broadcast back onto the postings
    "inverted_index": (1, ["TakeOrderedAndProject", "BroadcastHashJoin"], ["SortMergeJoin"]),
    # r6 additions
    # the scale-safe kNN join: bucket equi-join + per-query top-k window —
    # the whole point is NO cartesian anywhere
    "knn_join_bucketed": (2, ["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # Arrow-batched decode pipelines: pandas_udf attach + mapInPandas
    # reduce, zero shuffles end to end
    "multimodal_pixels": (0, ["MapInPandas"], ["Exchange"]),
    "multimodal_png": (0, ["MapInPandas"], ["Exchange"]),
    "multimodal_samples": (0, ["MapInPandas"], ["Exchange"]),
    "multimodal_gif": (0, ["MapInPandas"], ["Exchange"]),
    # bloom probe: the bitmap collapses to a 1-row map broadcast
    # (bounds-broadcast pattern); the only Exchanges are the tiny bitmap
    # build aggs — the probe side never shuffle-joins
    "bloom_semi": (2, ["BroadcastNestedLoopJoin"], ["SortMergeJoin"]),
    # pure codegen bit interleave: zero shuffles
    "zorder_keys": (0, [], ["Exchange"]),
    # one window shuffle on the changelog + one key shuffle for the anti
    # join side
    "cdc_apply": (3, ["Window"], ["CartesianProduct", "SinglePartition"]),
    # interval-family: bucketed equi-join, never a theta join
    "interval_overlap": (3, [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two batch states + merge: keyed hash aggs only, no global window
    "incremental_agg": (4, ["HashAggregate"], ["CartesianProduct", "SinglePartition", "Window"]),
    # groupBy + 1-row totals broadcast + TakeOrdered top slice
    "skew_profile": (3, ["TakeOrderedAndProject"], ["SortMergeJoin"]),
    # r7 additions
    # two branches x (register max-agg + estimate agg); both map-side
    # combined, per-group shuffle state <= m register rows
    "hll_distinct": (4, ["HashAggregate"], ["Window", "SinglePartition"]),
    # A-Res top-k: per-partition heap + driver k-row reduce, NO shuffle
    "weighted_sample": (0, ["TakeOrderedAndProject"], ["Exchange"]),
    # per-stratum A-Res: ONE keyed window shuffle
    "weighted_sample_group": (1, ["Window"], ["SinglePartition"]),
    # lag window on the entity key + STATE^2 aggs; never a global window
    "transition_counts": (3, ["Window"], ["SinglePartition", "CartesianProduct"]),
    # gram-hash agg + hot-set equi-join + per-doc interval-merge window
    "dup_spans": (3, [], ["CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition"]),
    # r18: +1 keyed ensure_parallelism spread of the local scan
    "dup_span_removal": (4, [], ["CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition"]),
    # partial+final agg on (i, j): reduce input is tasks x dim^2 partials
    "embedding_covariance": (1, ["HashAggregate"], ["CartesianProduct", "Window"]),
    # after the bounded covariance collect, the projection itself is pure
    # codegen: zero shuffles
    "pca_project": (0, [], ["Exchange"]),
    # model joins are broadcast (alphabet-sized); the SinglePartition is
    # the 1-row vocabulary-count agg (bounds-broadcast pattern); the only
    # data-sized shuffle is the per-doc aggregate
    # 9 static Exchanges because the (doc, bigram) histogram subtree
    # feeds model AND probe: Spark's exchange reuse collapses the
    # duplicates at runtime (ReusedExchange), so the executed plan
    # shuffles the data once for the histogram + once per tiny agg
    "lm_score": (9, ["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # one keyed window shuffle + the tiny touch-state aggregate
    "attribution": (2, ["Window"], ["SinglePartition", "CartesianProduct"]),
    # bounds 1-row agg + n_bins histogram agg + bounded global window:
    # the SinglePartition nodes run over <= n_bins rows by construction
    "quantile_sketch": (4, ["Window"], ["SortMergeJoin", "CartesianProduct"]),
    # all rules fold into ONE wide aggregate: the only Exchange is the
    # 1-row partial-state reduce (hence SinglePartition is expected)
    "data_quality": (1, ["HashAggregate"], ["Window", "CartesianProduct"]),
    # per-shard register aggs + union-max merge + estimate agg — keyed
    # hash aggs only, register state bounds every shuffle
    "hll_merge": (4, ["HashAggregate"], ["Window", "SinglePartition"]),
    # firsts agg + distinct-activity agg + entity-key join + bounded
    # matrix agg + cohort-size broadcast back
    "retention": (6, ["BroadcastHashJoin"], ["CartesianProduct", "SinglePartition"]),
    # pure scan-and-agg: every predicate in the scan, the only Exchanges
    # are the 1-row ungrouped-agg partial+final pair
    "tpch_q6": (2, ["PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"], ["Window", "CartesianProduct"]),
    # date-bounded fact scan + part join (AQE-decided) + 1-row agg
    "tpch_q14": (4, ["PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # sketch build (bounded map-side combine) + distinct + exact agg +
    # broadcast sketch lookup + TakeOrdered — no global sort
    "countmin_topk": (10, ["TakeOrderedAndProject", "BroadcastExchange"], ["CartesianProduct", "GlobalSort"]),
    # CC runs on checkpointed edge list; final plan = broadcast label
    # join + map-side split rule — the corpus itself never shuffles
    "cluster_split": (2, ["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # ONE combinable aggregate, partial+final pair only, no Window. The
    # strict-ties string key forces SortAggregate (per-task sort, still
    # one exchange) — the documented cost of tie determinism; pass
    # strict_ties=False for the HashAggregate fast path
    "ohlc_resample": (2, ["SortAggregate"], ["Window", "CartesianProduct"]),
    # two bounded sketch builds + d*w-row product + exact-count twin;
    # the 1-row x 1-row cross join is the intended result assembly
    "join_size_estimate": (8, ["HashAggregate"], []),
    # Arrow-batched decode+hash: pure mapInPandas, zero shuffles
    "image_dhash": (0, ["MapInPandas"], ["Exchange"]),
    # banding cap window + per-bucket collect of the capped banded pairs
    # — the simhash_pairs shape over image fingerprints, decoded once;
    # never a cartesian
    "image_neardup": (2, ["MapInPandas"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # Arrow-batched WAV decode + fingerprint: zero shuffles
    "audio_fingerprint": (0, ["MapInPandas"], ["Exchange"]),
    # same banded pairing shape as image_neardup
    "audio_neardup": (2, ["MapInPandas"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # r8 additions
    # four mergeable families built per day and merged: every shuffle
    # carries bounded STATE (per-key moments / registers / bins /
    # counters), never raw rows twice; final joins are over <= |keys|
    # rows; no global window, no cartesian anywhere
    "incremental_day_pipeline": (24, ["HashAggregate"], ["CartesianProduct", "SinglePartition"]),
    # three banded edge pipelines feed CC on the union edge list, which
    # materializes eagerly (checkpointed, like cluster_split) — so the
    # FINAL plan is just broadcast label join + map-side split rule and
    # the corpus never shuffles
    "multimodal_cluster_split": (2, ["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # Arrow-batched JPEG encode+decode: pure mapInPandas, zero shuffles
    # r18: the keyed ensure_parallelism exchange spreads the one-core
    # Python decode on the single-file local scan (7.9 -> 1.6 s); the
    # decode itself stays a pure Arrow map — pin 1 exchange, no joins
    "multimodal_jpeg_pixels": (1, ["MapInPandas"], ["SortMergeJoin", "BroadcastHashJoin"]),
    "multimodal_jpeg_420": (1, ["MapInPandas"], ["SortMergeJoin", "BroadcastHashJoin"]),
    # KMV bottom-k per side (TakeOrdered, never a global sort) + <=2k-row
    # set algebra; the 1-row agg crossJoins are the intended assembly
    "corpus_overlap": (12, ["TakeOrderedAndProject"], ["GlobalSort", "SortMergeJoin"]),
    # per-domain KMV: distinct keys on (source,h); the two-level ranked
    # prune bounds the per-group window at prune_buckets*k rows; all set
    # algebra runs on state-sized tables (broadcast joins, no SMJ)
    "corpus_overlap_by_domain": (28, ["Window", "BroadcastHashJoin"],
                                 ["GlobalSort", "SortMergeJoin", "CartesianProduct"]),
    # decorrelated EXISTS: ONE semi join (orders never duplicated by
    # matching lineitems), date predicates pushed into the orders scan
    "tpch_q4": (4, ["Semi", "PushedFilters: [IsNotNull(o_orderdate)"], ["CartesianProduct"]),
    # HAVING subquery folded into the report: ONE lineitem scan+agg
    # drives the joins (r9 rewrite — the semi-join + re-join + re-group
    # form scanned the fact table twice); top-100 via TakeOrdered
    "tpch_q18": (5, ["TakeOrderedAndProject"], ["CartesianProduct", "GlobalSort"]),
    # returned-item report: pushed date/returnflag predicates, nation the
    # only forced broadcast, top-20 via TakeOrdered; revenue is an exact
    # fixed-point long so the cut is deterministic
    "tpch_q10": (6, ["TakeOrderedAndProject", "PushedFilters: [IsNotNull(o_orderdate)"],
                 ["CartesianProduct", "GlobalSort"]),
    # group-then-regroup distribution: left join + per-customer count +
    # tiny re-aggregation; never a cartesian, never a global sort
    "tpch_q13": (4, ["HashAggregate"], ["CartesianProduct", "GlobalSort"]),
    # r12 additions
    # correlated scalar folded into ONE windowed pass over the part-cut
    # rows: the only Exchanges are the partkey window shuffle + the 1-row
    # agg pair — never a second fact scan (see FACT_SCAN_BUDGET)
    "tpch_q17": (2, ["Window"], ["CartesianProduct", "GlobalSort"]),
    # r15 single-scan rewrite: the EXISTS pair runs as ONE
    # groupBy(orderkey) of min/max/sum aggregates (no Expand, no
    # distinct), so no semi/anti may appear; the orders join holds a
    # MERGE anti-broadcast guard (static estimator under-prices the
    # 1-col SF-scaling projection — the q9 trap; merge over
    # shuffle_hash because the SHJ build cannot spill — q9's A/B
    # hard-failed on exactly this shape, SCALE.md r15), and its sorts
    # are dim-scale: the fact side never sorts (it is consumed by the
    # hash aggregate before any join)
    "tpch_q21": (3, ["SortMergeJoin", "TakeOrderedAndProject"],
                 ["CartesianProduct", "BroadcastNestedLoopJoin",
                  "GlobalSort", "Semi", "Anti"]),
    # min-per-group correlated subquery as a window over the doubly-cut
    # fact; top-100 via TakeOrdered, never a global sort
    "tpch_q2": (3, ["Window", "TakeOrderedAndProject"],
                ["CartesianProduct", "GlobalSort"]),
    # r13 additions
    # disjunctive OR-of-ANDs: ONE scan per table, ONE compound filter —
    # the union rewrite (3 fact scans) must never appear
    "tpch_q19": (2, ["HashAggregate"], ["Union", "CartesianProduct"]),
    # nested semi-into-semi with the correlated 0.5*sum folded into one
    # conditional aggregate; both semis must survive as equi-joins
    "tpch_q20": (5, ["LeftSemi"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # group-agg vs global scalar: the 1-row threshold joins back as a
    # broadcast; the duplicated per_part aggregation subtree collapses
    # at RUNTIME (AQE stage reuse — asserted in RUNTIME_REUSE below,
    # because the static formatted plan prints the subtree twice)
    "tpch_q11": (4, ["BroadcastExchange"], ["CartesianProduct"]),
    # anti-join + 1-row avg broadcast + substring buckets; the BNLJ of a
    # 1-row build is the intended threshold attach, so only a cartesian
    # is forbidden
    "tpch_q22": (6, ["HashAggregate"], ["CartesianProduct"]),
    # r14 additions
    # symmetric two-nation predicate: both dim cuts are scan-level
    # isin() filters (pushed In predicates), the pair OR runs post-join
    # on nationkeys — never a cartesian, never a second nation scan
    "tpch_q7": (5, ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"],
                ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # profit rollup: the p_name cut is a pushed StringContains on the
    # part scan; all joins equi; nation attaches post-aggregate
    "tpch_q9": (5, ["PushedFilters: [IsNotNull(p_name), StringContains(p_name",
                    "HashAggregate"],
                ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # argmax vs global max: the 1-row threshold joins back as a
    # broadcast; the duplicated per_supp subtree collapses at RUNTIME
    # (asserted in RUNTIME_REUSE, like tpch_q11)
    "tpch_q15": (4, ["BroadcastExchange"], ["CartesianProduct"]),
    # NOT IN decorrelated to a left anti equi-join; grouped
    # count-distinct is the two-exchange expand — never a cartesian.
    # r14b late-materialized group key: the extra shuffles are the
    # vocab-bounded bucket dim's distinct + row_number (<= |vocab
    # product| rows each); the fact-side exchanges now carry a dense
    # int bid instead of ~30 bytes of brand/type/size strings (3.2x
    # at sf100)
    "tpch_q16": (7, ["Anti", "HashAggregate", "Window"],
                 ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # IVF-PQ: the pinned-literal cell prune is a map-side Filter on the
    # scan, encode + ADC are pure codegen, both cuts are TakeOrdered —
    # zero shuffles end to end
    "ann_pq": (0, ["TakeOrderedAndProject"],
               ["Exchange", "SortMergeJoin", "CartesianProduct"]),
    # conditional market share: the customer cut is a pushed In() on the
    # scan, the part cut a pushed equality; the share divides exact cent
    # longs post-aggregate — never a cartesian, never a second nation
    # scan. The In() fragment asserts pushdown only — the exact key set
    # and print order are data/Spark-version dependent (r14 advice) and
    # verified value-wise in tests/test_round14_ops.py
    "tpch_q8": (4, ["In(c_nationkey, [",
                    "EqualTo(p_type,ECONOMY)", "HashAggregate"],
                ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # cross-table lag predicate: returnflag In() + shipdate window both
    # push to the lineitem scan; the lag filter runs post-join; the
    # conditional counts collapse map-side to 2 rows
    "tpch_q12": (2, ["In(l_returnflag, [A,R])", "HashAggregate"],
                 ["CartesianProduct", "BroadcastNestedLoopJoin", "Union"]),
    # r18 storage-layout gates: the pruned read must carry the literal
    # day range in PartitionFilters (whole directories pruned before
    # any file opens) and spend its single shuffle on the final agg
    "partitioned_pruned_read": (
        1, ["PartitionFilters: [isnotnull(day#"], []),
    # the bucketed co-located join: SMJ over co-partitioned pre-sorted
    # buckets — no exchange below the join (the 1 is the agg), no Sort
    # nodes (sorted-bucket scan, one file per bucket), and never a
    # broadcast (the merge hint pins the bucket path so a small-SF
    # broadcast cannot hide it)
    "bucketed_join_agg": (
        1, ["SortMergeJoin"], ["Sort (", "BroadcastExchange"]),
}


# Fact-scan budget: how many times each SCALING table may appear in a
# query's scan list. The r9 sf1 run caught tpch_q18's canonical shape
# scanning lineitem TWICE (semi-join + re-join) — a cliff the shuffle
# count alone never saw. Pinning scan counts makes the next double-scan
# fail the audit at sf0.01 instead of waiting for a 10x-scale run.
FACT_SCAN_BUDGET = {
    "tpch_q1": {"lineitem": 1},
    "tpch_q3": {"lineitem": 1, "orders": 1, "customer": 1},
    "tpch_q4": {"lineitem": 1, "orders": 1},
    "tpch_q5": {"lineitem": 1, "orders": 1, "customer": 1},
    "tpch_q6": {"lineitem": 1},
    "tpch_q10": {"lineitem": 1, "orders": 1, "customer": 1},
    "tpch_q13": {"orders": 1, "customer": 1},
    "tpch_q14": {"lineitem": 1},
    "tpch_q18": {"lineitem": 1, "orders": 1, "customer": 1},
    "join_inner": {"lineitem": 1, "orders": 1},
    "dedup_apply": {"documents": 2},  # corpus + final anti-join probe
    "tpch_q17": {"lineitem": 1, "part": 1},
    # late materialization (r12 sf100 lesson): the cut+window run over
    # keys-only builds, the wide part/supplier attributes attach to the
    # ~100-row survivor set afterwards — the second scans are pushed
    # 2-column projections, the price of never shuffling the fact wide
    "tpch_q2": {"lineitem": 1, "part": 2, "supplier": 2},
    # r15 single-scan rewrite: the whole EXISTS pair folds into one
    # per-order min/max aggregate — exactly ONE fact scan (was the
    # canonical 3); a second scan is a regression to the semi/anti form
    "tpch_q21": {"lineitem": 1, "orders": 1, "supplier": 1},
    # the disjunctive shape's whole point: never the 3-branch union
    "tpch_q19": {"lineitem": 1, "part": 1},
    "tpch_q20": {"lineitem": 1, "part": 1, "supplier": 1},
    # the static plan prints the duplicated per_part subtree (2 scans);
    # RUNTIME_REUSE asserts AQE collapses it to one executed scan
    "tpch_q11": {"lineitem": 2, "supplier": 2},
    # the scalar-avg branch is a second pushed 3-column scan by design
    "tpch_q22": {"customer": 2, "orders": 1},
    # r14: both nation cuts are scan-level — one scan per fact/dim side
    "tpch_q7": {"lineitem": 1, "orders": 1, "customer": 1, "supplier": 1},
    "tpch_q9": {"lineitem": 1, "orders": 1, "part": 1, "supplier": 1},
    # the static plan prints the duplicated per_supp subtree (2 scans);
    # RUNTIME_REUSE asserts AQE collapses it to one executed scan
    "tpch_q15": {"lineitem": 2, "supplier": 1},
    # the static plan prints the vocab-bounded bucket-dim subtree twice
    # (partkey->bid build + final name attach) on top of the cut scan;
    # RUNTIME_REUSE asserts AQE collapses the replay (2 executed scans)
    "tpch_q16": {"lineitem": 1, "part": 3, "supplier": 1},
    "tpch_q8": {"lineitem": 1, "orders": 1, "customer": 1, "part": 1,
                "supplier": 1},
    "tpch_q12": {"lineitem": 1, "orders": 1},
}


# Forced-broadcast budget: scaling tables (customer/supplier/documents…)
# must NOT carry a broadcast hint — their strategy is AQE/statistics-decided.
# Only fixed-size dims (region 5 rows, nation 25) may be hinted.
BROADCAST_HINT_BUDGET = {
    "tfidf": 0,          # corpus-sized doc_len/df_counts must not be hinted
    "join_inner": 0,     # customer scales with SF
    "tpch_q3": 0,
    "distinct_agg": 0,
    # r13: the supplier/customer cuts are scan-level isin() filters on
    # the collected (<=25-key) asia set, so the only hinted subtree left
    # is the post-aggregate n_name attach: region hint + asia_n hint
    "tpch_q5": 2,
    "tpch_q19": 0,   # part scales with SF — AQE-decided
    "tpch_q20": 1,   # the 25-row nation dim only; excess keys AQE-decided
    # nation's hint + the r15 semi-build hint (the keys-only supplier
    # cut is join-derived, so the bytes-product estimate OVER-prices it
    # and the static plan exchanged the ENTIRE fact on suppkey — the
    # q9 trap's inverse; 5.8x at sf100) each replay in both prints of
    # the per_part subtree (detail + threshold) + the 1-row global
    # threshold's own hint
    "tpch_q11": 5,
    # the 1-row positive-balance average + the r16 MERGE guard on the
    # date-cut orders anti build (lint-caught q9 window: keys-only
    # SF-scaling projection priced under threshold at sf10)
    "tpch_q22": 2,
    "tpch_q17": 0,   # part cut scales with SF — AQE-decided
    # nation's broadcast + the orders MERGE hint (the q9-family
    # anti-broadcast guard: the 1-col orders projection prices under
    # threshold and would statically broadcast a 15M-row HashedRelation
    # at sf100 — measured +120% wall; merge, NOT shuffle_hash — the SHJ
    # build cannot spill and hard-failed q9's sf100 A/B); supplier
    # stays AQE-decided
    "tpch_q21": 2,
    # nation's hint sits inside the rs subtree, which late
    # materialization replays twice (keys-only cut + attribute attach);
    # r16 adds explicit broadcasts on both rs references (the
    # join-derived cut is bytes-product-priced over the threshold —
    # the q11 family, lint-caught; A/B in SCALE.md r16)
    "tpch_q2": 4,
    # r14: q7's cuts are scan-level isin() and names attach as a CASE
    # over the collected pair — zero hints anywhere
    "tpch_q7": 0,
    # nation's broadcast + the orders MERGE hint (the ANTI-broadcast
    # guard: the size-only estimator under-prices the 2-col orders
    # projection and statically broadcasts the scaling fact — 2.8x
    # slower at sf10 and driver-killing at sf100; ResolvedHint counts
    # every hint kind, so the guard costs a budget slot)
    "tpch_q9": 2,
    "tpch_q15": 1,  # the 1-row global max only; supplier AQE-decided
    # the vocab-bounded bucket dim is hinted at both of its references
    # (partkey->bid build + final attach); part cut and blacklist stay
    # AQE-decided
    "tpch_q16": 2,
    # r14b: q8's cuts are scan-level isin()/equality, both orderkey
    # inputs are join-derived (product-priced, no q9 trap) — zero hints
    "tpch_q8": 0,
    "tpch_q12": 0,  # orders projection prices over threshold — AQE-decided
    # r18: the single merge hint that pins the bucket-co-located SMJ
    # (ResolvedHint counts every hint kind); no broadcast hints
    "bucketed_join_agg": 1,
}


# Queries whose scale property is RUNTIME exchange reuse: a logical
# subtree referenced twice (detail + global threshold) must execute
# once. With AQE on, ReuseExchange is deferred to stage materialization,
# so the static formatted plan legitimately prints the subtree twice —
# the assertion has to run the query and read the executed plan.
RUNTIME_REUSE = {
    "tpch_q11": {"lineitem": 1},
    # q11's shape applied to argmax: per_supp feeds detail AND max
    "tpch_q15": {"lineitem": 1},
    # the bucket-dim broadcast is referenced twice (bid build + name
    # attach); byte-identical subtrees collapse to one executed scan
    # pair: 2 live part scans (cut + one bdim), never 3
    "tpch_q16": {"part": 2},
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("audit", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    bad = 0
    for name, scans in RUNTIME_REUSE.items():
        df = queries[name](spark, sf_dir)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        problems = []
        if "ReusedExchange" not in executed:
            problems.append("no ReusedExchange in executed plan")
        for tbl, max_n in scans.items():
            # executed-plan scans appear as FileScan lines; the reused
            # branch prints ReusedExchange instead of a second scan —
            # count distinct scan mentions OUTSIDE the "Initial Plan"
            # section AQE appends
            live = executed.split("+- == Initial Plan ==")[0]
            n = live.count(f"{tbl}.parquet")
            if n > max_n:
                problems.append(f"{tbl} executed {n} scans (max {max_n})")
        if problems:
            bad += 1
            print(f"BAD  {name}: {'; '.join(problems)}")
        else:
            print(f"OK   {name}: runtime exchange reuse holds")
    for name, budget in BROADCAST_HINT_BUDGET.items():
        df = queries[name](spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n_hints = analyzed.count("ResolvedHint")
        if n_hints > budget:
            bad += 1
            print(f"BAD  {name}: {n_hints} broadcast hints (budget {budget})")
        else:
            print(f"OK   {name}: broadcast hints={n_hints}/{budget}")
    # every FACT_SCAN_BUDGET query must be audited even when it has no
    # EXPECTATIONS row (tpch_q3/q5, dedup_apply) — the budget exists to
    # catch double-scan regressions, so it cannot depend on a second dict
    # happening to list the same name
    all_audited = dict(EXPECTATIONS)
    for name in FACT_SCAN_BUDGET:
        all_audited.setdefault(name, (10_000, [], []))
    for name, (max_ex, must, must_not) in all_audited.items():
        df = queries[name](spark, sf_dir)
        plan = plan_of(df)
        # count shuffle nodes once each: the "(N) Exchange" detail headers
        # (tree lines would double-count; BroadcastExchange is not a shuffle)
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        problems = []
        if n_ex > max_ex:
            problems.append(f"{n_ex} shuffles (max {max_ex})")
        for frag in must:
            if frag not in plan:
                problems.append(f"missing {frag!r}")
        for frag in must_not:
            if frag in plan:
                problems.append(f"unwanted {frag!r}")
        # count DISTINCT scan nodes, not textual Location hits: the
        # formatted plan prints one "(N) Scan parquet" detail block per
        # node, but AQE plan reuse (ReusedExchange/ReusedSubquery) or an
        # Initial Plan section can reprint the same node — dedupe by the
        # node id so a reprint is never flagged as a double-scan (r10
        # advice)
        scan_blocks = re.split(r"\n(?=\(\d+\) )", plan)
        for tbl, max_n in FACT_SCAN_BUDGET.get(name, {}).items():
            ids = set()
            for blk in scan_blocks:
                m = re.match(r"\((\d+)\) Scan parquet\b", blk)
                if m and re.search(rf"Location:.*[/\\]{tbl}\.parquet", blk):
                    ids.add(m.group(1))
            if len(ids) > max_n:
                problems.append(f"{tbl} scanned {len(ids)}x (max {max_n})")
        if problems:
            bad += 1
            print(f"BAD  {name}: {'; '.join(problems)}")
            if "-v" in sys.argv:
                print(plan)
        else:
            print(f"OK   {name}: shuffles={n_ex}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
