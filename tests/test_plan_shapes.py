"""Plan-shape regression tests: the physical plans that make these
operators scale must not silently regress (SURVEY §4 — pushdown,
pruning, broadcast, codegen are the 100 TB contract)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_listfile_filter_pushes_predicates(spark):
    df = entry.queries()["listfile_filter"](spark, SF)
    plan = _plan(df)
    # n_chars >= 50 must reach the parquet scan
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "GreaterThanOrEqual(n_chars,50)" in pushed


def test_token_stats_prunes_columns(spark):
    df = entry.queries()["token_fingerprint"](spark, SF)
    plan = _plan(df)
    schema = plan.split("ReadSchema")[1][:200]
    assert "text" in schema and "doc_id" in schema
    # untouched wide columns must NOT be read
    assert "n_chars" not in schema and "source" not in schema


def test_join_revenue_broadcasts_dimension(spark):
    df = entry.queries()["sql_join_revenue"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_extraction_whole_stage_codegen_everywhere_relational(spark):
    df = entry.queries()["lang_quality"](spark, SF)
    plan = _plan(df)
    # zero-UDF text analysis: no Python eval nodes in the plan
    # (the scoring Project uses higher-order lambdas, which stay JVM
    # interpreted; the scan itself is codegen'd, marked "*(n)")
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan


def test_dedup_exact_shuffles_hashes_not_text(spark):
    """The exact-dedup shuffle payload is (fingerprint, doc_id) — the
    document text must not appear in any Exchange."""
    from nifi_extracttext_processor_spark.operators.dedup import (
        dedup_exact,
    )
    from nifi_extracttext_processor_spark.sources.tables import load_table
    d = load_table(spark, SF, "documents")
    keep_plan = _plan(
        dedup_exact(d).groupBy().count())  # force full plan build
    # the aggregate exchange carries fingerprint, never text
    for line in keep_plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_bucketed_join_is_exchange_free(spark):
    """Both sides bucketed on the key → sort-merge join with NO
    Exchange (the co-located-join contract at 100 TB)."""
    from nifi_extracttext_processor_spark.operators.bucketing import (
        bucketed_join, write_bucketed,
    )
    docs = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "concat('t', id) AS text")
    scores = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "id % 100 AS score")
    write_bucketed(docs, "b_docs", "doc_id", n_buckets=8)
    write_bucketed(scores, "b_scores", "doc_id", n_buckets=8)
    # force the shuffle-join path (tiny test tables would broadcast,
    # which bypasses bucketing entirely)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_docs", "b_scores", "doc_id")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan
        assert plan.count("SelectedBucketsCount") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_scores")


def test_top_domains_is_takeordered_no_udf(spark):
    """Corpus top-k must be TakeOrdered (no global sort) and pure
    Catalyst (no Python eval in the plan)."""
    df = entry.queries()["top_domains"](spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_gopher_flags_narrow_zero_shuffle(spark):
    """The Gopher rule battery is one narrow projection: no Exchange at
    all in the plan, no Python eval."""
    df = entry.queries()["gopher_flags"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_knn_recall_band_exchanges_carry_no_vectors(spark):
    """knn_recall inherits candidates-first: no Exchange partitioned by
    band keys may carry an embedding array."""
    df = entry.queries()["knn_recall"](spark, SF)
    plan = _plan(df)
    for line in plan.splitlines():
        if "Exchange hashpartitioning(band_id" in line:
            assert "qv" not in line and "cv" not in line


def test_kmeans_assignment_is_exchange_free(spark):
    """The per-iteration k-means assignment is a broadcast-literal
    projection: NO shuffle, NO join — the 100 TB contract is that only
    the (cluster, pos) partial-mean agg ever exchanges data."""
    from nifi_extracttext_processor_spark.operators.clustering import (
        _assign,
    )
    from pyspark.sql import functions as F
    v = (spark.read.parquet(f"{SF}/embeddings.parquet")
         .select(F.col("vec_id").alias("_id"),
                 F.col("embedding").cast("array<double>").alias("v")))
    plan = _plan(_assign(v, [[0.1] * 64, [0.2] * 64]))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_semantic_dedup_pair_join_copartitioned_on_cluster(spark):
    """semantic_dedup's quadratic stage must run per-cluster: the
    pairwise join keys on the cluster id (SortMergeJoin/ShuffledHashJoin
    on cluster, or a broadcast at test scale), never a cartesian
    product over the corpus."""
    from nifi_extracttext_processor_spark.operators.clustering import (
        semantic_dedup,
    )
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(semantic_dedup(df, k=4, iters=1, threshold=0.4))
    assert "CartesianProduct" not in plan
    assert "cluster" in plan


def test_hashed_tf_no_udf_mapside_agg(spark):
    """hashed_tf_embedding stays Catalyst-native: no Python UDF /
    Arrow eval in the plan, and the (id, bucket) count partial-
    aggregates (HashAggregate before the exchange)."""
    from nifi_extracttext_processor_spark.operators.text_analysis import (
        hashed_tf_embedding,
    )
    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(hashed_tf_embedding(df, dim=16))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


class TestSpreadGuard:
    """_spread (operators/dedup.py) must widen narrow file scans but
    NOT re-shuffle frames that are already at shuffle width (the r8
    semantic_dedup_k256 regression)."""

    def test_file_scan_still_spreads(self, spark, tmp_path):
        from nifi_extracttext_processor_spark.operators.dedup import (
            _spread,
        )
        p = str(tmp_path / "one")
        spark.range(100).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        plan = _plan(_spread(df))
        assert "Exchange RoundRobinPartitioning" in plan

    def test_shuffle_derived_not_respread(self, spark, tmp_path):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from nifi_extracttext_processor_spark.operators.dedup import (
            _spread,
        )
        p = str(tmp_path / "two")
        spark.range(100).withColumn("k", F.col("id") % 5) \
            .coalesce(1).write.parquet(p)
        base = spark.read.parquet(p)
        for derived in (
            base.groupBy("k").agg(F.count("*").alias("n")),
            base.repartition(8, "k"),
            base.join(base.select("id"), "id"),
            base.withColumn("r", F.row_number().over(
                Window.partitionBy("k").orderBy("id"))),
            base.dropDuplicates(["k"]),
            base.orderBy("k"),
        ):
            plan = _plan(_spread(derived))
            assert "RoundRobinPartitioning" not in plan

    def test_wide_sounding_column_name_still_spreads(self, spark):
        """Plan structure decides, not plan text: a narrow frame with a
        column named after a wide node is spread."""
        from nifi_extracttext_processor_spark.operators.dedup import (
            _spread,
        )
        df = spark.range(10).withColumnRenamed("id", "Window")
        plan = _plan(_spread(df))
        assert "RoundRobinPartitioning" in plan

    def test_already_wide_flag(self, spark, tmp_path):
        from nifi_extracttext_processor_spark.operators.dedup import (
            _spread,
        )
        p = str(tmp_path / "three")
        spark.range(10).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        assert _spread(df, already_wide=True) is df

    def test_local_relation_still_spreads(self, spark):
        from nifi_extracttext_processor_spark.operators.dedup import (
            _spread,
        )
        df = spark.createDataFrame([(i,) for i in range(20)], "id long")
        plan = _plan(_spread(df))
        assert "RoundRobinPartitioning" in plan


def test_r13_stat_operators_stay_jvm_side(spark):
    """Every r13 statistical operator is pure Catalyst: no Python
    eval node of any kind may appear in the executed plan (the
    100 TB whole-stage-codegen contract)."""
    for name in ("ab_ca_trend", "events_pettitt", "eval_roc_auc",
                 "corr_spearman_events", "ab_wilcoxon_signed",
                 "ab_brown_forsythe", "events_nelson_aalen",
                 "events_km_rmst"):
        plan = _plan(entry.queries()[name](spark, SF))
        assert "PythonUDF" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_roc_auc_shuffles_distinct_scores_not_rows(spark):
    """roc_auc's first exchange carries the distinct-score collapse:
    the pre-aggregate (partial_count / partial_sum) must sit BELOW
    the first Exchange so the shuffle payload is one row per
    (group, score), never per event."""
    plan = _plan(entry.queries()["eval_roc_auc"](spark, SF))
    first_exchange = plan.index("Exchange")
    partial = plan.index("partial_")
    assert partial < first_exchange, (
        "no map-side partial aggregation before the first shuffle")


def test_pettitt_collapses_to_days_before_windows(spark):
    """pettitt's windows must run over the DAY-collapsed table, not
    raw events: the plan reads only the three needed columns
    (pruning), map-side-combines the daily sum (partial_sum below
    the first exchange), and partitions every Window by the group
    keys (no SinglePartition global window over events)."""
    plan = _plan(entry.queries()["events_pettitt"](spark, SF))
    assert "Window" in plan
    schema = plan.split("ReadSchema")[1][:200]
    assert "ts" in schema and "value" in schema \
        and "event_type" in schema
    assert "user_id" not in schema and "event_id" not in schema
    assert plan.index("partial_sum") > plan.index("Exchange"), (
        "top-down plan must place the partial day-sum BELOW "
        "(deeper than) the first exchange - map-side combine")
    assert "SinglePartition" not in plan


def test_r14_operators_stay_jvm_side(spark):
    """Every r14 operator row is pure Catalyst — no Python eval node
    of any kind in the executed plan, and no cartesian product."""
    for name in ("events_km_greenwood", "events_competing_risks",
                 "events_cusum", "eval_brier_decomposition",
                 "zipf_fit_by_lang", "survival_report",
                 "experiment_report", "ab_kruskal_wallis",
                 "events_seasonal_decompose", "ab_mood_median",
                 "events_durbin_watson", "events_runs_test"):
        plan = _plan(entry.queries()[name](spark, SF))
        assert "PythonUDF" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_quantization_guard_counts_before_the_window(spark):
    """The guard's count aggregate must sit BELOW the ordered window
    in the plan (it gates the collapse the window consumes), and the
    gated roc_auc plan keeps its map-side partial aggregation."""
    plan = _plan(entry.queries()["eval_roc_auc"](spark, SF))
    assert "raise_error" in plan.lower() \
        or "assert_true" in plan.lower(), \
        "the guard's assert_true/raise_error node was pruned"
    # the guard join's count must be computed before (deeper than)
    # the Window operator consumes the collapse
    assert plan.index("Window") < plan.index("count(1)"), (
        "top-down plan must place the guard count BELOW the window")


def test_cusum_collapses_to_days_before_windows(spark):
    """cusum runs its windows over the DAY-collapsed table (the
    pettitt discipline): pruned ReadSchema, partial day-sum below
    the first exchange, no SinglePartition window."""
    plan = _plan(entry.queries()["events_cusum"](spark, SF))
    schema = plan.split("ReadSchema")[1][:200]
    assert "ts" in schema and "value" in schema \
        and "event_type" in schema
    assert "user_id" not in schema
    assert plan.index("partial_sum") > plan.index("Exchange")
    assert "SinglePartition" not in plan


def test_survival_report_reuses_persisted_state(spark):
    """share_state=True must surface as InMemoryTableScan nodes in
    the composed plan (the durations frame + km_counts collapse are
    computed once, not once per section)."""
    plan = _plan(entry.queries()["survival_report"](spark, SF))
    assert "InMemoryTableScan" in plan
    from nifi_extracttext_processor_spark.operators import lifecycle
    lifecycle.release_all(blocking=True)


def test_zipf_shuffles_distinct_terms_not_tokens(spark):
    """zipf_fit's deepest exchange carries (group, term, partial
    count) — the token explosion must partial-aggregate map-side —
    and the rank<=top_k filter must push into a WindowGroupLimit
    (per-partition top-k before the shuffle, not a full sort)."""
    plan = _plan(entry.queries()["zipf_fit_by_lang"](spark, SF))
    # deepest (last) partial_count sits below the deepest exchange
    assert plan.rindex("partial_count") > plan.rindex("Exchange")
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan
