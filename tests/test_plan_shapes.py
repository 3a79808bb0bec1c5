"""Plan-shape regression guards: the r4-r6 plan work (exchange
elision, broadcast choices, single-pass rewrites, top-k pushdown) as
EXECUTABLE assertions, so a future edit that quietly re-adds a shuffle
or degrades a hash join to a nested loop fails in CI instead of in the
bench. Analysis-only — explainString plans the query but runs no jobs
(one documented exception: bpe_train is eager at build time — it runs
the word-count pass to pick its driver-local vs distributed path — so
any future llm_bpe_train plan guard executes a corpus pass at sf0.001).

Counts are asserted as upper bounds where Spark-version drift could
move them; the load-bearing facts (ONE shuffle in the cascade, ONE
semi join in the sweep, NO nested-loop in the blocklist) are exact."""

import re

import pytest


SF = "/root/testdata/sf0.001"


def _plan(spark, df, execute: bool = False) -> str:
    if execute:
        # shared-subtree reuse (ReusedExchange) and AQE's final shape only
        # appear in the executed plan; sf0.001 keeps the run trivial
        df.write.mode("overwrite").format("noop").save()
    return spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def _shuffles(plan: str) -> int:
    # shuffle exchanges only: exclude BroadcastExchange and ReusedExchange
    return len(re.findall(r"[+:]- Exchange ", plan))


def _broadcasts(plan: str) -> int:
    return len(re.findall(r"[+:]- BroadcastExchange", plan))


def _q(spark, name):
    import __spark_entry__ as E

    return E.queries()[name](spark, SF)


def test_cascade_rides_one_locator_shuffle(spark):
    """bf_rollup_cascade_60m: the whole 5m→60m ladder reuses the single
    locator repartition — the 1-vs-5-full-shuffles fact SCALING.md leads
    with."""
    plan = _plan(spark, _q(spark, "bf_rollup_cascade_60m"))
    assert _shuffles(plan) == 1, plan[:2000]


def test_timer_pct_ladder_shuffles_only_partials(spark):
    """bf_timer_pct_map_merge (r6, pre_partition=False): 2 pruned scans,
    ≤4 post-aggregation exchanges, the timer↔pct join is a broadcast —
    and NO raw-volume repartition (REPARTITION_BY_COL) anywhere."""
    plan = _plan(spark, _q(spark, "bf_timer_pct_map_merge"))
    assert "REPARTITION_BY_COL" not in plan, plan[:2000]
    assert _shuffles(plan) <= 4, plan[:2000]
    assert _broadcasts(plan) >= 1, plan[:2000]


def test_bigram_lm_uses_window_sums_not_model_joins(spark):
    """llm_bigram_lm_score (r6): corpus stats are unbounded window sums —
    ≤4 live shuffle exchanges in the EXECUTED plan (the per-doc frame's
    exchange is reused by the vocab branch) and NO SortMergeJoin (the
    model-relation shape had two)."""
    plan = _plan(spark, _q(spark, "llm_bigram_lm_score"), execute=True)
    live = _shuffles(plan) - len(re.findall(r"[+:]- ReusedExchange", plan))
    assert live <= 5, plan[:2500]
    assert "SortMergeJoin" not in plan, plan[:2500]
    assert plan.count("Window") >= 2, plan[:2500]


def test_nprobe_sweep_is_single_pass(spark):
    """llm_ann_nprobe_sweep (r6): ONE semi join against the exact arm
    (the 5-pipeline shape had four) and the rank window carries the
    top-k pushdown (WindowGroupLimit)."""
    plan = _plan(spark, _q(spark, "llm_ann_nprobe_sweep"))
    assert plan.count("LeftSemi") == 1, plan[:2000]
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_url_blocklist_stays_hash_join(spark):
    """llm_url_blocklist (r6): registrable-suffix matching must stay a
    broadcast HASH equi-join — an endswith OR-condition would degrade to
    BroadcastNestedLoopJoin and scan the blocklist per row."""
    plan = _plan(spark, _q(spark, "llm_url_blocklist"))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_kmv_pair_stage_reads_materialized_sketch(spark):
    """bf_kmv_overlap (r6): the pair stage must read the checkpointed
    sketch (Scan ExistingRDD), not re-derive the corpus-pass subtree per
    join input — the 6-corpus-scans regression."""
    plan = _plan(spark, _q(spark, "bf_kmv_overlap"))
    assert "Scan ExistingRDD" in plan, plan[:2000]
    # the exact-intersection report arm scans the source; the sketch
    # subtree appearing ≥4 more times would mean the checkpoint is gone
    assert plan.count("approx_count_distinct") <= 1, plan[:2000]


def test_kmv_sketch_is_one_collect_set_agg(spark):
    """bf_kmv_overlap (late r6): the sketch is a collect_set aggregation
    and the pair stage is array math — NO rank window anywhere (the
    distinct+row_number formulation this replaced), and the union/
    membership logic rides array expressions, not joins."""
    plan = _plan(spark, _q(spark, "bf_kmv_overlap"))
    assert "row_number" not in plan, plan[:2000]
    assert "array_intersect" in plan, plan[:2000]


def test_bpe_train_returns_local_merge_table(spark):
    """llm_bpe_train (late r6): training runs driver-local on the
    collected word-frequency table; the RETURNED frame is the merge
    table itself — no corpus explode/aggregate in its plan."""
    plan = _plan(spark, _q(spark, "llm_bpe_train"))
    assert "collect_set" not in plan and "explode" not in plan.lower(), plan[:2000]
    assert "parquet" not in plan.lower(), plan[:2000]


def test_triangles_carry_the_wedge_guard(spark):
    """llm_dup_triangles (r6): the executable wedge budget (raise_error
    on Σ outdeg²) must be present in the plan."""
    plan = _plan(spark, _q(spark, "llm_dup_triangles"))
    assert "raise_error" in plan, plan[:2000]


def test_flagship_scan_prunes_columns_and_pushes_filters(spark):
    """q01: the lineitem scan must read only the referenced columns and
    carry the date predicate as a pushed filter."""
    import __spark_entry__ as E

    df = E.queries()["q01_pricing_summary"](spark, SF)
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in plan and "IsNotNull" in plan or "LessThanOrEqual" in plan, plan[:2000]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 7, (m and m.group(1))


def test_units_enrichment_broadcasts_the_catalog(spark):
    """bf_units_enrichment (J1): the catalog side must broadcast — the
    fact side never shuffles for the join."""
    plan = _plan(spark, _q(spark, "bf_units_enrichment"))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_ivfpq_query_side_is_fused(spark):
    """llm_ann_ivfpq_topk (r7): the query side is ONE broadcast — probe
    list ids and ADC distance tables come out of a single projection
    over the filtered assignment frame. Executable facts: the ADC sum
    is element_at lookups inside a Project (not a post-join aggregate),
    exactly one Generate (the probe-list explode), no SortMergeJoin
    (everything joins broadcast-hash on list_id), and the rank window
    carries the top-k pushdown. The pre-fusion shape had a separate
    _pq_qtab groupBy (8 collect_list dtab aggregations keyed q_id) and
    an extra broadcast join gluing probes to tables."""
    plan = _plan(spark, _q(spark, "llm_ann_ivfpq_topk"))
    assert re.search(r"Project \[[^\n]*element_at\(dtab_0", plan), plan[:2500]
    assert plan.count("Generate") == 1, plan[:2500]
    assert "SortMergeJoin" not in plan, plan[:2500]
    assert "WindowGroupLimit" in plan, plan[:2500]
    assert plan.count("BroadcastExchange") <= 5, plan[:2500]


def test_histogram_quantile_is_one_aggregation(spark):
    """bf_histogram_quantile (r8 floor pass): ONE slot-level aggregation
    with array-expression bucket search — no crossJoin bounds fan-out,
    no window over bucket groups, no second aggregate. One shuffle; the
    r3 shape paid two aggregations + a window + a nested-loop
    crossJoin."""
    plan = _plan(spark, _q(spark, "bf_histogram_quantile"))
    assert _shuffles(plan) == 1, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:2000]


def test_series_frames_are_unsorted_single_job_scans(spark, request_jobs):
    """Serve path: series_frame/series_frame_full are plain pruned
    projections — no Sort, no shuffle Exchange (a global orderBy costs a
    range-bounds sampling job plus an exchange per request) — and one
    get_view request runs as exactly one Spark job; the time order is
    applied to the collected rows on the driver."""
    from pyspark.sql import functions as F

    from blueflood_spark.operators import granularity as G
    from blueflood_spark.plans import query_api as QA

    # spark.range, not a local relation: its scan runs as a real job
    raw = spark.range(600).select(
        F.lit("t1").alias("tenant_id"), F.lit("m").alias("metric_name"),
        (F.col("id") * 60_000).alias("ts"), F.col("id").cast("double").alias("value"),
    )
    rollups = spark.range(120).select(
        F.lit("t1").alias("tenant_id"), F.lit("m").alias("metric_name"),
        F.lit("5m").alias("resolution"), (F.col("id") * 300_000).alias("window_start"),
        F.lit(5).cast("long").alias("num_points"), F.col("id").cast("double").alias("avg"),
        F.col("id").cast("double").alias("sum"),
    )
    frames = [
        QA.series_frame(rollups, "t1", ["m"], G.MIN_5, 0, 36_000_000, []),
        QA.series_frame_full(raw, "t1", ["m"], 0, 36_000_000, []),
    ]
    for df in frames:
        plan = _plan(spark, df)
        assert _shuffles(plan) == 0, plan[:2000]
        assert " Sort [" not in plan, plan[:2000]

    jobs, resp = request_jobs(_one_view(rollups))
    assert (jobs, resp["metadata"]["count"]) == (1, 120)


def _one_view(rollups):
    """One get_view request over `rollups`: 120 five-minute points of t1/m."""
    from blueflood_spark.plans import query_api as QA

    params = QA.parse_params({"from": ["0"], "to": ["36000000"], "resolution": ["MIN5"]})
    return lambda: QA.get_view(rollups, "t1", "m", params)


@pytest.fixture()
def small_rollups_store(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "rollups")
    spark.range(120).select(
        F.lit("t1").alias("tenant_id"), F.lit("m").alias("metric_name"),
        F.lit("5m").alias("resolution"), (F.col("id") * 300_000).alias("window_start"),
        F.lit(5).cast("long").alias("num_points"), F.col("id").cast("double").alias("avg"),
        F.col("id").cast("double").alias("sum"),
    ).write.partitionBy("resolution").parquet(path)
    return path


def test_small_parquet_view_runs_no_spark_job(spark, small_rollups_store, request_jobs):
    """A get_view over a small plain parquet scan is read on the driver:
    the request launches no Spark job."""
    jobs, resp = request_jobs(_one_view(spark.read.parquet(small_rollups_store)))
    assert (jobs, resp["metadata"]["count"]) == (0, 120)


@pytest.mark.parametrize("shape", ["filtered", "unioned", "cached"])
def test_non_plain_parquet_view_runs_one_spark_job(spark, small_rollups_store, request_jobs, shape):
    """Filtered, unioned or cached parquet frames are not plain scans:
    their get_view still runs as exactly one Spark job."""
    df = spark.read.parquet(small_rollups_store)
    if shape == "filtered":
        df = df.filter("num_points > 0")
    elif shape == "unioned":
        df = df.filter("window_start < 18000000").union(df.filter("window_start >= 18000000"))
    else:
        df = df.cache()
        df.count()
    try:
        jobs, resp = request_jobs(_one_view(df))
        assert (jobs, resp["metadata"]["count"]) == (1, 120)
    finally:
        df.unpersist()


@pytest.fixture()
def small_serve_tables(spark, tmp_path):
    """{table: path} of a small events table and metric catalog."""
    from pyspark.sql import functions as F

    paths = {"events": str(tmp_path / "events"), "catalog": str(tmp_path / "catalog")}
    spark.range(200).select(
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("tenant_id"),
        (F.lit(1_700_000_000) + F.col("id") * 600).alias("when"),
        F.concat(F.lit("event "), F.col("id").cast("string")).alias("what"),
        F.lit("payload").alias("data"), F.lit("deploy").alias("tags"),
    ).write.parquet(paths["events"])
    spark.range(200).select(
        F.lit("t1").alias("tenant_id"),
        F.format_string("svc%d.host%02d.cpu", F.col("id") % 4, F.col("id") % 50).alias("metric_name"),
        F.lit("percent").alias("unit"),
    ).write.parquet(paths["catalog"])
    return paths


def _serve_calls(events, catalog) -> dict:
    """The frame-returning serve endpoints, one request each."""
    from datetime import datetime

    from blueflood_spark import catalog as C
    from blueflood_spark.plans import events_api as EA

    now = datetime(2023, 11, 15)
    return {
        "events": lambda: EA.get_events(events, "t1", "1699000000", "now", "deploy", now=now),
        "search": lambda: C.search_metrics(catalog, "t1", "svc1.*"),
        "names": lambda: C.search_metric_names(catalog, "t1", "svc2.*"),
    }


def _collected(call):
    """A frame-returning request as its caller makes it: the endpoint
    call, then collect(). Returns (optimized plan class, rows)."""
    def run():
        df = call()
        return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName(), df.collect()

    return run


@pytest.mark.parametrize("kind", ["events", "search", "names"])
def test_small_parquet_events_and_search_run_no_spark_job(spark, small_serve_tables, request_jobs, kind):
    """get_events, search_metrics and search_metric_names over small plain
    parquet tables return a LocalRelation read on the driver: the request
    launches no Spark job."""
    events = spark.read.parquet(small_serve_tables["events"])
    catalog = spark.read.parquet(small_serve_tables["catalog"])
    jobs, (plan, rows) = request_jobs(_collected(_serve_calls(events, catalog)[kind]))
    assert (jobs, plan) == (0, "LocalRelation")
    assert rows


@pytest.mark.parametrize("kind", ["events", "search", "names"])
def test_filtered_events_and_search_run_spark_jobs(spark, small_serve_tables, request_jobs, kind):
    """Over a filtered frame (not a plain scan) the same requests keep
    their Spark plan and run at least one job."""
    events = spark.read.parquet(small_serve_tables["events"]).filter("what != ''")
    catalog = spark.read.parquet(small_serve_tables["catalog"]).filter("unit != ''")
    jobs, (plan, rows) = request_jobs(_collected(_serve_calls(events, catalog)[kind]))
    assert jobs >= 1 and plan != "LocalRelation"
    assert rows


def test_pagerank_runs_as_one_job_with_lazy_marks(spark):
    """llm_dup_pagerank (r8): every checkpoint mark lands in the AQE-off
    loop-session clone, so plan CONSTRUCTION launches no jobs (under
    AQE the marks executed their subtrees eagerly — 29 driver-scheduled
    jobs per query), and the caller's first action executes the whole
    chain. Also guards the loop-session contract itself: building the
    query never flips the caller's AQE."""
    import __spark_entry__ as E

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    tracker = spark.sparkContext.statusTracker()

    def njobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    E._t(spark, SF, "documents")  # parquet footer read launches its own job
    before = njobs()
    df = E.queries()["llm_dup_pagerank"](spark, SF)
    # ≤3: each mark's physical compile kicks its broadcast-exchange
    # futures (BroadcastExchangeExec starts materializing at prepare
    # time — small async collect jobs, NOT subtree executions; the
    # eager-mark regression this guards against was 29 jobs)
    assert njobs() - before <= 3, "plan construction executed mark subtrees eagerly"
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    df.write.mode("overwrite").format("noop").save()
    # ≤10: with the result correctly re-homed to the CALLER (r9 ADVICE —
    # it was pinned to the AQE-off clone before, which executed the
    # whole chain as literally one job), the caller's AQE runs one job
    # per materialized query stage: ~8 for 5 rounds at bench SF. That
    # is normal AQE execution, not fragmentation; the regression this
    # line guards is the 29-job eager-mark class, with headroom kept
    # tight enough to catch it.
    assert njobs() - before <= 10, "rank chain fragmented into many jobs"
