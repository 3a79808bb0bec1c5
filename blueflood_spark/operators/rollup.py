"""Rollup aggregations (SURVEY §2.3 A1-A7) — the heart of the engine.

Every rollup is an algebraic, mergeable aggregate per
(tenant_id, metric_name, resolution, window): exactly Spark's
partial/final aggregation model, expressed as `groupBy(window).agg(...)`
with built-in JVM-side functions — no UDFs in the hot path, so the whole
cascade stays inside WholeStageCodegen and map-side partial aggregation.

Semantics re-expressed from the reference:
- BasicRollup from raw: count/avg/var_pop/min/max/sum
  (/root/reference/blueflood-core/.../types/BasicRollup.java:63-106,
  BaseRollup.java:131-149, Variance.java:67-76 — Welford ≡ Spark's
  numerically-stable var_pop partials).
- Basic merge (finer→coarser): counts/sums add, count-weighted mean, pooled
  population variance (BasicRollup.java:79-99, Variance.java:90-145). We
  carry exact raw moments (n, Σx, Σx²) through every level — plain sums
  that both engines (and any re-ordering of partials) compute bit-
  identically — and derive avg = Σx/n, var = max(0, Σx²/n − avg²) at each
  output. This is deterministic across engines and merge orders, unlike
  recomposing E[x²] from child (avg, var) pairs, whose catastrophic
  cancellation made merged variance differ in the last ulps between
  engines (round-1 driver hash failure on bf_basic_merge_20m). The
  greatest(0, ·) guard mirrors the reference's two-pass form being ≥ 0.
- Counter: count=Σvalue, rate=count/(maxTs-minTs), sampleCount=n
  (BluefloodCounterRollup.java:86-99); merge adds counts and combines rates
  harmonically rate=Σcount/Σ(countᵢ/rateᵢ) with safeDiv semantics
  (BluefloodCounterRollup.java:101-115). Divergence: reference yields
  Infinity for a single-sample counter (divide by zero); we define
  safe_div→0 throughout.
- Timer merge: sum/count/sampleCount add; min/max/avg/var as basic merge;
  harmonic rate; percentile merge = UNWEIGHTED mean of child means per
  label (deliberately not count-weighted —
  BluefloodTimerRollup.java:211-256, rate :227-229, percentiles :241-254).
- Gauge: basic stats + latest = value at max timestamp
  (BluefloodGaugeRollup.java:64-96) — `max(struct(ts, value))` so ties
  break deterministically on value.
- Set: distinct count of member hashes (BluefloodSetRollup.java:30-43);
  we expose exact `countDistinct` (gate) and `approx_count_distinct`
  (the 100 TB path — HLL sketch, constant memory per group).

The full→5m→20m→60m→240m→1440m ladder (RollupRunnable.java:103-115,
Range.getRangesToRollup) is `cascade()`: each level merges the previous
level's output, so the expensive raw scan happens exactly once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blueflood_spark.functions.hashing import safe_div
from blueflood_spark.operators import granularity as G

KEYS = ("tenant_id", "metric_name")


def window_start(ts_ms: Column, gran: G.Granularity) -> Column:
    """Snap an epoch-ms column to the granularity window start
    (Granularity.snapMillis, Granularity.java:130-133)."""
    ms = gran.milliseconds
    return (F.floor(ts_ms / ms) * ms).cast("long")


def _grouped(df: DataFrame, gran: G.Granularity, ts_col: str, keys: Sequence[str]):
    return df.withColumn("window_start", window_start(F.col(ts_col), gran)).groupBy(
        *keys, "window_start"
    )


def _basic_moments(v: Column) -> list[Column]:
    """The basic rollup's 7 aggregates of a raw value column (A1, see
    basic_from_raw), in sink order."""
    return [
        F.count(v).alias("num_points"),
        F.avg(v).alias("avg"),
        F.var_pop(v).alias("var_pop"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sum_sq"),
    ]


def _merged_moments() -> list[Column]:
    """The same 7 aggregates merged from finer rollups (A2, see
    basic_merge): three plain sums plus two divisions at output."""
    total_n = F.sum("num_points")
    sx = F.sum("sum")
    sxx = F.sum("sum_sq")
    avg = safe_div(sx, total_n)
    return [
        total_n.alias("num_points"),
        avg.alias("avg"),
        F.greatest(F.lit(0.0), safe_div(sxx, total_n) - avg * avg).alias("var_pop"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        sx.alias("sum"),
        sxx.alias("sum_sq"),
    ]


def basic_from_raw(
    df: DataFrame,
    gran: G.Granularity,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A1 BasicFromRaw: one windowed aggregation, all built-ins.

    Also emits sum_sq = Σx² so coarser merges (A2) can pool variance from
    exact moments instead of recomposing E[x²] from (avg, var) children.
    """
    return (
        _grouped(df, gran, ts_col, keys)
        .agg(*_basic_moments(F.col(value_col)))
        .withColumn("resolution", F.lit(gran.name))
    )


def basic_merge(
    partials: DataFrame,
    gran: G.Granularity,
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A2 BasicFromBasic: merge finer rollups into coarser windows.

    Moments form (BasicRollup.java:79-99, Variance.java:90-145): children
    carry exact (n, Σx, Σx²); the merge is three plain sums plus two
    divisions at output — deterministic across engines and merge orders.
      avg = Σx / N ;  var = max(0, Σx² / N − avg²)
    Count-weighted mean Σnᵢavgᵢ/N equals Σx/N exactly when avgᵢ = Σxᵢ/nᵢ.
    """
    return (
        _grouped(partials, gran, "window_start", keys)
        .agg(*_merged_moments())
        .withColumn("resolution", F.lit(gran.name))
    )


def cascade(
    raw: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = KEYS,
    grans: Sequence[G.Granularity] = tuple(G.ROLLUP_GRANULARITIES),
    pre_partition: bool = True,
) -> dict[str, DataFrame]:
    """T5 rollup cascade: 5m from raw, each coarser level from the finer
    one (child-before-parent, RollupRunnable.java:74-135). Returns one
    DataFrame per resolution; `union_cascade` stacks them.

    Shuffle strategy: every level groups by (locator, window) where each
    coarser window is a pure function of the finer one, so hash-
    partitioning by locator alone satisfies every level's clustering
    requirement. pre_partition=True shuffles ONCE up front and Catalyst
    elides the per-level exchanges — 1 shuffle for the whole ladder
    instead of len(grans). (Tradeoff: parallelism is bounded by distinct
    locators — exactly the reference's shard-per-locator model; at
    metric cardinalities worth rolling up this is never the constraint.)
    """
    out: dict[str, DataFrame] = {}
    if pre_partition:
        raw = raw.repartition(*[F.col(k) for k in keys])
    finest = grans[0]
    level = basic_from_raw(raw, finest, ts_col, value_col, keys)
    out[finest.name] = level
    for gran in grans[1:]:
        level = basic_merge(level, gran, keys)
        out[gran.name] = level
    return out


def union_cascade(levels: dict[str, DataFrame]) -> DataFrame:
    dfs = list(levels.values())
    result = dfs[0]
    for df in dfs[1:]:
        result = result.unionByName(df)
    return result


def counter_from_raw(
    df: DataFrame,
    gran: G.Granularity,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A4 CounterFromRaw (BluefloodCounterRollup.java:86-99); rate uses
    safe_div (0 for a single sample) instead of the reference's Infinity."""
    v = F.col(value_col)
    ts = F.col(ts_col)
    return (
        _grouped(df, gran, ts_col, keys)
        .agg(
            F.sum(v).alias("count"),
            safe_div(F.sum(v), (F.max(ts) - F.min(ts)).cast("double")).alias("rate"),
            F.count(v).alias("sample_count"),
        )
        .withColumn("resolution", F.lit(gran.name))
    )


def counter_merge(
    partials: DataFrame,
    gran: G.Granularity,
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A5 CounterFromCounter: counts add; rate = Σcount / Σ(countᵢ/rateᵢ)
    (BluefloodCounterRollup.java:101-115)."""
    cnt = F.col("count")
    return (
        _grouped(partials, gran, "window_start", keys)
        .agg(
            F.sum(cnt).alias("count"),
            safe_div(F.sum(cnt), F.sum(safe_div(cnt, F.col("rate")))).alias("rate"),
            F.sum("sample_count").alias("sample_count"),
        )
        .withColumn("resolution", F.lit(gran.name))
    )


def gauge_from_raw(
    df: DataFrame,
    gran: G.Granularity,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A6 Gauge: basic stats + latest value by timestamp
    (BluefloodGaugeRollup.java:64-96). max(struct) keeps ts+value aligned
    and makes timestamp ties deterministic (larger value wins)."""
    v = F.col(value_col)
    ts = F.col(ts_col)
    latest = F.max(F.struct(ts.alias("ts"), v.alias("value")))
    return (
        _grouped(df, gran, ts_col, keys)
        .agg(*_basic_moments(v), latest.alias("_latest"))
        .select(
            *keys,
            "window_start",
            "num_points",
            "avg",
            "var_pop",
            "min",
            "max",
            "sum",
            "sum_sq",
            F.col("_latest.ts").alias("latest_ts"),
            F.col("_latest.value").alias("latest_value"),
        )
        .withColumn("resolution", F.lit(gran.name))
    )


def set_from_raw(
    df: DataFrame,
    gran: G.Granularity,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = KEYS,
    approximate: bool = False,
) -> DataFrame:
    """A7 Set rollup: distinct member count (BluefloodSetRollup.java:30-43,
    68-70 — union of member hash codes). Exact mode shuffles distinct
    values; approximate mode is the 100 TB path (HLL, fixed memory)."""
    v = F.col(value_col)
    agg = (
        F.approx_count_distinct(v).alias("distinct_count")
        if approximate
        else F.countDistinct(v).alias("distinct_count")
    )
    return (
        _grouped(df, gran, ts_col, keys)
        .agg(agg)
        .withColumn("resolution", F.lit(gran.name))
    )


def timer_merge(
    partials: DataFrame,
    gran: G.Granularity,
    keys: Sequence[str] = KEYS,
    percentile_labels: Sequence[str] = (),
) -> DataFrame:
    """A3 TimerFromTimer merge (BluefloodTimerRollup.java:211-256).

    Input columns: window_start, count, sum, sum_sq, rate, sample_count,
    min, max, avg, var_pop, and optionally pct_<label> child percentile
    means. avg/var merge from exact moments (see basic_merge — same
    determinism argument). Percentile merge is the reference's deliberate
    UNWEIGHTED mean of child means (BluefloodTimerRollup.java:241-254) —
    F.avg, not count-weighted.
    """
    cnt = F.col("count")
    total = F.sum(cnt)
    sx = F.sum("sum")
    sxx = F.sum("sum_sq")
    avg = safe_div(sx, total)
    aggs = [
        total.alias("count"),
        sx.alias("sum"),
        sxx.alias("sum_sq"),
        safe_div(F.sum(cnt), F.sum(safe_div(cnt, F.col("rate")))).alias("rate"),
        F.sum("sample_count").alias("sample_count"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        avg.alias("avg"),
        F.greatest(F.lit(0.0), safe_div(sxx, total) - avg * avg).alias("var_pop"),
    ]
    for label in percentile_labels:
        aggs.append(F.avg(F.col(f"pct_{label}")).alias(f"pct_{label}"))
    return (
        _grouped(partials, gran, "window_start", keys)
        .agg(*aggs)
        .withColumn("resolution", F.lit(gran.name))
    )


def basic_from_raw_salted(
    df: DataFrame,
    gran: G.Granularity,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = KEYS,
    salt_buckets: int = 16,
) -> DataFrame:
    """A1 with skew salting: two-phase aggregation for hot locators.

    At 100 TB a handful of locators can dominate a shard (the reference
    has the same problem spread across its 128 shards). Phase 1 groups by
    (keys, window, salt) — map-side partials spread a hot key over
    `salt_buckets` reducers; phase 2 merges the per-salt partials with the
    exact pooled formulas (A2). Results are identical to basic_from_raw
    because every statistic here is algebraic.

    (AQE's skew-join handling doesn't cover aggregations, so this is the
    explicit fallback when one group overwhelms a task.)
    """
    salted = df.withColumn("window_start", window_start(F.col(ts_col), gran)).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(ts_col)), F.lit(salt_buckets))
    )
    partials = salted.groupBy(*keys, "window_start", "_salt").agg(
        *_basic_moments(F.col(value_col))
    )
    return basic_merge(partials.drop("_salt"), gran, keys)


def gauge_merge(
    partials: DataFrame,
    gran: G.Granularity,
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A6 GaugeFromGauge: basic-stat merge (exact moments, see basic_merge)
    + latest carried as the max (ts, value) struct across children
    (BluefloodGaugeRollup.java:64-96)."""
    return (
        _grouped(partials, gran, "window_start", keys)
        .agg(
            *_merged_moments(),
            F.max(F.struct(F.col("latest_ts").alias("ts"), F.col("latest_value").alias("value"))).alias(
                "_latest"
            ),
        )
        .select(
            *keys,
            "window_start",
            "num_points",
            "avg",
            "var_pop",
            "min",
            "max",
            "sum",
            "sum_sq",
            F.col("_latest.ts").alias("latest_ts"),
            F.col("_latest.value").alias("latest_value"),
        )
        .withColumn("resolution", F.lit(gran.name))
    )


def set_merge_from_values(
    preagg: DataFrame,
    gran: G.Granularity,
    keys: Sequence[str] = KEYS,
    values_col: str = "set_values",
) -> DataFrame:
    """A7 SetFromSet over preaggregated member arrays: union of members
    across windows → distinct count (BluefloodSetRollup.java:30-43, 68-70
    unions member hash codes; we count distinct members directly).
    Explode + countDistinct keeps partial aggregation map-side."""
    exploded = preagg.withColumn("window_start", window_start(F.col("window_start"), gran)).select(
        *keys, "window_start", F.explode_outer(F.col(values_col)).alias("member")
    )
    return (
        exploded.groupBy(*keys, "window_start")
        .agg(F.countDistinct("member").alias("distinct_count"))
        .withColumn("resolution", F.lit(gran.name))
    )


def preagg_to_finest(
    preagg: DataFrame,
    gran: G.Granularity = G.MIN_5,
    families: Sequence[str] = ("counter", "gauge", "timer", "set"),
) -> dict[str, DataFrame]:
    """Normalize PREAGG_METRICS rows (sources/ingest.normalize_aggregated
    output) into finest-level per-family rollup partials — the
    metrics_preaggregated_full equivalent (CassandraModel.java:68-80).

    Each arriving preagg sample IS already a rollup; this snaps it to the
    finest window and shapes columns so the merge functions can cascade it.

    Accepts rows with the declared PREAGG_METRICS schema directly: the
    derived counter sample_count column (normalize_aggregated's
    augmentation) is recomputed here from rate × flush interval when the
    input doesn't carry it, so storage-round-tripped rows work too.
    """
    if "sample_count" not in preagg.columns:
        preagg = preagg.withColumn(
            "sample_count",
            F.when(
                (F.col("rollup_type") == "counter") & (F.col("flush_interval_ms") > 0),
                (F.col("counter_rate") * F.col("flush_interval_ms") / 1000.0).cast("long"),
            ).when(F.col("rollup_type") == "counter", F.lit(1).cast("long")),
        )
    ws = window_start(F.col("ts"), gran)
    builders = {
        "counter": lambda: preagg.filter(F.col("rollup_type") == "counter")
        .select(
            "tenant_id",
            "metric_name",
            ws.alias("window_start"),
            F.col("counter_value").alias("count"),
            F.col("counter_rate").alias("rate"),
            F.coalesce(F.col("sample_count"), F.lit(1)).alias("sample_count"),
        ),
        "gauge": lambda: preagg.filter(F.col("rollup_type") == "gauge")
        .select(
            "tenant_id",
            "metric_name",
            ws.alias("window_start"),
            F.lit(1).cast("long").alias("num_points"),
            F.col("gauge_value").alias("avg"),
            F.lit(0.0).alias("var_pop"),
            F.col("gauge_value").alias("min"),
            F.col("gauge_value").alias("max"),
            F.col("gauge_value").alias("sum"),
            (F.col("gauge_value") * F.col("gauge_value")).alias("sum_sq"),
            F.col("ts").alias("latest_ts"),
            F.col("gauge_value").alias("latest_value"),
        ),
        "timer": lambda: preagg.filter(F.col("rollup_type") == "timer")
        .select(
            "tenant_id",
            "metric_name",
            ws.alias("window_start"),
            F.col("timer_count").alias("count"),
            F.col("timer_sum").alias("sum"),
            # Recompose Σx² = n·(σ² + μ²) once at ingestion (the preagg
            # sample arrives as (avg, std), not raw moments); every merge
            # after this point is an exact sum.
            (
                F.col("timer_count")
                * (F.col("timer_std") * F.col("timer_std") + F.col("timer_avg") * F.col("timer_avg"))
            ).alias("sum_sq"),
            F.col("timer_rate").alias("rate"),
            F.lit(1).cast("long").alias("sample_count"),
            F.col("timer_min").alias("min"),
            F.col("timer_max").alias("max"),
            F.col("timer_avg").alias("avg"),
            (F.col("timer_std") * F.col("timer_std")).alias("var_pop"),
            F.col("timer_percentiles").alias("percentiles"),
        ),
        "set": lambda: preagg.filter(F.col("rollup_type") == "set").select(
            "tenant_id", "metric_name", ws.alias("window_start"), F.col("set_values")
        ),
    }
    return {fam: builders[fam]() for fam in families}


def preagg_cascade(
    preagg: DataFrame,
    grans: Sequence[G.Granularity] = tuple(G.ROLLUP_GRANULARITIES),
    pre_partition: bool = True,
    families: Sequence[str] = ("counter", "gauge", "timer", "set"),
    emit_levels: Sequence[str] | None = None,
    pct_shape: str = "map",
    materialize: bool = False,
) -> dict[str, dict[str, DataFrame]]:
    """The preaggregated rollup ladder (metrics_preaggregated_5m …
    _1440m): per family, finest partials merged level by level with the
    family's merge semantics (RollupRunnable.java:162-178 computer
    dispatch). Returns {family: {resolution: DataFrame}}.

    Shuffle strategy mirrors `cascade`: hash-partitioning by locator
    alone satisfies every downstream clustering requirement — each
    level's (locator, window) groupBy, the percentile-map per-label
    groupBy (locator ⊂ locator+window+label), and the timer↔pct join —
    so pre_partition=True shuffles ONCE and Catalyst elides every other
    exchange in the ladder across all four families.

    emit_levels limits which resolutions get OUTPUT plan trees (internal
    chaining still passes through every level): DataFrame construction
    is Catalyst analysis, and a 20m-only consumer should not pay the 5m
    map-reassembly-and-join subtree it never reads. pct_shape="exploded"
    emits the timer family's percentiles as (pct_label, pct_mean) rows
    via an inner join instead of reassembling the map — identical rows
    to exploding the map column downstream (explode drops no-label
    windows; so does the inner join), minus one collect_list/explode
    round-trip per level.

    materialize=True localCheckpoints the (pruned, pre-partitioned)
    finest frame so multi-family consumers scan the source ONCE.
    TRADEOFF (measured r5): localCheckpoint DISCARDS the repartition's
    outputPartitioning — `Scan ExistingRDD` reports unknown
    partitioning, so every aggregation above the checkpoint re-adds an
    ENSURE_REQUIREMENTS exchange (aggregated-size, map-side combined,
    but an exchange per level per branch). Un-materialized, Catalyst's
    column pruning pushes a different projection below the repartition
    per branch (so each branch pays its own raw-sized pruned shuffle),
    but every level of the ladder above rides that one exchange
    shuffle-free. For ≤2 branches the un-materialized shape wins
    (bf_timer_pct_map_merge: 5→3 exchanges, 1.4→1.0s at sf0.1); prefer
    materialize=True only when ≥3 branches would each rescan an
    expensive source, and never inside streaming foreachBatch, where
    lineage must stay replayable."""
    _FAMILY_COLS = {
        "counter": ("counter_value", "counter_rate"),
        "gauge": ("gauge_value",),
        "timer": (
            "timer_count", "timer_sum", "timer_avg", "timer_min",
            "timer_max", "timer_std", "timer_rate", "timer_percentiles",
        ),
        "set": ("set_values",),
    }
    # prune to the columns the requested families read BEFORE the
    # shuffle — a 4-family schema shuffled for a timer-only ladder
    # carries 8 always-NULL columns otherwise
    needed = [*KEYS, "ts", "rollup_type"]
    for fam in families:
        needed.extend(_FAMILY_COLS[fam])
    if "sample_count" in preagg.columns:
        needed.append("sample_count")
    else:
        # preagg_to_finest derives sample_count from rate × flush interval
        needed.extend(("counter_rate", "flush_interval_ms"))
    preagg = preagg.select(*[c for c in needed if c in preagg.columns])
    if pre_partition:
        preagg = preagg.repartition(*[F.col(k) for k in KEYS])
        if materialize:
            preagg = preagg.localCheckpoint(eager=False)
    finest = preagg_to_finest(preagg, grans[0], families=families)
    # Only build the ladders the caller asks for: DataFrame construction IS
    # Catalyst analysis, and a single-family caller (a timer-only backfill,
    # the counter ladder query) should not pay three unused families'
    # plan-tree analysis on the driver — at bench scale that was ~half the
    # end-to-end latency of the timer query.
    out: dict[str, dict[str, DataFrame]] = {t: {} for t in families}
    counters = finest["counter"] if "counter" in families else None
    gauges = finest["gauge"] if "gauge" in families else None
    timers = finest["timer"].drop("percentiles") if "timer" in families else None
    sets = finest["set"] if "set" in families else None
    # Percentiles travel the ladder EXPLODED as (locator, window, label,
    # mean) — the reference's unweighted mean-of-means per label
    # (BluefloodTimerRollup.java:241-254) is then one avg() per level over
    # an ever-shrinking frame. The MAP column is reassembled lazily per
    # output level, so a consumer of only the coarsest level never pays the
    # intermediate collect_list/explode round-trips the map shape forces.
    pct = (
        finest["timer"].select(
            *KEYS, "window_start", F.explode("percentiles").alias("pct_label", "pct_mean")
        )
        if "timer" in families
        else None
    )
    for gran in grans:
        emit = emit_levels is None or gran.name in emit_levels
        if counters is not None:
            counters = counter_merge(counters, gran)
            if emit:
                out["counter"][gran.name] = counters
        if gauges is not None:
            gauges = gauge_merge(gauges, gran)
            if emit:
                out["gauge"][gran.name] = gauges
        if timers is not None:
            timers = timer_merge(timers, gran)
            pct = (
                pct.withColumn("window_start", window_start(F.col("window_start"), gran))
                .groupBy(*KEYS, "window_start", "pct_label")
                .agg(F.avg("pct_mean").alias("pct_mean"))
            )
            if emit and pct_shape == "exploded":
                out["timer"][gran.name] = timers.join(pct, [*KEYS, "window_start"], "inner")
            elif emit:
                pct_map = pct.groupBy(*KEYS, "window_start").agg(
                    F.map_from_entries(
                        F.sort_array(F.collect_list(F.struct("pct_label", "pct_mean")))
                    ).alias("percentiles")
                )
                out["timer"][gran.name] = timers.join(pct_map, [*KEYS, "window_start"], "left")
        if sets is not None:
            if emit:
                out["set"][gran.name] = set_merge_from_values(sets, gran)
            # carry member arrays forward so coarser unions stay exact
            sets = (
                sets.withColumn("window_start", window_start(F.col("window_start"), gran))
                .groupBy(*KEYS, "window_start")
                .agg(F.array_distinct(F.flatten(F.collect_list("set_values"))).alias("set_values"))
            )
    return out


def merge_percentile_maps(
    partials: DataFrame,
    gran: G.Granularity,
    keys: Sequence[str] = KEYS,
    pct_col: str = "percentiles",
) -> DataFrame:
    """Percentile-map merge for MAP<label, mean> columns: explode → avg per
    label → re-assemble. Used by the preaggregated timer path where
    percentile labels are dynamic (BluefloodTimerRollup.java:241-254)."""
    exploded = partials.withColumn("window_start", window_start(F.col("window_start"), gran)).select(
        *keys, "window_start", F.explode(F.col(pct_col)).alias("pct_label", "pct_mean")
    )
    per_label = exploded.groupBy(*keys, "window_start", "pct_label").agg(
        F.avg("pct_mean").alias("pct_mean")
    )
    return per_label.groupBy(*keys, "window_start").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("pct_label", "pct_mean")))
        ).alias(pct_col)
    )


# ---------------------------------------------------------------------------
# F5 number promotion: long-preserving typed rollup
# ---------------------------------------------------------------------------

def _trunc_div(s: Column, n: Column) -> Column:
    """Java-semantics integer division (truncate toward zero), expressed so
    any engine computes it identically: `%` follows the dividend's sign in
    both Spark and Java (and DuckDB), so (s - s % n) is exactly divisible
    and the quotient is exact regardless of the engine's own div rounding.
    The division runs in DECIMAL(38,0), not DOUBLE, so sums beyond 2^53
    (billions of points at 100 TB) don't round before the quotient."""
    return ((s - s % n).cast("decimal(38,0)") / n.cast("decimal(38,0)")).cast("long")


def _typed_winner(l: Column, d: Column, long_wins: Column):
    """Split a (long-candidate, double-candidate) pair into the typed output
    columns, keeping the type of the winning value (MinValue.java:52-95,
    MaxValue.java:49-92: a stat only switches representation when the other
    type's value actually wins; ties keep the long — documented rule, the
    reference's tie behavior is arrival-order-dependent)."""
    lw = d.isNull() | (l.isNotNull() & long_wins)
    return (
        F.when(lw, l).otherwise(F.lit(None).cast("long")),
        F.when(lw, F.lit(None).cast("double")).otherwise(d),
    )


def _typed_output(num_points, n_double, sum_l, sum_d, min_l, min_d, max_l, max_d):
    """Shared output derivation for typed_from_raw / typed_merge.

    Promotion rule (AbstractRollupStat.java, Average.java:115-121
    handleRollupMetric): the average is floating iff ANY contributing value
    is floating; otherwise it stays long. The long average is exact
    truncated division of the exact sum. Average.java:70-76's incremental
    form maintains sum = count*value + remainder exactly, but its
    remainder's sign convention drifts with arrival order, so the
    REFERENCE's own long average is order-dependent within ±1 (e.g.
    [100,1] → 51, [1,100] → 50 — property-tested in
    test_properties.py). A distributed engine must canonicalize; we take
    trunc(sum/count), the unique order-independent value inside the
    reference's envelope. The double average is likewise the exact mean
    (the reference's incremental double form is order-dependent; its own
    test accepts 1e-6 drift — AverageTest.java:57-70).
    """
    is_float = n_double > F.lit(0)
    avg_l = F.when(~is_float, _trunc_div(sum_l, num_points)).otherwise(F.lit(None).cast("long"))
    avg_d = F.when(is_float, sum_d / num_points).otherwise(F.lit(None).cast("double"))
    omin_l, omin_d = _typed_winner(min_l, min_d, min_l.cast("double") <= min_d)
    omax_l, omax_d = _typed_winner(max_l, max_d, max_l.cast("double") >= max_d)
    return [
        num_points.alias("num_points"),
        n_double.alias("n_double"),
        is_float.alias("is_float"),
        sum_l.alias("sum_l"),
        sum_d.alias("sum_d"),
        avg_l.alias("avg_l"),
        avg_d.alias("avg_d"),
        omin_l.alias("min_l"),
        omin_d.alias("min_d"),
        omax_l.alias("max_l"),
        omax_d.alias("max_d"),
    ]


def typed_from_raw(
    df: DataFrame,
    gran: G.Granularity,
    ts_col: str = "ts",
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A1 with F5 number promotion: rollup over a dual-typed value column.

    Input carries `value_l` (BIGINT) / `value_d` (DOUBLE), exactly one
    non-null per row — the Spark shape of the reference's long/double
    polymorphic stats (AbstractRollupStat.java:24-60; BigInteger/float
    already collapse at ingest, Metric.java:51-59). One windowed
    aggregation, all built-ins; the promotion logic is pure column
    expressions over exact integer partials, so long-typed series never
    round-trip through doubles (bit-parity on longs preserved end-to-end).
    """
    vl, vd = F.col("value_l"), F.col("value_d")
    promoted = F.coalesce(vd, vl.cast("double"))
    return (
        _grouped(df, gran, ts_col, keys)
        .agg(
            *_typed_output(
                F.count(F.lit(1)),
                F.count(vd),
                F.sum(vl),
                F.sum(promoted),
                F.min(vl),
                F.min(vd),
                F.max(vl),
                F.max(vd),
            )
        )
        .withColumn("resolution", F.lit(gran.name))
    )


def typed_merge(
    partials: DataFrame,
    gran: G.Granularity,
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """A2 with F5 promotion: merge typed partials into coarser windows.

    Children carry exact (num_points, n_double, sum_l, sum_d) and typed
    min/max pairs; the merge is plain sums + the same winner/promotion
    derivation, so it is associative and engine-deterministic on the long
    path (the double path merges exact sums, as basic_merge does). A group
    promotes to floating iff any child has n_double > 0 —
    Average.java:115-121's handleRollupMetric rule applied transitively.
    Output schema equals typed_from_raw's, so the cascade composes.
    """
    sum_l_in = F.coalesce(F.col("sum_l"), F.lit(0).cast("long"))
    return (
        _grouped(partials, gran, "window_start", keys)
        .agg(
            *_typed_output(
                F.sum("num_points"),
                F.sum("n_double"),
                F.sum(sum_l_in),
                F.sum("sum_d"),
                F.min("min_l"),
                F.min("min_d"),
                F.max("max_l"),
                F.max("max_d"),
            )
        )
        .withColumn("resolution", F.lit(gran.name))
    )


def exp_histogram_from_raw(
    df: DataFrame,
    gran: G.Granularity,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = KEYS,
) -> DataFrame:
    """Exponential-bucket (base-2) histogram rollup — the MERGEABLE
    distribution family (the design OTel exponential histograms and
    Prometheus native histograms standardize): per (locator, window),
    one count per power-of-two bucket of the micro-quantized value.
    Unlike the exact-percentile timer path, the state per series-window
    is O(64) regardless of sample count, and coarser windows merge by
    bucket-count ADDITION — the same algebraic-partials property every
    other rollup family here rides.

    Bucket index is EXACT integer math, no float log anywhere:
    v = floor(value·1e6); bucket = length(bin(v)) = floor(log2 v)+1 for
    v ≥ 1 (both engines' bin() emit minimal binary digits), bucket 0
    holds v ≤ 0 (the OTel zero bucket, absorbing negatives too).
    bucket_lo = 2^(bucket-1) micro-units labels the bucket's lower
    bound. One map-side-combinable groupBy."""
    v = F.floor(F.col(value_col) * 1_000_000).cast("long")
    bucket = F.when(v <= 0, F.lit(0)).otherwise(
        F.expr(f"length(bin(CAST(floor({value_col} * 1000000) AS BIGINT)))")
    ).cast("int")
    return (
        df.withColumn("window_start", window_start(F.col(ts_col), gran))
        .withColumn("bucket", bucket)
        .groupBy(*keys, "window_start", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "bucket_lo",
            F.when(F.col("bucket") == 0, F.lit(0)).otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
            ),
        )
    )


def exp_histogram_merge(
    partials: DataFrame, gran: G.Granularity, keys: Sequence[str] = KEYS
) -> DataFrame:
    """Merge exponential-histogram partials to a coarser window: bucket
    counts ADD — the whole point of the family. Rides an existing
    locator clustering when the ladder is pre-partitioned."""
    return (
        partials.withColumn("window_start", window_start(F.col("window_start"), gran))
        .groupBy(*keys, "window_start", "bucket")
        .agg(F.sum("n").alias("n"), F.min("bucket_lo").alias("bucket_lo"))
    )
