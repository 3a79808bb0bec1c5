"""Regenerate PLANS.md: physical-plan evidence for the scale-relevant
claims (pushdown, pruning, broadcast joins, single-shuffle cascade,
codegen coverage). Run: python tools/dump_plans.py"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from blueflood_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.1"

CASES = {
    "q01_pricing_summary": "filter + projection pushdown to the parquet scan; partial/final agg",
    "q05_region_revenue": "5-way star join: one lineitem pass, dims broadcast, no pre-agg shuffle",
    "bf_rollup_cascade_60m": "rollup ladder 5m→20m→60m with ONE exchange (locator pre-partitioning)",
    "llm_minhash_lsh": "LSH candidates: explode bands → single self-join; no cross join anywhere",
    "bf_repair_on_read": "stored ∪ repaired via left-anti join + windowed agg in one plan",
    "bf_asof_enrich": "as-of join as union + LOCF window: one shuffle on the key, no range explosion",
    "bf_range_join": "interval join bucketized to an equi-join (no BroadcastNestedLoop)",
    "llm_decontaminate": "eval gram set broadcast: corpus side joins without shuffling",
    "llm_tfidf_top_terms": "vocabulary join with NO forced broadcast (AQE promotes small df tables at runtime); windowed top-k",
    "llm_ngram_stats": "corpus top-k n-grams: explode → partial agg → TakeOrderedAndProject (no global sort)",
    "llm_simhash_near_pairs": "9-segment pigeonhole candidates over 60-bit prints: banded equi self-join + exact verify",
    "llm_quality_gate": "per-row codegen signals + one repetition agg + doc_id join",
    "bf_timer_pct_map_merge": "preagg timer ladder with dynamic percentile maps: locator pre-partitioning",
    "llm_weighted_sample": "A-Res weighted top-k planned as TakeOrderedAndProject, not a single-partition window",
    "bf_typed_merge_20m": "F5 typed ladder: long/double promotion as pure column exprs, exchanges as basic merge",
    "llm_pack_sequences": "two-phase prefix sum: sharded window + tiny offsets frame broadcast back (no global sort of the corpus)",
    "llm_kmeans_clusters": "assignment is MAP-ONLY against the memoized trained-centroid artifact (Scan ExistingRDD = the materialized one-row centroid frame; training runs once per session as the unrolled Lloyd's DAG) — the corpus never shuffles",
    "bf_ttl_retention": "per-resolution retention predicates over the one-exchange cascade",
    "ev_funnel_3step": "k-step funnel as ONE user-key exchange + per-user codegen fold (no per-step self-joins)",
    "llm_pq_codes": "PQ encode as a map-only projection: codebook collapsed to one broadcast array row, corpus never repartitioned",
    "llm_ann_pq_rerank": "ADC shortlist in the compressed domain, then raw-vector fetch via broadcast joins of the tiny candidate set",
    "llm_unigram_surprisal": "vocabulary join with NO forced broadcast; one word-count agg + one per-doc agg",
    "q_trailing_week_revenue": "RANGE frame over the daily aggregate — window input bounded by calendar days, not lineitem",
    "q_grouping_sets": "custom grouping-set list via Expand: one scan, one shuffle, grouping_id disambiguation",
    "llm_source_overlap": "chunk-hash inverted index self-join — pair rows bounded by sources-per-chunk, never corpus²",
    "api_get_view_frame": "§2.11 view endpoint's internal scan: resolution filter constant-folds the 5m∪20m∪60m ladder union — unselected branches pruned at plan time; no Sort and no range-partitioning Exchange, since get_view orders the collected rows on the driver (the registered api_get_view query then flattens the shaped JSON, which is driver-side)",
    "llm_sq8_quantize": "int8 scalar quantization: pure map-only projection — the only Exchange is _t()'s single-row-group test-fixture fan-out, absent on real multi-split input",
    "llm_token_budget_mix": "token-budget mix: ONE semantic exchange (source key, for the per-source running sum); the scan-side Exchange is the test-fixture fan-out",
    "llm_multimodal_features": "PPM pixel decode inside one ArrowEvalPython/mapInPandas stage — no shuffle added around the Python boundary",
    "llm_semdedup": "SemDeDup: ONE shuffle on cluster_id into a grouped applyInPandas matmul kernel — pairs never materialize as rows (candidates = Σ|cluster|², never corpus²)",
    "llm_ann_ivfpq_topk": "IVF-PQ: probe→coded-list equi-join on list_id prunes candidates; ADC scores code columns only — raw embeddings never read past the encode",
    "llm_contrastive_pairs": "contrastive mining: anchors broadcast against one corpus scan; conditional struct-min aggregates partial-combine before the single q_id exchange",
    "bf_rate_series": "per-sample rate: ONE window exchange on the series key; lag + reset-guard are pure codegen expressions",
    "bf_ewma_smooth": "windowed EWMA: one series-key exchange; the 32-sample trailing frame bounds per-row state, fold runs in the projection",
    "bf_histogram_buckets": "cumulative buckets: 7-row bounds broadcast fan-out, then one partial-summed exchange on (series, slot, le)",
    "llm_hybrid_rrf": "RRF fusion: full outer join of two bounded top-50 lists + TakeOrderedAndProject — cost independent of corpus size",
    "llm_dsir_weights": "DSIR: feature stream scanned for two O(buckets) count aggs, 512-row ratio table broadcast back — corpus never self-joins",
    "llm_incremental_dedup": "incremental dedup: incoming batch vs corpus BAND INDEX equi-joins; shingle verify sets candidate-pruned by semi-joins before the sh_key join",
    "bf_m4_downsample": "M4 pixel downsample: one map-side-combinable groupBy — same shuffle shape as a basic rollup, 4 doubles per pixel out",
    "bf_topk_movers": "recent-vs-prior movers: ONE conditional-agg pass (no self-join of the halves) + TakeOrderedAndProject",
    "bf_winsorize": "winsorize: per-series percentile agg + bounds joined back with NO forced broadcast (AQE promotes at bench scale)",
    "bf_rollup_cascade_1440m": "full 5-level rollup ladder 5m→20m→60m→240m→1440m: still ONE exchange — locator pre-partitioning satisfies every level's clustering requirement",
    "bf_burn_rate": "SRE multiwindow burn rate: two windowed aggs + equi-join aligned on the locator partitioning; alert predicate is pure codegen",
    "llm_url_dedup": "URL dedup: canonicalization is map-side regexp codegen; ONE exchange on the canonical key (plus fixture fan-out)",
    "llm_bigram_lm_score": "bigram LM: per-doc distinct-gram counts join the pre-built vocabulary-sized model ONCE; corpus text tokenized exactly once",
    "bf_reroll_diff": "T4 re-roll: broadcast semi-join prunes the raw scan to straggler slots BEFORE re-aggregation; both diff sides are straggler-sized",
    "bf_delayed_locators": "delayed-locator registry: delay filter + slot/shard projection map-side, one groupBy on (slot, shard, locator)",
    "bf_histogram_quantile": "histogram_quantile: bucket agg shuffle + one bounded window over each slot's 7 bucket rows — no global sort",
    "bf_sustained_breach": "sustained breach: islands ranked over BREACHING slots only (filter precedes the window); per-island agg",
    "bf_seasonal_naive_forecast": "seasonal-naive forecast: rollup agg + week-shifted equi self-join on the series/slot key (no history-wide window)",
    "api_sql_navigation": "SQL over the logical rollup ladder: the planner's resolution literal constant-folds — ONE pruned scan, zero custom rules",
    "llm_boilerplate_strip": "boilerplate strip: chunk subtree materialized once (lazy checkpoint), anti-join on 8-byte xxhash64 chunk keys, per-doc reassembly agg — removal input bounded by duplicated-chunk mass",
    "llm_random_projection": "sparse JL projection: map-only codegen projection (8 chained-add expressions over the float array) — zero joins, zero semantic exchanges",
    "bf_sampled_quantile": "hash-sampled quantile: ONE groupBy carries exact + sampled percentiles as FILTER aggregates; the sample flag is a map-side md5 projection",
    "bf_zorder_layout": "z-order tiles: Morton interleave is pure integer codegen; one map-side-combined tile agg — the layout claim costs one shuffle of (tile, partials)",
    "llm_dup_spans": "duplicate spans: position-gram subtree materialized once (lazy checkpoint), 8-byte xxhash64 gram keys through agg + semi-join, island merge windows on the doc key the semi-join output already carries",
    "llm_dup_pagerank": "fixed-point PageRank: per iteration ONE edge⋈rank join + ONE partial-combined sum on the node key; edge list w/ degrees materialized once; lineage truncated every 4th iteration",
    "llm_word_fuzzy_pairs": "FastSS fuzzy pairs: deletion-variant explode → single equi self-join (no |V|² anywhere) → exact levenshtein verify in the projection",
    "llm_ngram_novelty": "n-gram novelty: hashed-gram dedup + min-agg + join back + per-doc count — all shuffles on 8-byte keys; gram text never leaves the map side",
    "llm_silhouette": "silhouette: k·dim centroid agg, then MAP-ONLY scoring against one broadcast centroid row — no n×k row expansion",
    "llm_char_entropy": "char entropy: one explode + two map-side-combinable aggs on the doc key; ordered fold inside the projection, zero joins",
    "bf_compaction_plan": "compaction manifest: one exchange on the table partition key, running-sum window + manifest agg — planning cost linear in FILE COUNT (metadata), never data",
    "llm_ann_filtered_topk": "filtered ANN: the metadata predicate pre-filters the inverted LISTS before the probe equi-join — pushed to the list scan on a bucketed layout; k stays filled",
    "bf_unit_history": "SCD2 unit history: ONE exchange on the series key serves the change window, the run agg, and the interval lead",
    "ev_type_lift": "type-pair lift: dedup to (user, type) grain FIRST, one self-equi-join on the user key; totals and user count broadcast back",
    "llm_embedding_drift": "embedding drift: one explode-by-position agg (label·2·dim groups) + a label-sized join — the corpus never self-joins",
    "ev_attribution": "last-touch attribution: ONE user-key exchange; credit = preceding-frame last-non-null window, no per-conversion self-join",
    "ev_cohort_ltv": "cohort LTV: retention's shuffles + one window over the cohort×offset grid (≤ cohorts·offsets rows); value mass as exact cents",
    "bf_heatmap_grid": "activity heatmap: single map-side-combinable agg into a tenants×24×7 grid — pure integer epoch arithmetic",
    "llm_ann_recall_report": "ANN recall report: exact arm priced by the query set (broadcast corpus), approximate arms reuse the production kernels; hit counting is two left-semi joins on (q, c)",
    "bf_slot_eligibility": "slot work queue: one map-side-combinable agg to (slot, shard) grain + a broadcast 1-row NOW — scheduler state derived, never stored",
    "bf_trend_slope": "Theil-Sen: per-series pair self-join bounded by calendar windows², one percentile agg — robust trend without a per-pair shuffle of raw data",
    "bf_xcorr_lag": "lagged cross-correlation: ONE equi-join on (tenant, shifted window); lag fan-out is a 5-element explode; the 5-moment agg is map-side combinable",
    "bf_alert_hysteresis": "alert hysteresis: ONE series-key exchange serves both islands windows, the run agg, the decisive-state window, and the episode lead",
    "llm_temperature_mix": "temperature mix: one map-side-combinable source agg; the only window runs over #sources rows (a constant) — the single-partition WindowExec is a k-row frame",
    "llm_mmr_diversify": "MMR: retrieval stage broadcasts the corpus once; candidate pairwise sims lazily checkpointed and reused by every greedy iteration — loop frames are queries×pool rows, constants",
    "llm_winnowing": "MOSS winnowing: one explode + ONE doc-key exchange for the intra-doc window min; argmin encoded in a single BIGINT so selection is integer codegen, distinct rides the same partitioning",
    "llm_winnowing_pairs": "winnowing copy detection: fingerprint relation materialized once (lazy checkpoint), self-equi-join on 8-byte fp hashes — pair fan-out bounded by docs-per-fingerprint, never corpus²",
    "llm_vocab_growth": "Heaps-law growth: groupBy(token) min(doc_id) is the only corpus-sized shuffle; the cumsum window runs over bucket-grain rows only",
    "llm_source_kl": "source KL: ONE explode feeds (grp,token) counts (lazily checkpointed); corpus counts, source totals, and the 1-row grand total all roll up from it; grand total broadcast back",
    "llm_bpe_pairs": "BPE pair step: pair explosion runs over the DISTINCT-word relation weighted by exact counts; top-k is TakeOrderedAndProject",
    "bf_outlier_mad": "MAD outliers: two median aggs + two equi-joins all on the series key — AQE broadcasts the per-series stats frames; flag compares floor-quantized integers",
    "bf_change_cusum": "CUSUM change points: max(0,·) recursion re-expressed as running-sum minus running-min — ONE series-key exchange serves every window; all arithmetic exact BIGINT",
    "llm_bpe_encode": "BPE encode: the whole merge chain is ONE codegen projection of nested replace() — zero joins, zero semantic exchanges",
    "bf_apdex": "Apdex: one map-side-combinable conditional agg; the score is a single integer division in the projection",
    "llm_bloom_dedup": "Bloom incremental dedup: the filter is ≤ m/32 rows BROADCAST; probes expand map-side to k (word, mask) lookups; exact-membership arm is a broadcast semi-join on distinct corpus keys — nothing corpus-sized shuffles",
    "llm_dup_triangles": "triangle counting: degree-ordered orientation (oriented set lazily checkpointed, feeds wedge join twice + closing join) — wedge fan-out bounded by out-degree ≤ O(√m), each triangle materializes exactly once",
    "llm_tokenizer_fertility": "tokenizer fertility: bpe_encode is one codegen projection; ONE groupBy on the language key; ratios are single divisions of exact integer sums",
    "llm_url_blocklist": "URL curation: host extraction is map-side regexp codegen; blocklist joins as a BROADCAST hash join — plan cost independent of blocklist row count",
    "llm_pack_report": "packing report: pack_sequences' two-phase prefix sum + ONE map-side-combinable groupBy on the pack id",
    "bf_native_histogram": "exponential histogram: exact integer bucket index in the projection (length(bin)); 5m agg + 20m bucket-ADD merge ride one (locator, window, bucket) shuffle chain with partial combine",
    "bf_lttb_downsample": "LTTB: ONE series-key exchange serves the per-series shift window, bucket stats, lag/lead anchors, and the argmax selection window; areas are BIGINT cross products in codegen",
    "llm_semdedup_pairs": "SemDeDup pair gen: ONE shuffle on cluster_id into the grouped BLAS kernel; assignment is map-only against the memoized centroid row — candidates Σ|cluster|², never corpus²",
    "llm_quality_filter": "classifier quality filter: frozen linear model applied as ONE map-only integer projection — zero joins, zero semantic exchanges",
    "bf_counter_resets": "counter reset repair: lag + running integer sum — ONE series-key exchange serves both windows",
    "llm_frame_dedup": "frame dedup: real y4m decode in ONE mapInPandas stage (no shuffle around the Python boundary), then a single map-side-combinable groupBy on the frame content key",
    "bf_native_histogram_quantile": "native-histogram p95: cumsum + total windows and the struct-min hit bucket all ride the histogram's (series, window) clustering — O(64) rows per window, no global sort",
    "llm_ann_nprobe_sweep": "n_probe sweep: exact arm checkpointed ONCE and semi-joined by all four probe arms; each arm is the unchanged production ivf_topk over the memoized quantizer",
    "bf_kmv_overlap": "KMV overlap: pair stage joins k-row sketch frames (broadcast-sized regardless of data); only the exact-intersection REPORT arm touches the distinct values",
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # keep the tree + the scan/exchange/join detail blocks, drop attribute dumps
    keep = []
    for block in text.split("\n\n"):
        header = block.strip().splitlines()[0] if block.strip() else ""
        if block.startswith("== Physical Plan =="):
            keep.append(block)
        elif re.match(r"^\(\d+\) (Scan parquet|Exchange|BroadcastExchange|.*Join.*|AdaptiveSparkPlan)", header):
            lines = [
                ln
                for ln in block.splitlines()
                if not ln.startswith(("Input", "Output", "Arguments: ", "Results", "Aggregate Attributes"))
                or "PushedFilters" in ln
            ]
            keep.append("\n".join(lines))
    return "\n\n".join(keep)


def main() -> None:
    spark = get_spark("plans")
    out = [
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
        "",
        "Trimmed `explain(\"formatted\")` output at sf0.1 for the plan-shape",
        "claims in README §Designed for 100 TB. Scan blocks show PushedFilters",
        "and ReadSchema (column pruning); join blocks show build side.",
        "",
    ]
    qs = E.queries()

    def api_get_view_frame(spark, sf_dir):
        from blueflood_spark.operators import granularity as G
        from blueflood_spark.plans import query_api as QA

        return QA.series_frame(
            E._rollup_ladder(spark, sf_dir), "t1", ["events.click.value"],
            G.MIN_20, E._API_FROM_MS, E._API_TO_MS, [],
        )

    qs["api_get_view_frame"] = api_get_view_frame
    for name, why in CASES.items():
        df = qs[name](spark, SF)
        out.append(f"## {name}\n\n*{why}*\n\n```\n{plan_of(df)}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
