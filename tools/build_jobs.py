"""Which queries launch Spark jobs during PLAN CONSTRUCTION?

Under AQE, a parent-session `localCheckpoint(eager=False)` executes its
whole subtree at mark time (the r7 finding) — so any registered query
that launches jobs while its callable merely BUILDS the DataFrame is
paying eager-mark cost (or a driver round trip) before the first
action. This tool runs every queries() entry at a small SF and reports
build-time job counts, sorted — the hit list for loop-session
conversions (session.loop_session) in future rounds.

Build-time jobs are not automatically bugs: memoized artifacts (k-means
centroids, PQ codebooks, statsd payload packs) deliberately pay a
one-time job, CC/pagerank fixpoints NEED driver round trips, and
`count()`-based branch choices execute by definition. The report is the
inventory; NOTES.md documents which entries are deliberate.

Usage: python tools/build_jobs.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Disposition per known payer (r9 verdict task 4): WHY the jobs are
# there and whether they are deliberate. Classes:
#   fixpoint  — CC/PageRank-style driver round trips; the loop cannot
#               know it converged without executing (deliberate).
#   memo      — one-time trained-artifact build (k-means centroids, PQ
#               codebooks, minhash signature frames, statsd payload
#               pack); warm sessions pay zero (deliberate).
#   lookup    — bounded driver-side value the plan genuinely branches
#               on (rollup-type dispatch, index meta row) (deliberate).
#   bcast     — 1-2 async broadcast-exchange prepare kicks; tiny
#               collect-to-driver broadcasts, not subtree runs
#               (deliberate, inherent to broadcast hints).
#   eager     — an AQE-eager subtree mark: the one class worth
#               converting to session.loop_session/lazy_mark.
#   seqmat    — an AQE-eager mark that is a SEQUENTIAL materialization
#               of a subtree consumed by multiple concurrent readers:
#               conversion to a lazy clone mark makes the readers
#               race-recompute it (a lazy checkpoint persists only on
#               first compute) — measured slower every way tried
#               (PLANS.md r10). Deliberate; do not convert.
# A payer with NO entry here prints UNDOCUMENTED — that is the contract
# this tool enforces: every build-time job is either dispositioned or a
# regression to investigate.
DISPOSITIONS = {
    "llm_semdedup": "memo: k-means centroid training (2 assign/update rounds)",
    "llm_semdedup_pairs": "memo: shares llm_semdedup's centroid build",
    "llm_incremental_dedup": "memo: incoming+corpus signature builds; its 3 eager probe marks converted to lazy_mark in r9",
    "llm_dup_triangles": "seqmat: 8 sequential shared-subtree materializations (fingerprint mark, oriented edge set) persisted before each fan-out; 5 clone conversions measured r10, ALL regressed wall 2-9x (PLANS.md r10) - load-bearing, not waste",
    "llm_pipeline_output": "fixpoint: CC convergence round trips inside the pipeline",
    "llm_dedup_keep_best": "fixpoint: CC convergence round trips (cluster resolution)",
    "llm_dedup_clusters": "fixpoint: CC convergence round trips",
    "llm_embedding_dup_clusters": "fixpoint: CC convergence round trips",
    "llm_ann_nprobe_sweep": "memo: IVF coarse-centroid training, shared across the 4 probe arms",
    "llm_bpe_train": "fixpoint: greedy merge rounds each need the argmax pair (limit-1 collect per round)",
    "llm_ann_recall_report": "memo+bcast: exact-arm mark intentionally kept plain (dual-arm floor documented in PLANS.md r9)",
    "api_get_view": "lookup: rollup-type dispatch reads the catalog row to pick the serializer (reference semantics)",
    "api_get_views_multi": "lookup: same dispatch, multi-locator",
    "llm_silhouette": "memo: k-means centroid training",
    "llm_kmeans_clusters": "memo: k-means centroid training",
    "llm_minhash_estimate": "memo: signature frame build (shared _SIGNATURE_CACHE)",
    "llm_embedding_near_dups": "memo: signature/centroid artifacts + bcast",
    "llm_ann_ivfpq_topk": "memo: PQ codebook + coarse centroids (one-time)",
    "llm_ann_pq_topk": "memo: PQ codebook (one-time)",
    "llm_ann_pq_rerank": "memo: PQ codebook (one-time)",
    "llm_pq_codes": "memo: PQ codebook (one-time)",
    "bf_kmv_overlap": "bcast: sketch mark is clone-lazy; remaining kicks are broadcast prepares",
    "llm_word_fuzzy_pairs": "bcast: vocab broadcast prepare",
    "llm_winnowing_pairs": "bcast: fingerprint self-join broadcast prepare",
    "llm_source_kl": "bcast: global-distribution broadcast prepare",
    "llm_simhash_near_pairs": "seqmat: internal fingerprint mark persisted before the candidate self-join fans out over it; clone conversion wall-neutral but loses compute-once (PLANS.md r10)",
    "llm_ngram_novelty": "bcast: grain-table broadcast prepare",
    "llm_mmr_diversify": "seqmat+collect: below the r10 driver_cells_limit gate the entry COMPUTES at build - engine retrieval + pairwise sims (one eager candidate mark, persist-before-fanout) then two constant-size collects feeding the driver-local greedy (~9 jobs, ALL the work; the action just returns the 15-row local frame). Above the gate: the r9 clone loop (2 jobs)",
    "llm_hash_embed": "bcast: projection-matrix broadcast prepare",
    "llm_dup_pagerank": "bcast+fit: pair-subtree broadcast prepares + one PAIR-count job pricing the loop width (r11: counts the pair checkpoint the first action materializes anyway; the degree join moved into the main action job at fitted width); loop itself is clone-planned (1 job at first action)",
    "llm_dsir_weights": "bcast: source-distribution broadcast prepare",
    "llm_bigram_lm_score": "bcast: bigram-table broadcast prepare",
    "llm_ngram_jaccard": "bcast: one broadcast prepare",
    "llm_dup_spans": "bcast: one broadcast prepare",
    "llm_containment": "bcast: one broadcast prepare",
    "llm_boilerplate_strip": "bcast: boilerplate-line table broadcast prepare",
    "llm_ann_lsh_topk": "bcast: plane-matrix broadcast prepare",
    "ev_type_lift": "bcast: one broadcast prepare",
    "ev_funnel_conversion": "bcast: one broadcast prepare",
    "bf_statsd_normalize": "memo: statsd payload pack (one-time)",
    "bf_seasonal_naive_forecast": "bcast: one broadcast prepare",
    "bf_repair_on_read": "bcast: one broadcast prepare",
    "bf_outlier_mad": "bcast: one broadcast prepare",
}

import __spark_entry__ as E  # noqa: E402
from blueflood_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    only = set(a for a in args if not os.path.isdir(a))
    spark = get_spark("build-jobs", shuffle_partitions=8)
    tracker = spark.sparkContext.statusTracker()

    def njobs() -> int:
        return len(tracker.getJobIdsForGroup(None) or [])

    # warm the table/footer reads so their jobs don't attribute to queries
    for tbl in ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings"):
        E._t(spark, sf_dir, tbl)

    rows = []
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        before = njobs()
        try:
            fn(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 - report, don't abort the sweep
            rows.append((999, name, f"ERROR {type(exc).__name__}: {exc}"))
            continue
        rows.append((njobs() - before, name, ""))
    rows.sort(reverse=True)
    payers = [r for r in rows if r[0] > 0]
    print(f"{len(payers)}/{len(rows)} queries launch jobs at build time:")
    undocumented = 0
    for n, name, err in payers:
        disp = err or DISPOSITIONS.get(name, "UNDOCUMENTED")
        if disp == "UNDOCUMENTED":
            undocumented += 1
        print(f"  {n:>3}  {name}  [{disp}]")
    if not payers:
        print("  (none)")
    if undocumented:
        print(f"{undocumented} payer(s) UNDOCUMENTED — disposition or convert them")


if __name__ == "__main__":
    main()
