"""Benchmark harness: runs the headline queries from the catalog at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect — what a cluster write would do).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from interpro7_dw_spark.caching import engine_cache_scope
from interpro7_dw_spark.plans.spec import all_specs
from interpro7_dw_spark.session import get_spark

# The first 21 names are the headline set as it stood through r5 —
# kept as a stable drift anchor: the bench JSON emits a "carried21"
# subtotal over exactly these so round-over-round comparison survives
# growth of the full set (r6 grew it 21 -> 27 and made totals
# incomparable).
CARRIED21_COUNT = 21

HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    # parked to z_ in the r8 rotation that promoted bm25_topk into the
    # driver window — same query, so carried21 stays comparable
    "z_join_inner_agg",
    "count_distinct_parts",
    "window_suite",
    "topk_per_segment",
    # parked to z_ in the r12 rotation that promoted skew_salted_agg —
    # same query, so carried21 stays comparable
    "z_sessionize_events",
    "asof_event_attrib",
    "overlap_pairs",
    "z_part_pair_cooccurrence",
    "closure_depths",
    "coverage_length",
    "dedup_minhash_lsh",
    # parked to z_ in the r11 rotation that promoted ivm_group_agg —
    # same query, so carried21 stays comparable
    "z_dedup_ngram_jaccard",
    "z_embedding_topk",
    "grouping_sets_pyramid",
    "domorg_fingerprint",
    # parked to z_ in the r13 rotation that promoted skew_join_hot_key —
    # same query, so carried21 stays comparable
    "z_lca_per_nation",
    "search_documents",
    "z_multimodal_decode",
    "z_domain_merge_matches",
    # r6 additions: the heavy compositions that now carry the most
    # pipeline weight — drift signal for future rounds
    "mart_protein",
    "mart_entry",
    "z_ebisearch_docs",
    "domain_match_summary",
    "z_xml_uniparc_proteins",
    # r6 continuation: the heaviest of the new webfront row marts
    # (three-level nested JSON assembly over lineitem; renamed from
    # z_structure_mart in the r7 driver-window rotation)
    "mart_structure",
    # r7 addition: the bucket-split global rank (single full-row
    # shuffle) — the sampling family's throughput anchor
    "z_global_shuffle",
    # r8 additions: the promoted LLM-ops flagships — SemDeDup (IVF
    # cells + within-cell pairwise over the broadcast-data centroid
    # path) and hub-safe PageRank (two-level pinned fold); plus the
    # zero-shuffle per-row HOF scorer as the map-side throughput anchor
    "semantic_dedup",
    "pagerank",
    "z_repetition_stats",
    # r8 (continued): the relational ExactSubstr pass (window explode
    # + hash-occurrence aggregate + span merge) and PQ/ADC — the two
    # heaviest of the new LLM-ops family
    "exact_substr_dedup",
    # renamed in the r11 rotation (parked to z_; same query)
    "z_embedding_pq_topk",
    # r8 part 3: the retrieval + exact-order-statistics + graph
    # flagships — inverted-index BM25, the value-cut exact quantile
    # plan, and degree-oriented triangle counting
    "bm25_topk",
    # parked to z_ in the r12 rotation (histogram_quantiles promoted
    # as the quantile-family window member — same query here)
    "z_grouped_quantiles",
    "triangle_counts",
    # r9 additions: IVFADC (persisted cell-partitioned PQ codes, DPP
    # probe), real BPE tokenization (distinct-word merge loop), and
    # the k-core iterative peel (promoted from z_ names in the r10
    # driver-window rotation — same queries, timings stay comparable)
    "ivfpq_topk",
    "bpe_tokenize",
    # parked to z_ in the r12 rotation — same query
    "z_kcore",
    # r10 addition: the probe-only IVFADC half over a build-once index
    # fixture — pass 1 pays the one-time build, the per-query min then
    # reflects the steady-state DPP-pruned probe cost
    "z_ivfpq_probe",
    # r10: incremental view maintenance (delta-driven mart merge) and
    # the chunk-composed EWMA — the two new time/change-family ops
    # promoted into the driver window in the r11 rotation (same queries;
    # ewma parked back to z_ in the r13 rotation — same query)
    # parked to z_ in the r14 rotation that promoted ivm_count_pyramid —
    # same query, so carried21 stays comparable
    "z_ivm_group_agg",
    "z_ewma",
    # r11 second-half additions: multi-table (join-view) IVM, SQ8
    # scalar-quantized ANN, and the mergeable histogram quantiles —
    # the new batch families promoted/landed after the first r11 bench
    "ivm_join_agg",
    "sq8_topk",
    "histogram_quantiles",
    # r12 additions: the promoted skew/streaming flagships (salted
    # two-stage aggregate on a 90%-hot key; continuous MIN/MAX
    # maintenance over the COW facts store), the hot-key salted
    # broadcast join, and the incrementally-maintained REAL taxon
    # mart (count-pyramid supports + bilinear changelog fold)
    "skew_salted_agg",
    "stream_ivm_minmax",
    # promoted from z_ names in the r13 rotation — same queries
    "skew_join_hot_key",
    "ivm_mart_taxonomy",
    # r14 additions: the promoted count-pyramid primitive and the
    # entry-mart standing query (the reference's worst release cost,
    # export-entry2xrefs <=24h/100GB) — the level-2 discipline now
    # wired into every maintained mart render
    "ivm_count_pyramid",
    "stream_ivm_mart_entry",
]


WARMUP_SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    specs = all_specs()

    def run(name: str, d: str) -> float:
        # engine_cache_scope releases the query's operator-owned
        # persists on exit, so each query is measured independently —
        # and the timer stops BEFORE the scope exit, keeping the
        # unpersist bookkeeping outside the measured window (exactly
        # where the old clearCache-after-timing sat)
        with engine_cache_scope():
            t0 = time.time()
            specs[name].build(spark, d).write.mode("overwrite").format("noop").save()
            return time.time() - t0

    # Warm each plan once at the smallest scale: whole-stage codegen
    # compilation (Janino) costs seconds per novel plan shape and is a
    # one-time JVM cost, not query cost — steady-state throughput is
    # what a long-running cluster app sees.
    for name in HEADLINE:
        run(name, WARMUP_SF_DIR)

    # Three full passes at the target scale, per-query min across
    # passes: pass 1 absorbs the once-per-session costs (JIT, buffer
    # pools, first big parquet scan); the min approximates the
    # steady-state plan cost a long-running cluster app sees. Three
    # passes (not two) because this VM shows multi-minute
    # noisy-neighbor windows that can cover two consecutive passes of
    # one query (r03 measured dedup_ngram_jaccard at 13.5s min-of-2 in
    # bench vs 3.8-4.8s x4 in isolation minutes later). Each run is
    # wrapped in engine_cache_scope, which drops operator-owned
    # persists so each query is measured independently.
    times: dict[str, float] = {name: float("inf") for name in HEADLINE}
    # phase split of the winning (min) stream_ivm_mart_entry pass —
    # the r15 verdict's requested seed_s/steady_s observability
    # (additive field; the timed value is unchanged)
    entry_phases: dict[str, float] | None = None
    for _pass in range(3):
        for name in HEADLINE:
            elapsed = run(name, sf_dir)
            if elapsed < times[name]:
                times[name] = elapsed
                if name == "stream_ivm_mart_entry":
                    from interpro7_dw_spark.plans.marts import STREAM_PHASES

                    entry_phases = {
                        k: round(v, 3) for k, v in STREAM_PHASES.items()
                    }
                    entry_phases["render_s"] = round(
                        elapsed - sum(STREAM_PHASES.values()), 3
                    )
    times = {k: round(v, 3) for k, v in times.items()}

    carried = [n for n in HEADLINE[:CARRIED21_COUNT]]
    # carried20: the r15 verdict's clean drift anchor — carried21
    # minus z_domain_merge_matches, which was optimized in r15 and so
    # no longer qualifies as an untouched-code control
    carried20 = [n for n in carried if n != "z_domain_merge_matches"]
    sc = spark.sparkContext
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "carried21": round(sum(times[n] for n in carried), 3),
        "carried20": round(sum(times[n] for n in carried20), 3),
        # scaling-contract observability (r15 verdict item 2): the
        # EFFECTIVE master and task parallelism this bench ran with,
        # plus the raw env var, so an 8c-vs-32c probe is decidable
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "stream_ivm_mart_entry_phases": entry_phases,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
