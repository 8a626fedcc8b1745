"""Unit tests for the time-series operators (gap-fill + LOCF, ordered
funnel), SCD type-2 history building, and DSIR importance weights, on
hand-built micro data. Timestamps are epoch-NANOS LONG throughout —
the catalog's normalized event-time unit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from interpro7_dw_spark.operators.cdc import scd2_history
from interpro7_dw_spark.operators.retrieval import bm25_topk
from interpro7_dw_spark.operators.sampling import dsir_weights
from interpro7_dw_spark.operators.timeseries import (
    cohort_retention,
    funnel_steps,
    gapfill_locf,
    ohlc_bars,
    time_weighted_avg,
)

NS = 1_000_000_000
HOUR = 3600 * NS


def test_gapfill_locf_fills_missing_buckets(spark):
    # key "a": observations in hours 0, 3 (gap at 1, 2); key "b": hour 5 only
    rows = [
        ("a", 0 * HOUR + 5 * NS, 1.0, 1),
        ("a", 0 * HOUR + 9 * NS, 2.0, 2),  # later in same bucket — wins
        ("a", 3 * HOUR + 1 * NS, 7.0, 3),
        ("b", 5 * HOUR, 4.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, value double, event_id long"
    )
    out = gapfill_locf(df)
    got = {
        (r["key"], r["bucket_start_s"]): (r["observed"], r["n_obs"], r["value_filled"])
        for r in out.collect()
    }
    assert got == {
        ("a", 0): (True, 2, 2.0),
        ("a", 3600): (False, 0, 2.0),   # gap carried forward
        ("a", 7200): (False, 0, 2.0),   # gap carried forward
        ("a", 10800): (True, 1, 7.0),
        ("b", 18000): (True, 1, 4.0),
    }


def test_gapfill_locf_same_bucket_tie_broken_by_id(spark):
    # two observations at the IDENTICAL ts — higher event_id wins
    rows = [("a", HOUR, 1.0, 10), ("a", HOUR, 9.0, 11)]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, value double, event_id long"
    )
    (r,) = gapfill_locf(df).collect()
    assert r["value_filled"] == 9.0


def test_funnel_strictly_after_semantics(spark):
    rows = [
        # u1 completes all four steps in order
        ("u1", 1 * NS, "signup"),
        ("u1", 2 * NS, "view"),
        ("u1", 3 * NS, "click"),
        ("u1", 5 * NS, "purchase"),
        # u2: view at the SAME instant as signup — does not advance
        ("u2", 1 * NS, "signup"),
        ("u2", 1 * NS, "view"),
        # u3: purchase BEFORE signup — never converts, depth 1
        ("u3", 9 * NS, "signup"),
        ("u3", 2 * NS, "purchase"),
        # u4: no signup at all — depth 0
        ("u4", 1 * NS, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_type string")
    got = {
        r["key"]: (r["steps_completed"], r["converted"], r["ms_to_convert"])
        for r in funnel_steps(df).collect()
    }
    assert got == {
        "u1": (4, True, 4000),
        "u2": (1, False, -1),
        "u3": (1, False, -1),
        "u4": (0, False, -1),
    }


def test_funnel_uses_earliest_previous_completion(spark):
    # signup at t=10; an early view at t=5 must NOT count, the one at
    # t=20 does; click between them (t=15) counts only if after view
    # completion (20) — it is not, so depth stops at 2.
    rows = [
        ("u", 10 * NS, "signup"),
        ("u", 5 * NS, "view"),
        ("u", 20 * NS, "view"),
        ("u", 15 * NS, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_type string")
    (r,) = funnel_steps(df).collect()
    assert (r["steps_completed"], r["converted"]) == (2, False)


def test_scd2_history_versions_and_validity(spark):
    rows = [
        ("k1", 1, 1_000_000 * 1, "A"),
        ("k1", 2, 1_000_000 * 2, "A"),   # unchanged — same version
        ("k1", 3, 1_000_000 * 5, "B"),   # change -> version 2
        ("k1", 4, 1_000_000 * 9, "A"),   # back to A -> version 3
        ("k2", 5, 1_000_000 * 4, "X"),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts long, event_type string"
    )
    out = scd2_history(
        df, keys=["user_id"], order_col="ts", tiebreak_col="event_id",
        tracked=["event_type"],
    )
    got = {
        (r["user_id"], r["version"]): (
            r["event_type"], r["valid_from_ms"], r["valid_to_ms"], r["is_current"]
        )
        for r in out.collect()
    }
    assert got == {
        ("k1", 1): ("A", 1, 5, False),
        ("k1", 2): ("B", 5, 9, False),
        ("k1", 3): ("A", 9, -1, True),
        ("k2", 1): ("X", 4, -1, True),
    }


def test_scd2_history_null_tracked_values_distinct(spark):
    # NULL -> "A" -> NULL must produce three versions (null-aware hash)
    rows = [("k", 1, 1_000_000, None), ("k", 2, 2_000_000, "A"),
            ("k", 3, 3_000_000, None)]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts long, event_type string"
    )
    out = scd2_history(
        df, keys=["user_id"], order_col="ts", tiebreak_col="event_id",
        tracked=["event_type"],
    )
    assert out.count() == 3


def test_dsir_weights_prefers_target_like_docs(spark):
    # target docs share the bigram vocabulary "x y"; raw-only docs use
    # "p q". A held-out doc written in target language must outscore an
    # equally long doc written in raw-only language.
    rows = (
        [(f"t{i}", "x y x y x y", "tgt") for i in range(20)]
        + [(f"r{i}", "p q p q p q", "raw") for i in range(20)]
        + [("probe_t", "x y x y", "probe"), ("probe_r", "p q p q", "probe")]
    )
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = dsir_weights(df, F.col("source") == "tgt")
    got = {r["doc_id"]: (r["n_bigrams"], r["score_ppm"]) for r in out.collect()}
    assert got["probe_t"][0] == got["probe_r"][0] == 3
    assert got["probe_t"][1] > got["probe_r"][1]


def test_dsir_weights_no_bigram_docs_absent(spark):
    df = spark.createDataFrame(
        [("a", "single", "s"), ("b", "two words", "s")],
        "doc_id string, text string, source string",
    )
    out = dsir_weights(df, F.lit(True))
    assert [r["doc_id"] for r in out.collect()] == ["b"]


def test_ohlc_bars_open_close_tiebreak(spark):
    DAY = 86400 * NS
    rows = [
        ("a", 0 * DAY + 2 * NS, 5.0, 1),
        ("a", 0 * DAY + 2 * NS, 7.0, 2),   # same instant — open ties to the LOWER id (row 1)
        ("a", 0 * DAY + 50 * NS, 1.0, 3),
        ("a", 0 * DAY + 80 * NS, 9.0, 4),  # close
        ("a", 1 * DAY + 1 * NS, 4.0, 5),
        ("b", 0 * DAY, 2.0, 6),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, value double, event_id long"
    )
    got = {
        (r["key"], r["bucket_start_s"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in ohlc_bars(df).collect()
    }
    assert got == {
        ("a", 0): (5.0, 9.0, 1.0, 9.0, 4),
        ("a", 86400): (4.0, 4.0, 4.0, 4.0, 1),
        ("b", 0): (2.0, 2.0, 2.0, 2.0, 1),
    }


def test_time_weighted_avg_locf_integral(spark):
    rows = [
        ("a", 0, 10.0, 1),
        ("a", 10 * NS, 20.0, 2),
        ("a", 30 * NS, 99.0, 3),   # last obs spans no time
        ("solo", 5 * NS, 7.0, 4),  # single event — omitted
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, value double, event_id long"
    )
    out = time_weighted_avg(df).collect()
    assert len(out) == 1
    (r,) = out
    # integral = 10*10e9 + 20*20e9 = 500e9 over span 30e9 -> 50/3
    assert r["key"] == "a" and r["n_segments"] == 2 and r["span_ns"] == 30 * NS
    assert abs(r["twa"] - 500 / 30) < 1e-9


def test_cohort_retention_triangle(spark):
    WEEK = 604800 * NS
    rows = [
        ("u1", 0 * WEEK), ("u1", 1 * WEEK + NS),
        ("u2", 0 * WEEK + 5 * NS),
        ("u3", 1 * WEEK), ("u3", 1 * WEEK + 9 * NS),  # same week twice
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long")
    got = {
        (r["cohort_bucket_s"], r["week_offset"]): (
            r["n_active"], r["cohort_size"], r["retention_ppm"]
        )
        for r in cohort_retention(df).collect()
    }
    assert got == {
        (0, 0): (2, 2, 1_000_000),
        (0, 1): (1, 2, 500_000),
        (604800, 0): (1, 1, 1_000_000),
    }


def test_bm25_ranking_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),     # tf(cat)=2
            (2, "cat bird"),        # tf(cat)=1, shorter doc
            (3, "dog dog dog"),
            (4, "fish"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(0, "cat"), (1, "fish"), (1, "dog"), (2, "absent")],
        "qid long, term string",
    )
    out = bm25_topk(docs, q, k=10)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["qid"], []).append(
            (r["rank"], r["doc_id"], r["n_terms_matched"], r["score_ppm"])
        )
    # q0: only docs 1,2 match; doc 1 has higher tf but longer dl — with
    # k1=1.2,b=0.75 the double 'cat' still outranks the single
    assert [d for _, d, _, _ in sorted(by_q[0])] == [1, 2]
    # q1: doc 4 matches rare 'fish' (df=1), doc 3 common 'dog' (df=2);
    # rare-term doc must rank first; doc 1 matches 'dog' too
    ranked_q1 = [d for _, d, _, _ in sorted(by_q[1])]
    assert ranked_q1[0] == 4 and set(ranked_q1) == {1, 3, 4}
    # q2: term absent from corpus -> no rows at all
    assert 2 not in by_q
    # every score positive, ranks contiguous from 1
    for rows_ in by_q.values():
        assert [rk for rk, *_ in sorted(rows_)] == list(range(1, len(rows_) + 1))
        assert all(s > 0 for *_, s in rows_)


def test_bm25_two_stage_equals_plain_window(spark):
    # 60 docs sharing one term with varying tf — the bucketed two-stage
    # top-k must equal the naive global ordering
    docs = spark.createDataFrame(
        [(i, " ".join(["term"] * (i % 7 + 1) + ["pad"] * (i % 5))) for i in range(60)],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, "term")], "qid long, term string")
    out = bm25_topk(docs, q, k=8).orderBy("rank").collect()
    scored = {r["doc_id"]: r["score_ppm"] for r in bm25_topk(docs, q, k=60).collect()}
    expect = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [(r["doc_id"], r["score_ppm"]) for r in out] == expect


def test_triangle_counts_k4_and_square(spark):
    from interpro7_dw_spark.operators.graph import triangle_counts

    # K4: 4 triangles, every node in exactly 3; square 10-13: none;
    # duplicates / reversed edges / self-loops must not change counts
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    square = [(10, 11), (11, 12), (12, 13), (13, 10)]
    noise = [(2, 1), (3, 3), (4, 2)]
    df = spark.createDataFrame(k4 + square + noise, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_matches_bruteforce_with_hub(spark):
    from itertools import combinations

    from interpro7_dw_spark.operators.graph import triangle_counts

    # hub node 0 connected to everyone (the "last reducer" shape) plus
    # a deterministic sparse remainder
    edges = [(0, i) for i in range(1, 30)]
    edges += [(i, (i * 7) % 29 + 1) for i in range(1, 30)]
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    df = spark.createDataFrame(list(canon), "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == expect and sum(expect.values()) % 3 == 0


def test_bm25_persisted_index_matches_inline(spark, tmp_path):
    """write_inverted_index + bm25_topk_on_index == bm25_topk inline —
    the index is a pure re-layout — and the postings scan must carry a
    static shard IN (...) partition filter (built from the query's
    bounded distinct-shard set), not a full-index scan."""
    from interpro7_dw_spark.operators.retrieval import (
        bm25_topk_on_index,
        write_inverted_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "bm25")
    write_inverted_index(docs, path, n_shards=8)
    q = spark.createDataFrame(
        [(0, "hash"), (0, "merge"), (1, "table")], "qid long, term string"
    )
    out = bm25_topk_on_index(q, path, k=7, n_shards=8)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, bm25_topk(docs, q, k=7).collect()))
    assert got == want and len(got) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    # long tmp paths get truncated out of the Location field, so key
    # off the scanned columns instead: the postings scan reads tf/dl
    index_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and ("tf#" in ln or "df#" in ln)
    ]
    assert index_scans
    assert all(
        "shard#" in ln and " IN (" in ln for ln in index_scans
    ), index_scans[0][:500]


def test_grouped_quantiles_exact_matches_sorted_pick(spark):
    import random

    from interpro7_dw_spark.operators.quantiles import grouped_quantiles_exact

    rng = random.Random(7)
    rows = []
    data = {}
    for key, cnt in (("a", 101), ("b", 4), ("c", 1)):
        vals = [round(rng.uniform(-5, 5), 3) for _ in range(cnt)]
        vals += vals[: cnt // 3]  # force duplicates
        data[key] = sorted(vals)
        rows += [(key, v) for v in vals]
    df = spark.createDataFrame(rows, "user_id string, value double")
    out = grouped_quantiles_exact(df, "user_id", "value", n_ranges=8)
    got = {(r["key"], r["q_ppm"]): (r["n"], r["quantile_value"]) for r in out.collect()}
    for key, vals in data.items():
        n = len(vals)
        for q in (250_000, 500_000, 750_000):
            r = q * (n - 1) // 1_000_000 + 1
            assert got[(key, q)] == (n, vals[r - 1]), (key, q)
    assert len(got) == 9


def test_grouped_quantiles_null_and_constant(spark):
    from interpro7_dw_spark.operators.quantiles import grouped_quantiles_exact

    df = spark.createDataFrame(
        [("k", 3.0), ("k", 3.0), ("k", None), ("k", 3.0)],
        "user_id string, value double",
    )
    out = grouped_quantiles_exact(df, "user_id", "value", q_ppms=[500_000])
    assert [tuple(r) for r in out.collect()] == [("k", 500_000, 3, 3.0)]


def test_minimizers_shift_robust_and_bruteforce(spark):
    import hashlib

    from interpro7_dw_spark.operators.text import minimizer_fingerprints

    k, w = 4, 3
    s = "the quick brown fox jumps over it"
    docs = spark.createDataFrame(
        [(1, s), (2, "XYZPAD" + s)], "doc_id long, text string"
    )
    out = minimizer_fingerprints(docs, k=k, window=w)
    rows = out.collect()

    def brute(t):
        kms = [
            (
                int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16),
                i + 1,
                t[i : i + k],
            )
            for i in range(len(t) - k + 1)
        ]
        picked = set()
        for j in range(len(kms) - w + 1):
            picked.add(min(kms[j : j + w]))
        return {(p, km, h) for h, p, km in picked}

    got1 = {(r["pos"], r["kmer"], r["h60"]) for r in rows if r["doc_id"] == 1}
    got2 = {(r["pos"], r["kmer"], r["h60"]) for r in rows if r["doc_id"] == 2}
    assert got1 == brute(s)
    assert got2 == brute("XYZPAD" + s)
    # shift-robustness: the shared suffix contributes the same k-mer
    # set (positions differ by the pad length)
    shared1 = {(km, h) for p, km, h in got1 if p > w * 2}
    shifted = {(km, h) for p, km, h in got2 if p > 6 + w * 2}
    assert shared1 and shared1 <= {(km, h) for _, km, h in got2}
    assert shifted <= {(km, h) for _, km, h in got1}


def test_mad_outliers_flags_only_the_spike(spark):
    from interpro7_dw_spark.operators.quantiles import mad_outliers

    rows = [("k", i, float(v)) for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 9, 500])]
    rows += [("const", 100 + i, 5.0) for i in range(4)] + [("const", 199, 6.0)]
    rows += [("k", 999, None)]
    df = spark.createDataFrame(rows, "user_id string, event_id long, value double")
    out = mad_outliers(df, "event_id", "user_id", "value")
    got = {r["id"]: r["is_outlier"] for r in out.collect()}
    assert 999 not in got            # null ignored
    assert got[8]                    # the 500 spike
    assert not any(got[i] for i in range(8))
    # MAD=0 key: any deviation flags
    assert got[199] and not got[100]


def test_gapfill_chunked_grid_wide_range(spark):
    """A key whose bucket range is 10^6 must gapfill without any
    single row materializing the whole range as one array (two-level
    chunked sequence; the r8 version built sequence(mn, mx) in one
    row)."""
    from interpro7_dw_spark.operators.timeseries import gapfill_locf

    sec = 1_000_000_000  # ns
    n = 1_000_000
    events = spark.createDataFrame(
        [("k", 0 * sec, 1.0, 1), ("k", n * sec, 2.0, 2)],
        "user_id string, ts long, value double, event_id long",
    )
    out = gapfill_locf(events, bucket_seconds=1)
    assert out.count() == n + 1
    got = {r.bucket_start_s: r for r in out.orderBy("bucket_start_s").limit(3).collect()}
    assert got[0].observed and got[0].value_filled == 1.0
    assert not got[1].observed and got[1].value_filled == 1.0
    last = out.orderBy(F.desc("bucket_start_s")).limit(1).collect()[0]
    assert last.observed and last.value_filled == 2.0


def test_ivm_plan_never_rescans_facts(spark, tmp_path):
    """Given a MATERIALIZED mart and a precomputed delta, the IVM
    merge plan must contain exactly one aggregate (the delta
    contributions) and one join (the mart merge) — the fact table
    never appears, which is the operator's entire scale claim."""
    from interpro7_dw_spark.operators.cdc import ivm_apply_group_agg

    mart_path = str(tmp_path / "mart")
    spark.createDataFrame(
        [("g1", 2, 30.0)], "g string, n_rows long, total double"
    ).write.parquet(mart_path)
    mart = spark.read.parquet(mart_path)
    delta = spark.createDataFrame(
        [(9, "insert", None, None, "g1", 5.0)],
        "k long, change_type string, old_g string, old_v double, "
        "new_g string, new_v double",
    )
    out = ivm_apply_group_agg(mart, delta, "g", "v")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1, plan
    assert plan.count("Join") == 1, plan
    got = {r.g: (r.n_rows, float(r.total)) for r in out.collect()}
    assert got == {"g1": (3, 35.0)}


def test_ewma_matches_sequential_reference(spark):
    """The chunk-composed EWMA must equal the plain sequential fold
    at the 6-place output rounding across chunk boundaries, for ANY
    chunk size (the affine carry A*s_in + B can differ from the pure
    elementwise fold by ULPs — the bit-for-bit contract is
    engine-vs-engine on the SAME chunk structure, which the z_ewma
    oracle checks) — and null values are excluded. Events span 3
    six-hour chunks."""
    from interpro7_dw_spark.operators.timeseries import ewma

    H = 3600 * 1_000_000_000
    rows = [
        ("u", 0 * H, 10.0, 1),
        ("u", 1 * H, 20.0, 2),
        ("u", 7 * H, 40.0, 3),    # chunk 1
        ("u", 13 * H, None, 4),   # excluded
        ("u", 14 * H, 80.0, 5),   # chunk 2
        ("v", 2 * H, 5.0, 6),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, value double, event_id long"
    )
    # sequential reference (s_0 = 0, a = 0.2), computed in Python with
    # the same double arithmetic
    a, om = 0.2, 0.8
    want, s = {}, 0.0
    for _, ts, x, eid in [r for r in rows if r[0] == "u" and r[2] is not None]:
        s = a * x + om * s
        want[("u", ts, eid)] = round(s, 6)
    s = a * 5.0 + om * 0.0
    want[("v", 2 * H, 6)] = round(s, 6)

    for chunk_s in (21_600, 3600, 10**9):  # multi-chunk, per-hour, single
        got = {
            (r.key, r.ts_ns, r.event_id): r.ewma
            for r in ewma(df, chunk_seconds=chunk_s).collect()
        }
        assert got == want, chunk_s


def test_ivm_group_agg_all_change_paths(spark):
    """Incremental maintenance must equal full re-aggregation through
    every change path on micro data: value update, group-moving
    update, delete emptying a group (leaves the mart), insert creating
    a new group, a NULL group key, and a null value (contributes 0)."""
    from interpro7_dw_spark.operators.cdc import (
        ivm_apply_group_agg,
        snapshot_delta_images,
    )

    old = spark.createDataFrame(
        [
            (1, "g1", 10.0), (2, "g1", 20.0),   # g1: one stays, one moves out
            (3, "g2", 5.0),                     # g2: deleted -> group gone
            (4, None, 7.0),                     # null group key
            (5, "g3", None),                    # null value counts, adds 0
        ],
        "k long, g string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "g1", 11.0),      # value update
            (2, "g4", 20.0),      # group move g1 -> g4 (new group)
            (4, None, 9.0),       # null-keyed group updated
            (5, "g3", None),      # unchanged
            (6, "g5", 3.0),       # insert, new group
        ],
        "k long, g string, v double",
    )
    mart = old.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.coalesce(F.col("v"), F.lit(0)).cast("decimal(18,4)"))
        .cast("decimal(18,4)").alias("total"),
    )
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    got = {
        r.g: (r.n_rows, float(r.total))
        for r in ivm_apply_group_agg(mart, delta, "g", "v").collect()
    }
    want = {
        r.g: (r.n_rows, float(r.total))
        for r in new.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").alias("total"),
        ).collect()
    }
    assert got == want
    assert "g2" not in got and got["g4"] == (1, 20.0) and got[None] == (1, 9.0)
    assert got["g3"] == (1, 0.0)


def test_gapfill_negative_buckets_not_dropped(spark):
    """Pre-1970 timestamps yield NEGATIVE buckets; the chunk ids must
    use floor semantics (trunc `DIV` would start the enumeration one
    chunk too high and silently drop every bucket in [mn, -1] outside
    the truncated first chunk — the r9 regression)."""
    sec = 1_000_000_000  # ns
    # buckets -5..-1 and +2 for key "a" (1s buckets)
    events = spark.createDataFrame(
        [("a", -5 * sec, 1.0, 1), ("a", 2 * sec, 9.0, 2)],
        "user_id string, ts long, value double, event_id long",
    )
    out = gapfill_locf(events, bucket_seconds=1)
    got = {r.bucket_start_s: r for r in out.collect()}
    # full grid -5..2 present (8 buckets), nothing dropped
    assert sorted(got) == list(range(-5, 3))
    assert got[-5].observed and got[-5].value_filled == 1.0
    assert all(got[b].value_filled == 1.0 for b in range(-5, 2))
    assert got[2].observed and got[2].value_filled == 9.0
    # same with a range crossing MANY chunk boundaries around zero
    events2 = spark.createDataFrame(
        [("a", -10 * sec, 3.0, 1), ("a", 10 * sec, 4.0, 2)],
        "user_id string, ts long, value double, event_id long",
    )
    out2 = gapfill_locf(events2, bucket_seconds=1, chunk=4)
    rows2 = out2.collect()
    assert len(rows2) == 21
    assert all(r.value_filled == (4.0 if r.bucket_start_s == 10 else 3.0)
               for r in rows2)


def test_gapfill_two_phase_fill_matches_single_chunk(spark):
    """The two-phase LOCF (per-(key, chunk) window + chunk-summary
    carry join-back) must equal the single-window semantics: run the
    same data with chunk=4 (many chunk boundaries, incl. chunks with
    no observation at all) and chunk=16384 (one chunk) and compare."""
    sec = 1_000_000_000
    rows = [
        ("a", 0 * sec, 1.0, 1),
        ("a", 1 * sec, 2.0, 2),
        ("a", 17 * sec, 7.0, 3),   # chunks 1..3 fully unobserved at chunk=4
        ("a", 30 * sec, 8.0, 4),
        ("b", 5 * sec, 4.0, 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, value double, event_id long"
    )
    small = gapfill_locf(df, bucket_seconds=1, chunk=4)
    big = gapfill_locf(df, bucket_seconds=1, chunk=16384)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))
    # plan guard: the fill window partitions by (key, chunk) — never
    # by the key alone, so no partition holds a key's whole grid
    plan = small._jdf.queryExecution().optimizedPlan().toString()
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "bucket" in spec:  # the phase-1 fill window (orders by bucket)
            assert "__c" in spec, spec


def test_ivm_minmax_maintained_equals_recomputed(spark):
    """ivm_apply_group_minmax — the retract-hard aggregates: cheap
    merges for inserts and inside-envelope retractions, per-group
    facts rescan ONLY where a retracted value ties/beats the current
    extremum. Engineered cases: min deleted with a TIE left behind
    (must not change), min deleted without tie (must rise), new global
    min inserted, group-moving update, group fully deleted."""
    from interpro7_dw_spark.operators.cdc import (
        ivm_apply_group_minmax,
        ivm_minmax_rescan_groups,
        snapshot_delta_images,
    )

    schema = "k long, g string, v double"
    old = spark.createDataFrame(
        [
            (1, "tie", 1.0), (2, "tie", 1.0), (3, "tie", 5.0),
            (4, "lift", 1.0), (5, "lift", 4.0),
            (6, "ins", 3.0), (7, "ins", 8.0),
            (8, "move", 2.0), (9, "move", 9.0),
            (10, "gone", 7.0),
            (11, "quiet", 0.0), (12, "quiet", 6.0),
            (13, "nulls", None), (14, "nulls", 2.5),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (2, "tie", 1.0), (3, "tie", 5.0),              # k=1 del: tie stays
            (5, "lift", 4.0),                               # k=4 del: min rises
            (6, "ins", 3.0), (7, "ins", 8.0), (15, "ins", -1.0),  # new min
            (8, "quiet", 2.0), (9, "move", 9.0),            # k=8 moves group
            (11, "quiet", 0.0), (12, "quiet", 6.0),
            (13, "nulls", None), (14, "nulls", 2.5),
        ],
        schema,
    )
    mart = old.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    got = {
        r.g: (r.n_rows, r.min_v, r.max_v)
        for r in ivm_apply_group_minmax(mart, delta, new, "g", "v").collect()
    }
    want = {
        r.g: (r.n_rows, r.min_v, r.max_v)
        for r in new.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        ).collect()
    }
    assert got == want and "gone" not in got
    assert got["tie"] == (2, 1.0, 5.0)          # tie preserved the min
    assert got["lift"] == (1, 4.0, 4.0)         # min rose after rescan
    assert got["ins"][1] == -1.0                # cheap-path new minimum
    # the rescan set is EXACTLY the extremum-touched groups: 'tie' and
    # 'lift' (min deleted), 'move' (its min left the group), 'gone'
    # (everything deleted) — NOT 'ins' (insert-only), NOT 'quiet'
    # (gained a row, lost none), NOT 'nulls' (untouched)
    rescan = {
        r.g for r in ivm_minmax_rescan_groups(mart, delta, "g", "v").collect()
    }
    assert rescan == {"tie", "lift", "move", "gone"}
    # facts reach the plan only through the semi-join branch
    plan = (
        ivm_apply_group_minmax(mart, delta, new, "g", "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan


def test_ivm_join_agg_all_change_paths(spark):
    """Join-view maintenance must equal full re-join + re-aggregation
    through every change path on micro data: fact value update, fact
    join-key move, fact delete/insert, dim group move, dim delete,
    dim insert, and the cross-term (a moved fact landing on an
    inserted dim row). Also: a group drained to zero leaves the mart,
    and a fact moved to a key with NO dim row stops contributing."""
    from pyspark.sql import functions as F

    from interpro7_dw_spark.operators.cdc import (
        ivm_apply_join_agg,
        snapshot_delta_images,
    )

    fact_old = spark.createDataFrame(
        [
            (1, 10, 5.0),    # value update -> 6.0
            (2, 10, 7.0),    # moved to key 40 (inserted dim) - cross-term
            (3, 20, 9.0),    # deleted
            (4, 20, 11.0),   # survives; dim 20 moves group g2 -> g9
            (5, 30, 13.0),   # dim 30 deleted -> contribution retracts
            (6, 10, None),   # null value contributes 0, counts 1
        ],
        "fk long, k long, v double",
    )
    fact_new = spark.createDataFrame(
        [
            (1, 10, 6.0),
            (2, 40, 7.0),
            (4, 20, 11.0),
            (5, 30, 13.0),
            (6, 10, None),
            (7, 99, 1.0),    # inserted, key 99 has no dim row -> dropped
        ],
        "fk long, k long, v double",
    )
    dim_old = spark.createDataFrame(
        [(10, "g1"), (20, "g2"), (30, "g3")], "k long, g string"
    )
    dim_new = spark.createDataFrame(
        [(10, "g1"), (20, "g9"), (40, "g4")], "k long, g string"
    )
    mart = (
        fact_old.join(dim_old, "k", "inner")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").alias("total"),
        )
    )
    fd = snapshot_delta_images(fact_old, fact_new, ["fk"], ["k", "v"])
    dd = snapshot_delta_images(dim_old, dim_new, ["k"], ["g"])
    out = ivm_apply_join_agg(mart, fact_old, fd, dim_new, dd, "k", "g", "v")
    got = {r.g: (r.n_rows, float(r.total)) for r in out.collect()}
    want_df = (
        fact_new.join(dim_new, "k", "inner")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").alias("total"),
        )
    )
    want = {r.g: (r.n_rows, float(r.total)) for r in want_df.collect()}
    assert got == want
    # the drained group g3 (dim 30 deleted) must have left the mart
    assert "g3" not in got
    # spot-check the cross-term landed: moved fact 2 on inserted dim 40
    assert got["g4"] == (1, 7.0)


def test_ivm_join_agg_plan_prunes_fact_rescan(spark, tmp_path):
    """The join-IVM scale claim: with materialized mart/delta inputs,
    the old fact table appears in the plan exactly once, UNDER a
    semi join against the (broadcast) dim-delta keys — never a free
    full-fact aggregate."""
    from interpro7_dw_spark.operators.cdc import ivm_apply_join_agg

    mart_path = str(tmp_path / "mart")
    facts_path = str(tmp_path / "facts")
    spark.createDataFrame(
        [("g1", 2, 30.0)], "g string, n_rows long, total double"
    ).write.parquet(mart_path)
    spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 25.0)], "fk long, k long, v double"
    ).write.parquet(facts_path)
    mart = spark.read.parquet(mart_path)
    fact_old = spark.read.parquet(facts_path)
    dim_new = spark.createDataFrame([(10, "g1"), (20, "g2")], "k long, g string")
    fd = spark.createDataFrame(
        [(9, "insert", None, None, 10, 5.0)],
        "fk long, change_type string, old_k long, old_v double, "
        "new_k long, new_v double",
    )
    dd = spark.createDataFrame(
        [(20, "insert", None, "g2")],
        "k long, change_type string, old_g string, new_g string",
    )
    out = ivm_apply_join_agg(mart, fact_old, fd, dim_new, dd, "k", "g", "v")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the facts parquet relation (columns fk, k, v) appears exactly
    # once, and only under the delta-key semi join
    assert plan.count("Relation [fk#") == 1, plan
    assert "LeftSemi" in plan, plan
    got = {r.g: (r.n_rows, float(r.total)) for r in out.collect()}
    assert got == {"g1": (3, 35.0), "g2": (1, 25.0)}


def _double_applied_delete(spark, maintainer):
    """Fold a changelog that deletes the only row of group g1 into the
    mart TWICE through ``maintainer``; returns the second fold."""
    from interpro7_dw_spark.operators.cdc import (
        ivm_apply_group_agg,
        ivm_apply_group_minmax,
        ivm_apply_join_agg,
        snapshot_delta_images,
    )

    old = spark.createDataFrame(
        [(1, "g1", 10, 4.0), (2, "g2", 20, 6.0)], "k long, g string, j long, v double"
    )
    new = old.filter(F.col("k") != 1)
    delta = snapshot_delta_images(old, new, ["k"], ["g", "j", "v"])
    n_rows = F.count(F.lit(1)).cast("long").alias("n_rows")
    total = F.sum(F.col("v").cast("decimal(18,4)")).cast("decimal(18,4)").alias("total")
    if maintainer == "group_agg":
        fold = lambda mart: ivm_apply_group_agg(mart, delta, "g", "v")
        mart = old.groupBy("g").agg(n_rows, total)
    elif maintainer == "minmax":
        fold = lambda mart: ivm_apply_group_minmax(mart, delta, new, "g", "v")
        mart = old.groupBy("g").agg(
            n_rows, F.min("v").alias("min_v"), F.max("v").alias("max_v")
        )
    else:
        # facts keyed k, joined on j to a static dim j -> g
        dim = old.select("j", "g")
        no_dim_change = snapshot_delta_images(dim, dim, ["j"], ["g"])
        fold = lambda mart: ivm_apply_join_agg(
            mart, old.select("k", "j", "v"),
            snapshot_delta_images(
                old.select("k", "j", "v"), new.select("k", "j", "v"), ["k"], ["j", "v"]
            ),
            dim, no_dim_change, "j", "g", "v",
        )
        mart = old.groupBy("g").agg(n_rows, total)
    once = fold(mart)
    assert sorted(r.g for r in once.collect()) == ["g2"]
    return fold(once)


@pytest.mark.parametrize("maintainer", ["group_agg", "minmax", "join_agg"])
def test_ivm_merge_double_applied_delete_raises(spark, maintainer):
    """A delete folded twice drives its group's count below zero: the
    group-agg, MIN/MAX and join-agg merges raise instead of silently
    dropping the group like a legitimate exit at zero."""
    twice = _double_applied_delete(spark, maintainer)
    with pytest.raises(Exception, match="negative maintained count"):
        twice.collect()
