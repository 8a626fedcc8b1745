"""Streaming tests: stateful sessionization across micro-batches and
the jsonify sink rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

GAP = 1_800_000_000  # 30 min in micros


def _run_sessionize(spark, src, chk, out):
    from interpro7_dw_spark.streaming.stateful import sessionize_stream

    stream = spark.readStream.schema("user_id long, ts_us long").parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)  # shared: state carries across runs
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_stateful_sessionization_across_batches(spark, tmp_path):
    src, chk, out = (str(tmp_path / d) for d in ("src", "chk", "out"))

    # batch 1: user 1 has two sessions (gap > 30min), second still open
    spark.createDataFrame(
        [(1, 0), (1, 1000), (1, GAP + 2000), (2, 0)], "user_id long, ts_us long"
    ).write.parquet(src)
    first = _run_sessionize(spark, src, chk, out)
    # only user 1's FIRST session closed (events at 0 and 1000)
    assert first == [(1, 0, 1000, 2)]

    # batch 2: an event far ahead closes both open sessions
    spark.createDataFrame(
        [(1, 3 * GAP), (2, 3 * GAP)], "user_id long, ts_us long"
    ).write.mode("append").parquet(src)
    second = _run_sessionize(spark, src, chk, out)
    assert (1, GAP + 2000, GAP + 2000, 1) in second  # user 1's open session closed
    assert (2, 0, 0, 1) in second                    # user 2's too
    assert (1, 0, 1000, 2) in second                 # batch-1 output retained


def test_watermarked_append_mode_counts(spark):
    # append-mode + watermark: exactly the windows finalized by the
    # last watermark emit; windows within `late` of the max event stay
    # in state (production late-data semantics on an unbounded feed)
    from interpro7_dw_spark.streaming.events_stream import watermarked_event_counts

    path = "/root/testdata/sf0.001/events.parquet"
    got = {
        (r["ws"], r["event_type"]): r["n"]
        for r in watermarked_event_counts(spark, path, "6 hours", "1 hour").collect()
    }
    # build the batch expectation through the same ts-normalization the
    # engine uses, so the test tolerates both parquet generations
    # (TIMESTAMP(NANOS) -> long, TIMESTAMP(MICROS) -> timestamp_ntz)
    from interpro7_dw_spark.sources.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )
    max_ts = ev.agg(F.max(F.col("ts").cast("double"))).collect()[0][0]
    horizon = max_ts - 3600  # watermark = max event time - late
    expected = {
        (r["ws"], r["event_type"]): r["n"]
        for r in (
            ev.groupBy(F.window("ts", "6 hours"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("window.start").cast("double").cast("long").alias("ws"),
                F.col("window.end").cast("double").alias("we"),
                "event_type",
                "n",
            )
            .filter(F.col("we") <= horizon)
            .collect()
        )
    }
    assert expected and got.keys() >= expected.keys()
    for k in expected:
        assert got[k] == expected[k]
    # nothing past the horizon may have been emitted as final
    assert all(ws + 6 * 3600 <= max_ts for ws, _ in got)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    # duplicate event_ids inside the watermark horizon collapse to one
    from interpro7_dw_spark.streaming.events_stream import dedup_event_stream

    src = tmp_path / "evdir"
    base = 1_700_000_000_000_000_000  # epoch nanos
    rows = [
        (1, base, "click", 1.0, None),
        (1, base + 60_000_000_000, "click", 1.0, None),  # dup id, +1 min
        (2, base + 120_000_000_000, "view", 2.0, None),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts long, event_type string, value double, props string"
    ).write.parquet(str(src / "events.parquet"))
    got = dedup_event_stream(spark, str(src / "events.parquet") + "/*.parquet").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2]


def test_jsonify_empty_to_null(spark):
    from interpro7_dw_spark.functions.json_out import jsonify

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None)], "id int, xs array<string>"
    ).select("id", jsonify(F.col("xs")).alias("js"))
    got = {r["id"]: r["js"] for r in df.collect()}
    assert got == {1: '["a","b"]', 2: None, 3: None}


def test_streaming_cms_equals_batch_sketch(spark):
    """The streamed CMS counter table must equal the batch-built
    sketch cell for cell — the mergeability property that makes a CMS
    a valid streaming aggregate — and the heavy-user estimates carry
    the one-sided guarantee."""
    from interpro7_dw_spark.operators.sketches import cms_build
    from interpro7_dw_spark.streaming.cms_stream import streaming_cms_heavy_users

    path = "/root/testdata/sf0.001/events.parquet"
    got = streaming_cms_heavy_users(spark, path, threshold=1).collect()
    assert len(got) > 0
    assert all(r.cms_est >= r.exact_n and r.overestimate >= 0 for r in got)
    # exact totals must be recoverable: sum over any single sketch row
    # equals the total event count (each row counts every occurrence)
    batch = (
        spark.read.parquet(path)
        .selectExpr("CAST(user_id AS STRING) AS key")
    )
    sketch = cms_build(batch, "key", depth=3, width=32)
    total = spark.read.parquet(path).count()
    per_row = {r.r: 0 for r in sketch.collect()}
    for r in sketch.collect():
        per_row[r.r] += r.cnt
    assert set(per_row.values()) == {total}


def _run_changes(spark, src, chk, out):
    from interpro7_dw_spark.streaming.stateful import change_stream

    stream = spark.readStream.schema(
        "user_id long, ts_us long, event_type string"
    ).parquet(src)
    q = (
        change_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_stateful_change_stream_across_batches(spark, tmp_path):
    """Only type CHANGES emit; carried state suppresses cross-batch
    repeats — the streaming sibling of the batch snapshot differ."""
    src, chk, out = (str(tmp_path / d) for d in ("csrc", "cchk", "cout"))

    spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (2, 10, "x")],
        "user_id long, ts_us long, event_type string",
    ).write.parquet(src)
    first = _run_changes(spark, src, chk, out)
    assert first == [
        (1, 10, "a", None),
        (1, 30, "b", "a"),
        (2, 10, "x", None),
    ]

    # batch 2: same type again -> suppressed by state; a change emits
    spark.createDataFrame(
        [(1, 40, "b"), (1, 50, "a"), (2, 40, "x")],
        "user_id long, ts_us long, event_type string",
    ).write.mode("append").parquet(src)
    second = _run_changes(spark, src, chk, out)
    assert (1, 50, "a", "b") in second
    assert (1, 40, "b", "a") not in second          # unchanged, suppressed
    assert sum(1 for r in second if r[0] == 2) == 1  # user 2 never re-emits


def test_streaming_ohlc_equals_batch(spark):
    """The streamed candlestick table must equal the batch operator
    run on the same fixture — the aggregate is mergeable, so the
    incremental maintenance cannot change any cell."""
    from interpro7_dw_spark.operators.timeseries import ohlc_bars
    from interpro7_dw_spark.sources.catalog import load_table
    from interpro7_dw_spark.streaming.events_stream import streaming_ohlc_bars

    sf = "/root/testdata/sf0.001"
    streamed = streaming_ohlc_bars(spark, f"{sf}/events.parquet")
    batch = ohlc_bars(load_table(spark, sf, "events"))
    key = lambda df: sorted(map(tuple, df.collect()))
    got, want = key(streamed), key(batch)
    assert got == want and len(got) > 0


def test_streaming_content_dedup_equals_batch(spark, tmp_path):
    """dedup_content_stream must emit each distinct CONTENT exactly
    once — including a duplicate arriving in a LATER file (separate
    micro-batch under availableNow) whose fingerprint is still in
    state within the watermark horizon."""
    from interpro7_dw_spark.streaming.dedup_stream import dedup_content_stream

    src = tmp_path / "docs"
    schema = "doc_id long, text string"
    # file 1: three docs, one internal duplicate pair
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], schema
    ).coalesce(1).write.mode("append").parquet(str(src / "documents.parquet"))
    # file 2: a cross-file duplicate (same content as doc 2) + a new doc
    spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], schema
    ).coalesce(1).write.mode("append").parquet(str(src / "documents.parquet"))
    got = sorted(
        r.fp for r in dedup_content_stream(
            spark, str(src / "documents.parquet") + "/*.parquet"
        ).collect()
    )
    import hashlib
    want = sorted(hashlib.md5(t.encode()).hexdigest() for t in ("alpha", "beta", "gamma"))
    assert got == want


def test_rowwise_simhash_equals_batch_and_stream_neardup(spark, tmp_path):
    """The map-side row-wise SimHash must be bit-identical to the
    batch two-aggregate operator, and the streaming near-dup stage
    must suppress a cross-file fingerprint duplicate (same token
    multiset, different doc) while keeping distinct contents."""
    from interpro7_dw_spark.operators.dedup import rowwise_simhash64, simhash
    from interpro7_dw_spark.streaming.dedup_stream import neardup_simhash_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch = {r.doc_id: r.simhash for r in simhash(docs, bits=64).collect()}
    roww = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", rowwise_simhash64().alias("sh")).collect()
    }
    assert batch == roww and len(batch) == docs.count()

    src = tmp_path / "docs"
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], schema
    ).coalesce(1).write.mode("append").parquet(str(src / "documents.parquet"))
    # token-permuted duplicate of doc 1 (same distinct-token set ->
    # same fingerprint) plus a new doc, in a later micro-batch
    spark.createDataFrame(
        [(3, "gamma alpha beta"), (4, "zeta")], schema
    ).coalesce(1).write.mode("append").parquet(str(src / "documents.parquet"))
    got = neardup_simhash_stream(
        spark, str(src / "documents.parquet") + "/*.parquet"
    ).collect()
    assert len(got) == 3  # doc 3 suppressed as a near-dup of doc 1


def test_streaming_session_window_gap_boundary(spark, tmp_path):
    """session_window merge rule at the boundary: a gap STRICTLY below
    30 min merges, a gap of exactly 30 min starts a NEW session
    (windows are [start, last+gap)); sess_end is last event + gap."""
    from interpro7_dw_spark.streaming.events_stream import (
        streaming_session_windows,
    )

    gap_ns = 1_800_000_000_000  # 30 min in nanos
    rows = [
        # u1: gaps of (exactly gap, gap + 1us): the touching window
        # MERGES (Spark coalesces end==start), the strictly-larger gap
        # starts a new session
        (1, "u1", 0, 1.0, "a"),
        (2, "u1", gap_ns, 2.0, "a"),
        (3, "u1", gap_ns + gap_ns + 1_000, 4.0, "a"),
        # u2: single event
        (4, "u2", 5_000_000_000, 8.0, "a"),
    ]
    src = tmp_path / "ev"
    spark.createDataFrame(
        rows, "event_id long, user_id string, ts long, value double, event_type string"
    ).coalesce(1).write.parquet(str(src / "events.parquet"))
    got = {
        (r.key, r.sess_start_us): (r.sess_end_us, r.n_events, r.total_value)
        for r in streaming_session_windows(
            spark, str(src / "events.parquet") + "/*.parquet"
        ).collect()
    }
    gap_us = 1_800_000_000
    assert got == {
        ("u1", 0): (2 * gap_us, 2, 3.0),
        ("u1", 2 * gap_us + 1): (3 * gap_us + 1, 1, 4.0),
        ("u2", 5_000_000): (5_000_000 + gap_us, 1, 8.0),
    }


def test_file_sink_equals_memory_sink(spark, tmp_path):
    """The production file-sink path (streaming/runner.py) must yield
    the same results as the memory sink the oracle harness uses —
    checked for an APPEND-mode stateful query (watermarked content
    dedup through the exactly-once parquet sink) and a COMPLETE-mode
    aggregate (the CMS sketch through foreachBatch overwrite). No
    result row transits the driver on the files path."""
    from interpro7_dw_spark.streaming.cms_stream import streaming_cms_heavy_users
    from interpro7_dw_spark.streaming.dedup_stream import dedup_content_stream

    src = tmp_path / "docs"
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")], schema
    ).coalesce(1).write.parquet(str(src / "documents.parquet"))
    docs = str(src / "documents.parquet") + "/*.parquet"
    mem = sorted(r.fp for r in dedup_content_stream(spark, docs).collect())
    fil = sorted(
        r.fp
        for r in dedup_content_stream(
            spark, docs, sink="files", sink_dir=str(tmp_path / "dedup_sink")
        ).collect()
    )
    assert mem == fil and len(mem) == 3

    events = "/root/testdata/sf0.001/events.parquet"
    key = lambda df: sorted(map(tuple, df.collect()))
    mem_cms = key(streaming_cms_heavy_users(spark, events))
    fil_cms = key(
        streaming_cms_heavy_users(
            spark, events, sink="files", sink_dir=str(tmp_path / "cms_sink")
        )
    )
    assert mem_cms == fil_cms and len(mem_cms) > 0


def test_streaming_ivm_equals_batch_recompute(spark, tmp_path):
    """Continuous mart maintenance: a changelog split across TWO files
    (forced into separate micro-batches) folded through per-epoch IVM
    merges must equal the batch re-aggregation of the final snapshot —
    IVM contributions are additive, so any micro-batch partitioning
    converges to the same mart."""
    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.ivm_stream import maintain_group_agg_stream

    schema = "k long, g string, v double"
    old = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 5.0)], schema
    )
    new = spark.createDataFrame(
        [(1, "g1", 11.0), (2, "g3", 20.0), (4, "g2", 7.0)], schema
    )
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    src = tmp_path / "changes"
    # two files -> two micro-batches under maxFilesPerTrigger=1
    delta.filter("k <= 2").coalesce(1).write.mode("append").parquet(str(src))
    delta.filter("k > 2").coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # seed epoch -1 with the OLD snapshot's aggregate
    state = str(tmp_path / "mart")
    old.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("v").cast("decimal(18,4)")).cast("decimal(18,4)").alias("total"),
    ).write.parquet(state + "/v0")
    got = {
        r.g: (r.n_rows, float(r.total))
        for r in maintain_group_agg_stream(spark, stream, state, "g", "v").collect()
    }
    want = {
        r.g: (r.n_rows, float(r.total))
        for r in new.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,4)"))
            .cast("decimal(18,4)").alias("total"),
        ).collect()
    }
    assert got == want and "g3" in got
    # at least two mart versions materialized beyond the seed
    import os

    versions = sorted(p for p in os.listdir(state) if p.startswith("v"))
    assert len(versions) >= 3, versions


def test_dedup_stream_rejects_non_integral_id(spark, tmp_path):
    """A string doc_id would cast to null event time and the
    watermarked dedup would silently emit NOTHING — the stream must
    fail fast instead."""
    import pytest

    from interpro7_dw_spark.streaming.dedup_stream import (
        dedup_content_stream,
        neardup_simhash_stream,
    )

    src = tmp_path / "docs"
    spark.createDataFrame(
        [("a", "alpha")], "doc_id string, text string"
    ).coalesce(1).write.parquet(str(src / "documents.parquet"))
    path = str(src / "documents.parquet") + "/*.parquet"
    with pytest.raises(TypeError, match="integral"):
        dedup_content_stream(spark, path)
    with pytest.raises(TypeError, match="integral"):
        neardup_simhash_stream(spark, path)


def _mart_dict(df):
    return {r[0]: (r[1], float(r[2])) for r in df.collect()}


def _group_agg(df, g="g", v="v"):
    return df.groupBy(g).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(v).cast("decimal(18,4)")).cast("decimal(18,4)").alias("total"),
    )


def _two_files(delta, src, cond):
    """Write ``delta`` as two changelog files (``cond`` and the rest):
    two micro-batches under maxFilesPerTrigger=1."""
    delta.filter(cond).coalesce(1).write.mode("append").parquet(src)
    delta.filter(~F.expr(cond)).coalesce(1).write.mode("append").parquet(src)


def _file_stream(spark, schema, src):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _replay_group_agg(spark, state, src):
    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.ivm_stream import maintain_group_agg_stream

    schema = "k long, g string, v double"
    old = spark.createDataFrame([(1, "g1", 10.0), (2, "g2", 5.0)], schema)
    new = spark.createDataFrame([(1, "g1", 12.0), (3, "g2", 7.0)], schema)
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    _two_files(delta, src, "k <= 1")
    _group_agg(old).write.parquet(state + "/v0")  # seed: OLD aggregate

    def run():
        return maintain_group_agg_stream(
            spark, _file_stream(spark, delta.schema, src), state, "g", "v"
        )

    return run, state, _mart_dict, _mart_dict(_group_agg(new))


def _replay_topk(spark, state, src):
    from interpro7_dw_spark.streaming.ivm_stream import maintain_group_topk_stream

    rows = spark.createDataFrame(
        [("u", 1, 10.0), ("u", 2, 30.0), ("u", 3, 20.0), ("v", 4, 1.0)],
        "k string, id long, v double",
    )
    _two_files(rows, src, "id <= 2")

    def run():
        return maintain_group_topk_stream(
            spark, _file_stream(spark, rows.schema, src), state, "k", "v", "id",
            k=2,
        )

    def key(df):
        return {(r.k, r.rank): (r.id, r.v) for r in df.collect()}

    want = {("u", 1): (2, 30.0), ("u", 2): (3, 20.0), ("v", 1): (4, 1.0)}
    return run, state, key, want


def _replay_join_agg(spark, state, src):
    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.ivm_stream import maintain_join_agg_stream

    schema = "fk long, k long, v double"
    fact_old = spark.createDataFrame([(1, 10, 5.0), (2, 20, 7.0)], schema)
    fact_new = spark.createDataFrame([(1, 20, 6.0), (3, 10, 1.0)], schema)
    dim = spark.createDataFrame([(10, "g1"), (20, "g2")], "k long, g string")
    facts_dir = state + "_facts"
    fact_old.write.parquet(facts_dir)
    delta = snapshot_delta_images(fact_old, fact_new, ["fk"], ["k", "v"])
    _two_files(delta, src, "fk <= 1")

    def run():
        return maintain_join_agg_stream(
            spark, _file_stream(spark, delta.schema, src), dim, state,
            facts_dir, "k", "g", "v",
        )

    want = _mart_dict(_group_agg(fact_new.join(dim, "k")))
    return run, state, _mart_dict, want


def _minmax_dict(df):
    return {r.g: (r.n_rows, r.min_v, r.max_v) for r in df.collect()}


def _minmax_agg(df):
    return df.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


def _replay_minmax(spark, state, src):
    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.minmax_stream import (
        maintain_group_minmax_stream,
        seed_minmax_state,
    )

    schema = "k long, g long, v double"
    old = spark.createDataFrame([(i, i % 3, float(i)) for i in range(9)], schema)
    new = old.filter("k <> 0").union(
        spark.createDataFrame([(20, 1, -2.0)], schema)
    )
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    _two_files(delta, src, "k <= 1")
    seed_minmax_state(spark, old, state, "g", "v", n_buckets=4)

    def run():
        return maintain_group_minmax_stream(
            spark, _file_stream(spark, delta.schema, src), state, "g", "v",
            ["k"], n_buckets=4,
        )

    return run, state + "/mart", _minmax_dict, _minmax_dict(_minmax_agg(new))


_REPLAY_CASES = {
    "group_agg": _replay_group_agg,
    "topk": _replay_topk,
    "join_agg": _replay_join_agg,
    "minmax": _replay_minmax,
}


@pytest.mark.parametrize("maintainer", list(_REPLAY_CASES))
def test_streaming_ivm_replay_is_idempotent(spark, tmp_path, maintainer):
    """foreachBatch is at-least-once: a micro-batch whose merge
    committed (_SUCCESS written) but whose checkpoint did not is
    REPLAYED on restart. Simulate the worst case — the ENTIRE
    changelog replayed against a fully-maintained mart (fresh
    checkpoint, same state dir) — and assert every replayed epoch is
    a no-op for every maintainer: same final mart, ZERO new
    versions."""
    import os
    import shutil

    state = str(tmp_path / "mart")
    run, versions_dir, key, want = _REPLAY_CASES[maintainer](
        spark, state, str(tmp_path / "changes")
    )
    first = key(run())
    versions_after_first = sorted(os.listdir(versions_dir))
    # drop the checkpoint: the rerun replays every epoch from scratch,
    # exactly what an at-least-once retry of a committed merge looks like
    shutil.rmtree(state + "_chk")
    second = key(run())
    assert second == first == want
    assert sorted(os.listdir(versions_dir)) == versions_after_first


def _half_write_group_agg(spark, state, src, keep_last):
    import os

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.ivm_stream import maintain_group_agg_stream

    schema = "k long, g string, v double"
    old = spark.createDataFrame([(1, "g1", 10.0)], schema)
    new = spark.createDataFrame([(1, "g1", 11.0), (2, "g2", 3.0)], schema)
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    _two_files(delta, src, "k = 1")
    # seed v0 with the OLD aggregate, then fake a crashed half-write at
    # v1 with POISONED numbers (if it were ever read as a parent, the
    # final totals would be wrong) and no _SUCCESS
    _group_agg(old).write.parquet(state + "/v0")
    spark.createDataFrame(
        [("g1", 999, 999.0)], "g string, n_rows long, total double"
    ).select(
        "g", "n_rows", F.col("total").cast("decimal(18,4)").alias("total")
    ).write.parquet(state + "/v1_e9")
    os.remove(os.path.join(state, "v1_e9", "_SUCCESS"))
    got = _mart_dict(
        maintain_group_agg_stream(
            spark, _file_stream(spark, delta.schema, src), state, "g", "v",
            keep_last=keep_last,
        )
    )
    return got, _mart_dict(_group_agg(new)), state


def _half_write_minmax(spark, state, src, keep_last):
    import os

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.minmax_stream import (
        maintain_group_minmax_stream,
        seed_minmax_state,
    )

    schema = "k long, g long, v double"
    old = spark.createDataFrame([(1, 1, 10.0), (3, 2, 4.0)], schema)
    new = spark.createDataFrame([(1, 1, 11.0), (2, 2, 3.0), (3, 2, 4.0)], schema)
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    _two_files(delta, src, "k = 1")
    seed_minmax_state(spark, old, state, "g", "v", n_buckets=4)
    # a crashed mart half-write with POISONED extrema and no _SUCCESS
    spark.createDataFrame(
        [(1, 999, -999.0, 999.0)],
        "g long, n_rows long, min_v double, max_v double",
    ).write.parquet(state + "/mart/v1_e9")
    os.remove(os.path.join(state, "mart", "v1_e9", "_SUCCESS"))
    got = _minmax_dict(
        maintain_group_minmax_stream(
            spark, _file_stream(spark, delta.schema, src), state, "g", "v",
            ["k"], n_buckets=4, keep_last=keep_last,
        )
    )
    return got, _minmax_dict(_minmax_agg(new)), state + "/mart"


@pytest.mark.parametrize(
    "half_write, keep_last",
    [
        pytest.param(_half_write_group_agg, 1, id="group_agg"),
        pytest.param(_half_write_minmax, None, id="minmax"),
    ],
)
def test_streaming_ivm_half_write_ignored_and_vacuumed(
    spark, tmp_path, half_write, keep_last
):
    """A crashed half-write (version dir without _SUCCESS) must never
    be read as a parent and must be swept by the post-epoch vacuum,
    with or without ``keep_last``; keep_last=1 retains only the newest
    committed version, keep_last=None every committed one."""
    import os

    got, want, versions_dir = half_write(
        spark, str(tmp_path / "mart"), str(tmp_path / "changes"), keep_last
    )
    assert got == want
    names = sorted(p for p in os.listdir(versions_dir) if p.startswith("v"))
    # half-write swept
    assert "v1_e9" not in names
    if keep_last == 1:
        # keep_last=1 leaves exactly the newest committed
        assert len(names) == 1 and names[0].startswith("v2")
    else:
        assert names == ["v0", "v1_e0", "v2_e1"]


@pytest.mark.parametrize("keep_last", [0, -1])
def test_streaming_ivm_rejects_keep_last_below_one(spark, tmp_path, keep_last):
    """``keep_last`` counts the committed versions a vacuum retains:
    0 would index the OLDEST version and silently keep all, -1 would
    delete v0 after the first epoch. Both raise before any write, and
    the state is left as it was."""
    import os

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.ivm_stream import maintain_group_agg_stream

    schema = "k long, g string, v double"
    old = spark.createDataFrame([(1, "g1", 10.0)], schema)
    new = spark.createDataFrame([(1, "g1", 11.0), (2, "g2", 3.0)], schema)
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    src, state = str(tmp_path / "changes"), str(tmp_path / "mart")
    _two_files(delta, src, "k = 1")
    _group_agg(old).write.parquet(state + "/v0")

    def tree():
        return sorted(
            os.path.relpath(os.path.join(d, f), tmp_path)
            for d, _dirs, files in os.walk(tmp_path)
            for f in files
        )

    before = tree()
    with pytest.raises(ValueError, match="keep_last"):
        maintain_group_agg_stream(
            spark, _file_stream(spark, delta.schema, src), state, "g", "v",
            keep_last=keep_last,
        )
    assert tree() == before


def test_read_buckets_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """Every bucket-store read passes the store's recorded schema, so
    it runs no Spark job however its buckets resolve — a full read, a
    read served by a version whose touched buckets were all emptied,
    and a read of buckets no version carries — and each returns the
    store's schema. A resolved version directory that is gone by the
    time of the read makes it raise, not read as empty."""
    import shutil

    from pyspark.errors import AnalysisException

    from interpro7_dw_spark.streaming import versions
    from interpro7_dw_spark.testing import max_job_id

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(f"P{i}", i) for i in range(5)], "protein_acc string, n long"
    )
    versions.seed_buckets(store, df, "protein_acc", 8)
    seeded = sorted(versions._version_buckets(spark, store, "v0"))
    emptied = seeded[:1]
    never = sorted(set(range(8)) - set(seeded))
    assert never  # 5 rows cannot fill 8 buckets
    # version 1 deletes every row of the bucket it touches
    versions.write_buckets(
        spark, store, "v1_e0", df.limit(0), "protein_acc", 8, emptied
    )
    versions.commit(spark, f"{store}/v1_e0")
    gone = {tuple(r) for r in versions.read_buckets(spark, store, 0, emptied).collect()}
    assert gone

    for buckets, want in (
        (None, {tuple(r) for r in df.collect()} - gone),
        (emptied, set()),
        (never, set()),
    ):
        j0 = max_job_id(spark)
        read = versions.read_buckets(spark, store, 1, buckets)
        assert max_job_id(spark) == j0, buckets
        assert read.schema.simpleString() == df.schema.simpleString()
        assert {tuple(r) for r in read.collect()} == want, buckets

    resolve = versions._bucket_sources

    def resolve_then_lose(*args, **kwargs):
        served = resolve(*args, **kwargs)
        shutil.rmtree(f"{store}/{next(iter(served))}")
        return served

    monkeypatch.setattr(versions, "_bucket_sources", resolve_then_lose)
    with pytest.raises(AnalysisException):
        versions.read_buckets(spark, store, 1)


def test_streaming_ivm_many_epochs_cost_tracks_delta(spark, tmp_path):
    """Multi-epoch stressor: ~40 changelog epochs of interleaved
    inserts/updates/deletes folded one file per micro-batch; maintained
    mart == batch recompute at three checkpoints, and the per-epoch
    SPARK JOB COUNT stays constant (cost follows |delta| + touched
    groups, not mart age) — the deterministic resource invariant;
    wall-clock medians flake on loaded machines, job counts don't."""
    import statistics

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming import ivm_stream
    from interpro7_dw_spark.streaming.ivm_stream import maintain_group_agg_stream
    from interpro7_dw_spark.testing import max_job_id

    n_epochs = 40
    rows = {k: ("g%d" % (k % 7), float(k)) for k in range(60)}

    def snap(d):
        return spark.createDataFrame(
            [(k, g, v) for k, (g, v) in sorted(d.items())],
            "k long, g string, v double",
        )

    src = str(tmp_path / "changes")
    cur = dict(rows)
    job_marks: list[int] = []
    orig_step_host = ivm_stream.ivm_apply_group_agg
    state = str(tmp_path / "mart")
    _group_agg(snap(rows)).write.parquet(state + "/v0")  # seed: initial snapshot
    schema = snapshot_delta_images(
        snap(rows), snap(rows), ["k"], ["g", "v"]
    ).schema

    def timed_apply(*a, **kw):
        # one call per applied epoch: consecutive diffs of this
        # monotonic job-id mark are the per-epoch job counts
        job_marks.append(max_job_id(spark))
        return orig_step_host(*a, **kw)

    def drain():
        # same checkpoint each time: the stream resumes at the next
        # unseen file, epoch ids keep climbing monotonically
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return _mart_dict(
            maintain_group_agg_stream(spark, stream, state, "g", "v", keep_last=3)
        )

    checkpoint_epochs = (9, 24, n_epochs - 1)
    ivm_stream.ivm_apply_group_agg = timed_apply
    try:
        for e in range(n_epochs):
            nxt = dict(cur)
            nxt[1000 + e] = ("g%d" % (e % 7), 0.5 * e)        # insert
            upd = (e * 3) % 60
            if upd in nxt:                                     # update (moves group)
                nxt[upd] = ("g%d" % ((e + 1) % 7), nxt[upd][1] + 1)
            nxt.pop((e * 5) % 60, None)                        # delete (if present)
            delta = snapshot_delta_images(snap(cur), snap(nxt), ["k"], ["g", "v"])
            delta.coalesce(1).write.mode("append").parquet(src)
            cur = nxt
            if e in checkpoint_epochs:
                # drain everything written so far and compare the
                # MAINTAINED mart against the batch recompute of the
                # current snapshot — mid-history, not just at the end
                assert drain() == _mart_dict(_group_agg(snap(cur))), e
    finally:
        ivm_stream.ivm_apply_group_agg = orig_step_host
    # per-epoch job counts from merge-start mark deltas: constant ==
    # cost tracks |delta| + touched groups, never mart age. Medians
    # of thirds are robust to the checkpoint gaps (which include the
    # recompute's own jobs); +2 slack for AQE re-planning a stage
    # boundary on a skewed delta.
    gaps = [b - a for a, b in zip(job_marks, job_marks[1:])]
    assert len(gaps) >= n_epochs - 2
    third = len(gaps) // 3
    early = statistics.median(gaps[:third])
    late = statistics.median(gaps[-third:])
    assert late <= early + 2, (early, late, gaps)
    # maintained mart at intermediate checkpoints: replay from retained
    # versions is covered by keep_last=3; verify version count bounded
    import os

    committed = [
        p
        for p in os.listdir(state)
        if p.startswith("v") and os.path.exists(os.path.join(state, p, "_SUCCESS"))
    ]
    assert len(committed) <= 3


def test_run_stream_files_sink_hygiene(spark, tmp_path):
    """files-sink contract: a zero-micro-batch source returns an EMPTY
    DataFrame with the query's schema (not a missing-path throw), and
    a reused sink_dir is rejected (it would silently resume the old
    checkpoint and mix stale committed rows into the result)."""
    import pytest

    from interpro7_dw_spark.streaming.runner import run_stream

    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("k long, v double").parquet(str(src))
    out = stream.groupBy("k").count()
    got = run_stream(
        spark, out, "complete", sink="files", sink_dir=str(tmp_path / "s1")
    )
    assert got.count() == 0 and got.columns == ["k", "count"]
    # now a real row, fresh sink: one batch flows
    spark.createDataFrame([(1, 2.0)], "k long, v double").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stream2 = spark.readStream.schema("k long, v double").parquet(str(src))
    got2 = run_stream(
        spark,
        stream2.groupBy("k").count(),
        "complete",
        sink="files",
        sink_dir=str(tmp_path / "s2"),
    )
    assert got2.count() == 1
    with pytest.raises(ValueError, match="fresh"):
        run_stream(
            spark,
            stream2.groupBy("k").count(),
            "complete",
            sink="files",
            sink_dir=str(tmp_path / "s2"),
        )


def test_streaming_ewma_equals_batch(spark, tmp_path):
    """streaming/ewma_stream.py — when micro-batch boundaries align
    with the batch operator's time chunks, the streamed per-event
    EWMA equals operators/timeseries.py::ewma BIT-FOR-BIT (same
    folds, same multiply-add order, same shortest-repr HALF_UP
    round); an out-of-order batch fails fast."""
    import os

    from interpro7_dw_spark.operators.timeseries import ewma
    from interpro7_dw_spark.streaming.ewma_stream import ewma_stream
    from interpro7_dw_spark.streaming.runner import run_stream

    chunk_ns = 21_600 * 1_000_000_000
    rows = []
    eid = 0
    for c in range(4):                      # 4 six-hour chunks
        for u in (1, 2, 3):
            for j in range(7):
                eid += 1
                rows.append(
                    (u, c * chunk_ns + j * 901_000_000_000 + u,
                     eid, ((eid * 37) % 113) / 7.0 - 3.0)
                )
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, value double"
    )
    src = tmp_path / "ev"
    stamped: set[str] = set()
    for c in range(4):                      # one file per chunk, in order
        df.filter(
            (F.col("ts") >= c * chunk_ns) & (F.col("ts") < (c + 1) * chunk_ns)
        ).coalesce(1).write.mode("append").parquet(str(src))
        # stamp only the files THIS chunk added, with increasing
        # mtimes, so the file source replays them in chunk order
        for root, _dirs, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if p not in stamped:
                    t = 1_700_000_000 + 100 * c
                    os.utime(p, (t, t))
                    stamped.add(p)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = sorted(
        map(tuple, run_stream(spark, ewma_stream(stream), "append").collect())
    )
    want = sorted(map(tuple, ewma(df).collect()))
    assert got == want and len(got) == len(rows)


def test_streaming_minmax_ivm_copy_on_write(spark, tmp_path):
    """streaming/minmax_stream.py — continuous MIN/MAX maintenance
    over a copy-on-write bucket store: maintained mart == batch
    recompute after multi-batch changes (extremum deletions, ties,
    group moves, inserts), the resolved facts == the final snapshot,
    and UNTOUCHED buckets are never rewritten (their only version
    stays v0)."""
    import os

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.minmax_stream import (
        maintain_group_minmax_stream,
        seed_minmax_state,
    )
    from interpro7_dw_spark.streaming.versions import read_buckets

    n_buckets = 8
    schema = "k long, g long, v double"
    old_rows = [(i, i % 20, float((i * 7) % 50)) for i in range(200)]
    old = spark.createDataFrame(old_rows, schema)
    # engineered mix: delete every %9 row (some are group minima,
    # including ties), move every %13 row to a new group, bump every
    # %5 value, insert fresh rows incl. a new global minimum
    d = {k: (g, v) for k, g, v in old_rows}
    new_d = {}
    for k, (g, v) in d.items():
        if k % 9 == 0:
            continue
        g2 = (g + 3) % 20 if k % 13 == 0 else g
        v2 = v + 1 if k % 5 == 0 else v
        new_d[k] = (g2, v2)
    for j in range(8):
        new_d[1000 + j] = (j % 20, -5.0 - j)
    new = spark.createDataFrame(
        [(k, g, v) for k, (g, v) in sorted(new_d.items())], schema
    )
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    src = tmp_path / "changes"
    for part in range(3):   # three micro-batches
        delta.filter(F.col("k") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    state = str(tmp_path / "mmx")
    seed_minmax_state(spark, old, state, "g", "v", n_buckets=n_buckets)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = {
        r.g: (r.n_rows, r.min_v, r.max_v)
        for r in maintain_group_minmax_stream(
            spark, stream, state, "g", "v", ["k"],
            n_buckets=n_buckets, keep_last=2,
        ).collect()
    }
    want = {
        r.g: (r.n_rows, r.min_v, r.max_v)
        for r in new.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        ).collect()
    }
    assert got == want
    # the resolved copy-on-write facts equal the final snapshot
    latest = max(
        int(p[1:].split("_e")[0])
        for p in os.listdir(state + "/mart")
        if p.startswith("v")
    )
    resolved = sorted(
        map(tuple, read_buckets(spark, state + "/facts", latest).collect())
    )
    assert resolved == sorted(map(tuple, new.collect()))
    # version-major layout: facts/<v..>/__b=<i>/ — committed version
    # dirs exist, each holds bucket partitions, and vacuum under
    # keep_last=2 bounds the retained facts versions (seed + epochs,
    # minus partition-granular sweeps)
    fact_versions = sorted(
        p for p in os.listdir(state + "/facts") if p.startswith("v")
    )
    assert fact_versions
    assert all(
        any(x.startswith("__b=") for x in os.listdir(f"{state}/facts/{p}"))
        for p in fact_versions
    ), fact_versions


def test_streaming_minmax_untouched_bucket_not_rewritten(spark, tmp_path):
    """A changelog touching ONE group must rewrite only that group's
    bucket: every other bucket keeps exactly its seed version."""
    import os

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.minmax_stream import (
        maintain_group_minmax_stream,
        seed_minmax_state,
    )

    n_buckets = 8
    schema = "k long, g long, v double"
    old = spark.createDataFrame(
        [(i, i % 6, float(i)) for i in range(60)], schema
    )
    new = old.filter("k <> 12")  # delete one row of group 0 (its min is k=0)
    delta = snapshot_delta_images(old, new, ["k"], ["g", "v"])
    src = tmp_path / "chg"
    delta.coalesce(1).write.parquet(str(src))
    state = str(tmp_path / "mmx1")
    seed_minmax_state(spark, old, state, "g", "v", n_buckets=n_buckets)
    stream = spark.readStream.schema(delta.schema).parquet(str(src))
    got = {
        r.g: (r.n_rows, r.min_v, r.max_v)
        for r in maintain_group_minmax_stream(
            spark, stream, state, "g", "v", ["k"], n_buckets=n_buckets
        ).collect()
    }
    assert got[0] == (9, 0.0, 54.0)
    # version-major layout: the epoch's version dir must carry exactly
    # ONE __b= partition (the touched group's bucket); every other
    # bucket stays served by its seed-v0 partition
    new_versions = sorted(
        p
        for p in os.listdir(state + "/facts")
        if p.startswith("v") and p != "v0"
    )
    assert len(new_versions) == 1, new_versions
    written = sorted(
        x
        for x in os.listdir(f"{state}/facts/{new_versions[0]}")
        if x.startswith("__b=")
    )
    assert len(written) == 1, written
    seed_buckets = sorted(
        x for x in os.listdir(state + "/facts/v0") if x.startswith("__b=")
    )
    assert len(seed_buckets) >= 2  # 6 groups spread over 8 buckets


def test_streaming_minmax_many_epochs_cost_tracks_delta(spark, tmp_path):
    """40-epoch stressor for the copy-on-write MIN/MAX maintainer:
    interleaved inserts / updates / deletes with DELIBERATE extremum
    retractions every epoch (the delete always removes a current group
    minimum, forcing the facts rescan path); maintained mart == batch
    recompute at three checkpoints, the per-epoch SPARK JOB COUNT
    stays constant (the deterministic resource invariant for "cost
    follows |delta| + touched buckets, not facts age or version
    history" — wall-clock medians flake on loaded machines, job
    counts don't; BENCH r12 measured 17 vs 18 jobs for 1 vs 16
    touched buckets), and partition-granular vacuum under keep_last
    bounds the retained facts versions."""
    import os
    import statistics

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.testing import max_job_id
    from interpro7_dw_spark.streaming import minmax_stream
    from interpro7_dw_spark.streaming.minmax_stream import (
        maintain_group_minmax_stream,
        seed_minmax_state,
    )

    n_epochs = 40
    n_buckets = 4
    keep_last = 3
    rows = {k: (k % 7, float((k * 11) % 90)) for k in range(70)}

    def snap(d):
        return spark.createDataFrame(
            [(k, g, v) for k, (g, v) in sorted(d.items())],
            "k long, g long, v double",
        )

    def recompute(d):
        return {
            r.g: (r.n_rows, r.min_v, r.max_v)
            for r in snap(d)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
            )
            .collect()
        }

    src = str(tmp_path / "changes")
    state = str(tmp_path / "mmx40")
    seed_minmax_state(spark, snap(rows), state, "g", "v", n_buckets=n_buckets)
    schema = snapshot_delta_images(snap(rows), snap(rows), ["k"], ["g", "v"]).schema

    job_marks: list[int] = []
    orig = minmax_stream.ivm_apply_group_minmax

    def timed(*a, **kw):
        # one call per applied epoch: consecutive diffs of this
        # monotonic job-id mark are the per-epoch job counts
        job_marks.append(max_job_id(spark))
        return orig(*a, **kw)

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return {
            r.g: (r.n_rows, r.min_v, r.max_v)
            for r in maintain_group_minmax_stream(
                spark, stream, state, "g", "v", ["k"],
                n_buckets=n_buckets, keep_last=keep_last,
            ).collect()
        }

    cur = dict(rows)
    checkpoints = (9, 24, n_epochs - 1)
    minmax_stream.ivm_apply_group_minmax = timed
    try:
        for e in range(n_epochs):
            nxt = dict(cur)
            # delete the CURRENT MINIMUM of a rotating group — an
            # extremum retraction every single epoch
            victim_g = (e + 3) % 7
            victims = [(k, v) for k, (g, v) in nxt.items() if g == victim_g]
            if victims:
                k_min = min(victims, key=lambda t: (t[1], t[0]))[0]
                nxt.pop(k_min)
            nxt[2000 + e] = (e % 7, -1.0 * e)          # insert: new group min
            upd = (e * 3) % 70
            if upd in nxt:                              # update (moves group)
                nxt[upd] = ((nxt[upd][0] + 1) % 7, nxt[upd][1] + 0.5)
            delta = snapshot_delta_images(snap(cur), snap(nxt), ["k"], ["g", "v"])
            delta.coalesce(1).write.mode("append").parquet(src)
            cur = nxt
            if e in checkpoints:
                assert drain() == recompute(cur), e
    finally:
        minmax_stream.ivm_apply_group_minmax = orig

    gaps = [b - a for a, b in zip(job_marks, job_marks[1:])]
    assert len(gaps) >= n_epochs - 2
    # constant jobs per epoch == cost tracks |delta| + touched
    # buckets, never facts age. Medians of thirds are robust to the
    # checkpoint gaps (which include the recompute's own jobs); +2
    # slack for AQE re-planning a stage boundary on a skewed delta.
    third = len(gaps) // 3
    early = statistics.median(gaps[:third])
    late = statistics.median(gaps[-third:])
    assert late <= early + 2, (early, late, gaps)
    # retention: mart versions bounded by keep_last; facts versions
    # bounded by the retained-mart window plus at most one anchor per
    # bucket (partition-granular vacuum sweeps the rest)
    mart_versions = [p for p in os.listdir(state + "/mart") if p.startswith("v")]
    assert len(mart_versions) <= keep_last, mart_versions
    fact_versions = [p for p in os.listdir(state + "/facts") if p.startswith("v")]
    assert len(fact_versions) <= keep_last + n_buckets + 1, fact_versions


def test_stream_stream_join_matches_across_micro_batches(spark, tmp_path):
    """The stream-stream join's whole point: an impression buffered in
    the state store during micro-batch 1 must still match an action
    arriving in micro-batch 2 (inside the horizon), while actions past
    the 60-min horizon never emit. Two files forced into separate
    micro-batches via maxFilesPerTrigger=1 and ordered mtimes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from interpro7_dw_spark.streaming.join_stream import attribution_join_stream

    M = 60 * 1_000_000_000  # one minute in nanos
    d = str(tmp_path / "feed")
    os.makedirs(d)

    def write(path, rows):
        tbl = pa.table(
            {
                "ts": pa.array([r[0] for r in rows], pa.int64()),
                "event_id": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, path)

    # base offset: a row AT the initial watermark (epoch 0) would be
    # dropped as late — real feeds never start at the epoch
    B = 1_000_000 * M
    # batch 1: impressions for u and v, plus one same-batch action
    write(
        f"{d}/a.parquet",
        [(B + 0 * M, 2, "u"), (B + 5 * M, 1, "u"), (B + 10 * M, 4, "v")],
    )
    # batch 2: actions 30-90 min later — id3 and id7 match buffered
    # impressions, id5 is past the horizon
    write(
        f"{d}/b.parquet",
        [(B + 30 * M, 3, "u"), (B + 90 * M, 5, "u"), (B + 35 * M, 7, "v")],
    )
    os.utime(f"{d}/a.parquet", (1_000_000, 1_000_000))
    os.utime(f"{d}/b.parquet", (1_000_100, 1_000_100))

    out = attribution_join_stream(
        spark, f"{d}/*.parquet", max_files_per_trigger=1
    )
    got = {
        (r.user_id, r.impression_id, r.action_id, r.lag_us)
        for r in out.collect()
    }
    assert got == {
        ("u", 2, 1, 5 * 60_000_000),
        ("u", 2, 3, 30 * 60_000_000),
        ("v", 4, 7, 25 * 60_000_000),
    }


def test_streaming_topk_converges_and_vacuums(spark, tmp_path):
    """Top-k maintenance across several micro-batches must equal the
    batch top-k (including a later batch displacing an earlier
    leader), keep_last must bound retained versions, and every
    retained version must be _SUCCESS-committed and epoch-stamped."""
    import os

    from pyspark.sql import functions as F

    from interpro7_dw_spark.streaming.ivm_stream import (
        maintain_group_topk_stream,
    )

    rows_dir = str(tmp_path / "rows")
    state = str(tmp_path / "mart")
    base = spark.createDataFrame(
        [
            ("u", 1, 10.0), ("u", 2, 30.0), ("u", 3, 20.0),
            ("u", 4, 40.0), ("u", 5, 5.0), ("u", 6, 35.0),
            ("v", 7, 1.0), ("v", 8, 2.0),
        ],
        "k string, id long, v double",
    )
    # 4 files -> 4 micro-batches; later ids (higher values for u)
    # displace earlier leaders
    for part in range(4):
        base.filter(F.col("id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(rows_dir)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rows_dir)
    )
    out = maintain_group_topk_stream(
        spark, stream, state, "k", "v", "id", k=2, keep_last=2
    )
    got = {(r.k, r.rank): (r.id, r.v) for r in out.collect()}
    assert got == {
        ("u", 1): (4, 40.0),
        ("u", 2): (6, 35.0),
        ("v", 1): (8, 2.0),
        ("v", 2): (7, 1.0),
    }
    versions = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert len(versions) == 2, versions
    for d in versions:
        assert "_e" in d and os.path.exists(f"{state}/{d}/_SUCCESS")


def test_streaming_join_ivm_matches_batch_rejoin(spark, tmp_path):
    """Continuous join-view maintenance across micro-batches must
    equal the batch re-join: fact deletes/updates/inserts and a
    re-key to a missing dim row (drops out) streamed as 3 files."""
    import os

    from pyspark.sql import functions as F

    from interpro7_dw_spark.operators.cdc import snapshot_delta_images
    from interpro7_dw_spark.streaming.ivm_stream import (
        maintain_join_agg_stream,
    )

    facts_dir = str(tmp_path / "facts")
    changes_dir = str(tmp_path / "changes")
    state = str(tmp_path / "mart")
    fact_old = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 9.0), (4, 30, 11.0)],
        "fk long, k long, v double",
    )
    fact_new = spark.createDataFrame(
        [
            (1, 10, 6.0),    # value update
            (2, 99, 7.0),    # re-keyed to missing dim -> drops out
            (4, 30, 11.0),   # unchanged (fk 3 deleted)
            (5, 20, 1.0),    # insert
            (6, 20, 2.0),    # insert
        ],
        "fk long, k long, v double",
    )
    dim = spark.createDataFrame(
        [(10, "g1"), (20, "g2"), (30, "g3")], "k long, g string"
    )
    fact_old.write.parquet(facts_dir)
    delta = snapshot_delta_images(fact_old, fact_new, ["fk"], ["k", "v"])
    for part in range(3):
        delta.filter(F.col("fk") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(changes_dir)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_dir)
    )
    out = maintain_join_agg_stream(
        spark, stream, dim, state, facts_dir, "k", "g", "v", keep_last=2
    )
    got = {r.g: (r.n_rows, float(r.total)) for r in out.collect()}
    want_df = (
        fact_new.join(dim, "k", "inner")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").alias("total"),
        )
    )
    want = {r.g: (r.n_rows, float(r.total)) for r in want_df.collect()}
    assert got == want
    versions = [d for d in os.listdir(state) if d.startswith("v")]
    assert len(versions) <= 2


def test_file_sink_parity_join_and_hll(spark, tmp_path):
    """File-sink parity for the second-half streaming ops: the
    stream-stream attribution join (append mode -> exactly-once
    parquet sink) and the streamed HLL registers (complete mode ->
    foreachBatch overwrite) must match their memory-sink results."""
    from interpro7_dw_spark.streaming.hll_stream import (
        streaming_hll_distinct_users,
    )
    from interpro7_dw_spark.streaming.join_stream import attribution_join_stream

    events = "/root/testdata/sf0.001/events.parquet"
    key = lambda df: sorted(map(tuple, df.collect()))
    mem_j = key(attribution_join_stream(spark, events))
    fil_j = key(
        attribution_join_stream(
            spark, events, sink="files", sink_dir=str(tmp_path / "join_sink")
        )
    )
    assert mem_j == fil_j and len(mem_j) > 0

    mem_h = key(streaming_hll_distinct_users(spark, events))
    fil_h = key(
        streaming_hll_distinct_users(
            spark, events, sink="files", sink_dir=str(tmp_path / "hll_sink")
        )
    )
    assert mem_h == fil_h and len(mem_h) > 0


def test_read_mart_version_time_travel(spark, tmp_path):
    """Time travel over versioned IVM marts: explicit version, as-of
    epoch, latest, _SUCCESS gating of half-writes, and KeyError on a
    miss."""
    import os

    import pytest

    from interpro7_dw_spark.streaming.versions import pick

    def read_mart_version(spark, state_dir, version=None, epoch=None):
        return spark.read.parquet(
            pick(spark, state_dir, version, epoch).path(state_dir)
        )

    state = str(tmp_path / "mart")
    for ver, ep, n in (("v0", None, 1), ("v1_e3", 3, 2), ("v2_e7", 7, 3)):
        spark.createDataFrame([("g", n)], "g string, n long").write.parquet(
            f"{state}/{ver}"
        )
    # a crashed half-write: data but no _SUCCESS — must never be served
    spark.createDataFrame([("g", 99)], "g string, n long").write.parquet(
        f"{state}/v3_e9"
    )
    os.remove(f"{state}/v3_e9/_SUCCESS")

    assert read_mart_version(spark, state).collect()[0].n == 3       # latest
    assert read_mart_version(spark, state, version=0).collect()[0].n == 1
    assert read_mart_version(spark, state, epoch=5).collect()[0].n == 2
    assert read_mart_version(spark, state, epoch=7).collect()[0].n == 3
    # pre-first-batch epoch: the SEED v0 (epoch None) is the valid
    # as-of answer — the seed release predates every changelog epoch
    assert read_mart_version(spark, state, epoch=1).collect()[0].n == 1
    with pytest.raises(KeyError):
        read_mart_version(spark, state, version=3)                   # gated
    # a store with NO seed version: a pre-first epoch is a real miss
    seedless = str(tmp_path / "seedless")
    spark.createDataFrame([("g", 2)], "g string, n long").write.parquet(
        f"{seedless}/v1_e3"
    )
    with pytest.raises(KeyError):
        read_mart_version(spark, seedless, epoch=1)
