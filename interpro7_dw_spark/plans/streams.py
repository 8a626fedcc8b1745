"""Streaming query catalog (SURVEY.md §2.10).

The reference has no true streaming; its ES producer/consumer file
handoff maps to a file-source Structured Streaming query with
trigger(availableNow) — see streaming/events_stream.py.
"""

from __future__ import annotations

from ..streaming.events_stream import sliding_event_counts, windowed_event_counts
from .spec import QuerySpec, fixture_dir, register, write_split_fixture


def _stream_dedup_union(spark, sf):
    """Exactly-once over a duplicated feed: the events stream unioned
    with itself, collapsed by dropDuplicatesWithinWatermark — output
    must equal the plain table (every copy is identical, so
    first-arrival keep is deterministic)."""
    from pyspark.sql import functions as F

    from ..streaming.events_stream import _event_stream
    from ..streaming.runner import run_stream

    stream = _event_stream(spark, f"{sf}/events.parquet")
    doubled = stream.unionByName(stream)
    out = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "event_type",
            F.col("ts").cast("double").cast("long").alias("ts_s"),
        )
    )
    return run_stream(spark, out, "append")

def _stream_suite(spark, sf):
    from pyspark.sql import functions as F

    tumbling = windowed_event_counts(spark, f"{sf}/events.parquet").select(
        F.lit("tumbling_6h").alias("kind"), "ws", "event_type", "n", "total_value"
    )
    sliding = sliding_event_counts(spark, f"{sf}/events.parquet").select(
        F.lit("sliding_12h_6h").alias("kind"),
        "ws",
        "event_type",
        "n",
        F.lit(0.0).alias("total_value"),  # sliding branch counts only
    )
    return tumbling.unionByName(sliding)


register(QuerySpec(
    name="z_stream_counts",
    # z_-parked in the r10 rotation that promoted stream_dedup_exact:
    # ST1/ST2 windowed streaming stays covered by stream_cms_heavy_users
    tags=("ST1", "ST2", "A2"),
    description="Both Structured Streaming shapes through real streaming "
    "queries (availableNow trigger, memory sink), tagged and unioned: "
    "tumbling 6h windows with decimal-exact value sums, and sliding "
    "12h/6h windows whose batch oracle fans each event into its two "
    "containing windows.",
    build=_stream_suite,
    oracle="""
        SELECT 'tumbling_6h' AS kind,
               CAST(floor(epoch_ns(ts) / 21600000000000) * 21600 AS BIGINT) AS ws,
               event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'sliding_12h_6h' AS kind, ws, event_type, count(*) AS n,
               0.0 AS total_value
        FROM (
          SELECT event_type,
                 CAST(floor(epoch_ns(ts) / 21600000000000) * 21600 - w.off AS BIGINT) AS ws,
                 epoch_ns(ts) / 1000000000 AS ts_s
          FROM events, LATERAL unnest([0, 21600]) AS w(off)
        )
        WHERE ts_s >= ws AND ts_s < ws + 43200
        GROUP BY 2, 3
    """,
))


register(QuerySpec(
    name="z_stream_dedup_union",
    tags=("ST3", "U1", "F3"),
    description="Streaming exactly-once dedup: the events feed unioned "
    "with itself through dropDuplicatesWithinWatermark must reproduce "
    "the plain table (bounded state: keys age out past the watermark "
    "horizon). z-named to stay outside the driver's 50-name window; "
    "the differ still oracle-checks it.",
    build=_stream_dedup_union,
    oracle="""
        SELECT event_id, event_type,
               CAST(floor(epoch_ns(ts) / 1000000000) AS BIGINT) AS ts_s
        FROM events
    """,
))


def _stream_cms(spark, sf):
    from ..streaming.cms_stream import streaming_cms_heavy_users

    return streaming_cms_heavy_users(spark, f"{sf}/events.parquet")


register(QuerySpec(
    name="stream_cms_heavy_users",
    tags=("ST1", "A5", "F3"),
    description="Heavy-hitter users from a STREAMED count-min sketch "
    "(streaming/cms_stream.py): the 3x32 counter table is maintained "
    "by a real Structured Streaming aggregation — bounded state at "
    "any feed length, the sketch's cell-wise mergeability IS the "
    "streaming aggregate — then probed in batch for users with exact "
    "count >= 30. One-sided estimates; collisions replay in the "
    "DuckDB oracle via the shared md5 bucket arithmetic.",
    build=_stream_cms,
    oracle="""
        WITH r(r) AS (VALUES (0), (1), (2)),
        cells AS (
          SELECT r.r AS r,
                 CAST(('0x' || substring(md5(r.r || ':' || user_id), 1, 8))
                      ::UBIGINT % 32 AS BIGINT) AS bucket,
                 count(*) AS cnt
          FROM events, r GROUP BY 1, 2
        ),
        exact AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
          FROM events GROUP BY 1 HAVING count(*) >= 30
        ),
        probe AS (
          SELECT e.user_id, e.exact_n, r.r AS r,
                 CAST(('0x' || substring(md5(r.r || ':' || e.user_id), 1, 8))
                      ::UBIGINT % 32 AS BIGINT) AS bucket
          FROM exact e, r
        )
        SELECT p.user_id, p.exact_n,
               CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est,
               CAST(min(coalesce(c.cnt, 0)) - p.exact_n AS BIGINT) AS overestimate
        FROM probe p LEFT JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
        GROUP BY 1, 2
    """,
))


def _stream_changes(spark, sf):
    from pyspark.sql import functions as F

    from ..streaming.events_stream import _event_stream
    from ..streaming.runner import run_stream
    from ..streaming.stateful import change_stream

    stream = _event_stream(spark, f"{sf}/events.parquet").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    return run_stream(spark, change_stream(stream), "append")


register(QuerySpec(
    name="z_stream_change_log",
    tags=("ST4", "W1", "CD1"),
    description="Per-key stateful change detection over the stream "
    "(streaming/stateful.py::change_stream, applyInPandasWithState): "
    "an event emits only when its type differs from the key's carried "
    "state — the streaming sibling of the batch snapshot differ, with "
    "two scalars of state per key at any feed length. The emission "
    "sequence of the Python kernel equals a lag() filter, so even "
    "this custom stateful operator carries a FULL value oracle.",
    build=_stream_changes,
    oracle="""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
          FROM events
        ),
        seq AS (
          SELECT user_id, ts_us, event_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_type
                 ) AS prev_type
          FROM e
        )
        SELECT user_id, CAST(ts_us AS BIGINT) AS ts_us, event_type, prev_type
        FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    """,
))


def _stream_ohlc(spark, sf):
    from ..streaming.events_stream import streaming_ohlc_bars

    return streaming_ohlc_bars(spark, f"{sf}/events.parquet")


register(QuerySpec(
    name="z_stream_ohlc",
    tags=("ST1", "TS3", "A6", "A7"),
    description="Daily OHLC candlesticks maintained as a STREAMING "
    "aggregate (streaming/events_stream.py::streaming_ohlc_bars): "
    "min_by/max_by/count are mergeable, so the (key, window) cells "
    "update incrementally with bounded state; same contract as the "
    "batch ohlc_bars, same oracle shape — out-of-order arrival "
    "cannot change the picks because ties carry the unique event id.",
    build=_stream_ohlc,
    oracle="""
        SELECT user_id AS key,
               epoch_ns(ts) // 86400000000000 * 86400 AS bucket_start_s,
               first(value ORDER BY ts, event_id) AS open,
               max(value) AS high,
               min(value) AS low,
               last(value ORDER BY ts, event_id) AS close,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
))


def _stream_ivm(spark, sf):
    """Continuous mart maintenance: the orders changelog (same
    derivation as ivm_group_agg) written as MULTIPLE files, streamed
    one file per micro-batch through per-epoch IVM merges seeded with
    the OLD snapshot's aggregate — the final mart version must equal
    the batch re-aggregation of the new snapshot (the shared oracle)."""
    import shutil

    from pyspark.sql import functions as F

    from ..operators.cdc import snapshot_delta_images
    from ..streaming.ivm_stream import maintain_group_agg_stream
    from ..streaming.versions import SEED

    base = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    survivors = base.filter(k % 7 != 0).select(
        "o_orderkey",
        F.when(k % 13 == 0, F.col("o_custkey") + 1_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(k % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserts = base.filter(k % 11 == 0).select(
        (k + 10_000_000).alias("o_orderkey"), "o_custkey", "o_totalprice"
    )
    new = survivors.unionByName(inserts)
    delta = snapshot_delta_images(
        base, new, ["o_orderkey"], ["o_custkey", "o_totalprice"]
    )
    root = fixture_dir("ivm_stream", sf)
    for sub in ("changes", "mart", "mart_chk"):
        shutil.rmtree(f"{root}/{sub}", ignore_errors=True)
    # 4 key-ranged files -> 4 micro-batches under maxFilesPerTrigger=1;
    # ONE partitionBy write builds all four (r16, guide §2.4): the
    # full-outer snapshot_delta_images join runs once, no persist
    write_split_fixture(delta, k % 4, 4, f"{root}/changes")
    base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.coalesce(F.col("o_totalprice"), F.lit(0)).cast("decimal(18,4)")
        ).cast("decimal(18,4)").alias("total"),
    ).write.parquet(f"{root}/mart/{SEED}")
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/changes")
    )
    out = maintain_group_agg_stream(
        spark, stream, f"{root}/mart", "o_custkey", "o_totalprice"
    )
    return out.select(
        "o_custkey", "n_rows", F.col("total").cast("double").alias("total")
    )


register(QuerySpec(
    # promoted into the driver window in the r11 rotation (was
    # z_stream_ivm)
    # z_-parked in the r14 rotation that promoted stream_ivm_mart_entry:
    # the group-agg IVM stream stays covered in-window by the harder
    # retraction stream (stream_ivm_minmax) and the mart habitats
    name="z_stream_ivm",
    tags=("ST4", "CD3", "A1"),
    description="CONTINUOUS incremental view maintenance "
    "(streaming/ivm_stream.py::maintain_group_agg_stream): the orders "
    "changelog streamed one file per micro-batch through foreachBatch "
    "retract/add merges into versioned mart snapshots, seeded with "
    "the old aggregate — per epoch the cost is |micro-batch| + "
    "touched groups, and readers always see a complete version "
    "(_SUCCESS-gated directories). IVM contributions are additive, "
    "so any micro-batch partitioning converges to the same mart; the "
    "oracle is the batch re-aggregation of the new snapshot (shared "
    "with ivm_group_agg).",
    build=_stream_ivm,
    oracle="""
        WITH newsnap AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1000000
                      ELSE o_custkey END AS o_custkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 7 <> 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_totalprice
          FROM orders WHERE o_orderkey % 11 = 0
        )
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,4)))
                    AS DOUBLE) AS total
        FROM newsnap GROUP BY 1
    """,
))


def _stream_sessions(spark, sf):
    from ..streaming.events_stream import streaming_session_windows

    return streaming_session_windows(spark, f"{sf}/events.parquet")


register(QuerySpec(
    name="z_stream_sessions",
    tags=("ST1", "W3", "A1"),
    description="Per-key SESSION windows as a STREAMING aggregate "
    "(streaming/events_stream.py::streaming_session_windows, "
    "F.session_window 30 min): dynamic windows merge while "
    "consecutive events arrive strictly closer than the gap; "
    "sess_end is last event + gap (window.end). The streaming twin "
    "of sessionize_events' lag()+island batch plan — the oracle "
    "replays the merge rule and the end arithmetic "
    "exactly, decimal-exact value sums per session.",
    build=_stream_sessions,
    oracle="""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value
          FROM events
        ),
        m AS (
          SELECT user_id, ts_us, value,
                 CASE WHEN ts_us - lag(ts_us) OVER (
                        PARTITION BY user_id ORDER BY ts_us)
                      <= 1800000000
                      THEN 0 ELSE 1 END AS new_sess
          FROM e
        ),
        s AS (
          SELECT user_id, ts_us, value,
                 CAST(sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS sid
          FROM m
        )
        SELECT user_id AS key,
               min(ts_us) AS sess_start_us,
               max(ts_us) + 1800000000 AS sess_end_us,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM s GROUP BY user_id, sid
    """,
))


def _stream_dedup_exact(spark, sf):
    from ..streaming.dedup_stream import dedup_content_stream

    return dedup_content_stream(spark, f"{sf}/documents.parquet")


register(QuerySpec(
    name="stream_dedup_exact",
    # promoted into the driver window in the r10 rotation
    tags=("ST3", "DD1", "F3"),
    description="Streaming exact CONTENT dedup — the incremental "
    "bridge to the batch dedup family "
    "(streaming/dedup_stream.py::dedup_content_stream): md5 content "
    "fingerprints through dropDuplicatesWithinWatermark, state "
    "bounded by the distinct fingerprints inside one watermark "
    "horizon. Streamed-equals-batch: the emitted set must equal the "
    "batch DISTINCT md5(text).",
    build=_stream_dedup_exact,
    oracle="SELECT DISTINCT md5(text) AS fp FROM documents",
))


def _stream_neardup(spark, sf):
    from ..streaming.dedup_stream import neardup_simhash_stream

    return neardup_simhash_stream(spark, f"{sf}/documents.parquet")


register(QuerySpec(
    name="z_stream_neardup_simhash",
    tags=("ST3", "DD4", "F3"),
    description="Streaming NEAR-dup suppression "
    "(streaming/dedup_stream.py::neardup_simhash_stream): map-side "
    "row-wise 64-bit SimHash (bit-identical to the batch operator — "
    "unit-tested) through dropDuplicatesWithinWatermark; each "
    "distinct fingerprint emitted exactly once within the horizon. "
    "Oracle rebuilds every fingerprint in HUGEINT and takes the "
    "distinct set.",
    build=_stream_neardup,
    oracle="""
        WITH tok AS (
          SELECT DISTINCT doc_id, t.token
          FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(token)
        ),
        hashed AS (
          SELECT doc_id,
                 CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
                      THEN hu - 18446744073709551616::HUGEINT
                      ELSE hu END AS BIGINT) AS h
          FROM (
            SELECT doc_id,
                   (('0x' || substring(md5(token), 1, 8))::UBIGINT)::HUGEINT
                     * 4294967296::HUGEINT
                   + (('0x' || substring(md5(token), 9, 8))::UBIGINT)::HUGEINT AS hu
            FROM tok
          )
        ),
        bit AS (
          SELECT doc_id, b.b AS b, sum(((h >> b.b) & 1) * 2 - 1) AS s
          FROM hashed, LATERAL unnest(generate_series(0, 63)) AS b(b)
          GROUP BY 1, 2
        )
        SELECT DISTINCT
               CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
                    THEN su - 18446744073709551616::HUGEINT
                    ELSE su END AS BIGINT) AS simhash
        FROM (
          SELECT doc_id,
                 sum(CASE WHEN s > 0 THEN (1::HUGEINT << b)
                     ELSE 0::HUGEINT END) AS su
          FROM bit GROUP BY 1
        )
    """,
))


def _stream_ewma(spark, sf):
    """Per-event EWMA as a CONTINUOUS stateful stream: the events
    table split into one file per 4-day time chunk (mtime-stamped in
    chunk order so the file source replays event time monotonically),
    folded through applyInPandasWithState with three scalars of state
    per key. Micro-batch boundaries == chunk boundaries, so the
    streamed doubles equal the chunk-composed batch plan bit-for-bit
    and the SAME DuckDB oracle replays them."""
    import shutil

    from pyspark.sql import functions as F

    from ..streaming.ewma_stream import ewma_stream
    from ..streaming.runner import run_stream
    from .spec import t

    chunk_seconds = 345_600
    chunk_ns = chunk_seconds * 1_000_000_000
    ev = t(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    root = fixture_dir("ewma_stream", sf)
    shutil.rmtree(root, ignore_errors=True)
    src = f"{root}/events"
    chunks = sorted(
        r[0] for r in ev.select(F.expr(f"ts DIV {chunk_ns}")).distinct().collect()
    )
    # ONE partitionBy write builds every chunk file (r16, guide §2.4):
    # one scan of events instead of one filtered scan per chunk; the
    # helper stamps mtimes increasing in chunk order, which is all the
    # per-file utime loop existed for
    write_split_fixture(ev, F.expr(f"ts DIV {chunk_ns}"), chunks, src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return run_stream(spark, ewma_stream(stream), "append")


def _stream_ewma_oracle() -> str:
    from .llmops import _ewma_oracle

    return _ewma_oracle(chunk_seconds=345_600)


register(QuerySpec(
    name="z_stream_ewma",
    tags=("ST3", "W4", "TS1"),
    description="Per-event EWMA as a stateful STREAM "
    "(streaming/ewma_stream.py::ewma_stream, applyInPandasWithState, "
    "three scalars of state per key): each micro-batch is one time "
    "chunk, the carried state is the affine-composed s_in, outputs "
    "replay the elementwise fold from it — op-for-op the batch ewma "
    "arithmetic, so streamed == batch bit-for-bit before the 6-place "
    "round (pinned in tests) and the chunk-parameterized batch "
    "oracle verifies the stream directly. Fails fast on out-of-order "
    "micro-batches (the sequential-fold ordering contract).",
    build=_stream_ewma,
    oracle=_stream_ewma_oracle(),
))


def _stream_ivm_minmax(spark, sf):
    """Continuous MIN/MAX mart maintenance over the copy-on-write
    facts bucket store: the orders changelog (the shared ivm_group_agg
    derivation) streamed one file per micro-batch; each epoch rewrites
    only the buckets holding changed customers and re-aggregates only
    extremum-touched groups from them. The final mart must equal the
    batch min/max re-aggregation of the new snapshot (the oracle)."""
    import shutil

    from pyspark.sql import functions as F

    from ..operators.cdc import snapshot_delta_images
    from ..streaming.minmax_stream import (
        maintain_group_minmax_stream,
        seed_minmax_state,
    )
    from .spec import t

    base = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    survivors = base.filter(k % 7 != 0).select(
        "o_orderkey",
        F.when(k % 13 == 0, F.col("o_custkey") + 1_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(k % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserts = base.filter(k % 11 == 0).select(
        (k + 10_000_000).alias("o_orderkey"), "o_custkey", "o_totalprice"
    )
    new = survivors.unionByName(inserts)
    delta = snapshot_delta_images(
        base, new, ["o_orderkey"], ["o_custkey", "o_totalprice"]
    )
    root = fixture_dir("ivm_minmax_stream", sf)
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_state", ignore_errors=True)
    shutil.rmtree(root + "_state_chk", ignore_errors=True)
    # ONE partitionBy write builds all three micro-batch files (r16,
    # guide §2.4): the full-outer snapshot_delta_images join runs
    # once, no persist
    write_split_fixture(delta, k % 3, 3, f"{root}/changes")
    state = f"{root}_state"
    seed_minmax_state(spark, base, state, "o_custkey", "o_totalprice",
                      n_buckets=16)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/changes")
    )
    out = maintain_group_minmax_stream(
        spark, stream, state, "o_custkey", "o_totalprice", ["o_orderkey"],
        n_buckets=16,
    )
    return out.select("o_custkey", "n_rows", "min_v", "max_v")


register(QuerySpec(
    name="stream_ivm_minmax",
    tags=("ST4", "CD3", "A6"),
    description="CONTINUOUS MIN/MAX view maintenance "
    "(streaming/minmax_stream.py::maintain_group_minmax_stream): the "
    "retract-hard aggregates maintained per micro-batch over a "
    "miniature copy-on-write fact store — bucket = hash(group), each "
    "epoch rewrites ONLY touched buckets and re-aggregates ONLY "
    "extremum-retracted groups from them (the Delta/Iceberg idea in "
    "one directory tree; per-epoch cost |delta| + touched buckets, "
    "never |facts|). Epoch-idempotent versions, _SUCCESS-gated, same "
    "replay guard as the sum/count IVM stream. Oracle: the batch "
    "min/max re-aggregation of the new snapshot.",
    build=_stream_ivm_minmax,
    oracle="""
        WITH newsnap AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1000000
                      ELSE o_custkey END AS o_custkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 7 <> 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_totalprice
          FROM orders WHERE o_orderkey % 11 = 0
        )
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
               min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
        FROM newsnap GROUP BY 1
    """,
))


def _stream_join(spark, sf):
    from ..streaming.join_stream import attribution_join_stream

    return attribution_join_stream(spark, f"{sf}/events.parquet")


register(QuerySpec(
    # promoted into the driver window in the r11 second-half rotation
    name="stream_join",
    tags=("ST5", "J7", "TS2"),
    description="Watermarked STREAM-STREAM inner join "
    "(streaming/join_stream.py::attribution_join_stream): the events "
    "feed split into impression (even ids) and action (odd ids) "
    "streams, joined per user on an event-time range (action within "
    "60 min after the impression). Both sides are watermarked and "
    "the range condition bounds BOTH state buffers — the symmetric "
    "hash join holds only horizon+watermark worth of rows per side, "
    "partitioned by the equi-key. Streamed-equals-batch: the emitted "
    "pairs equal the batch range join, which is the oracle.",
    build=_stream_join,
    oracle="""
        SELECT l.user_id,
               l.event_id AS impression_id,
               r.event_id AS action_id,
               CAST((epoch_ns(r.ts) - epoch_ns(l.ts)) // 1000 AS BIGINT)
                 AS lag_us
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
         AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
    """,
))


def _stream_static_join(spark, sf):
    from pyspark.sql import functions as F

    from ..streaming.join_stream import enriched_event_counts
    from .spec import t

    dim = t(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    out = enriched_event_counts(spark, f"{sf}/events.parquet", dim)
    return out.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("double").alias("total_value"),
    )


register(QuerySpec(
    name="z_stream_static_join",
    tags=("ST5", "J2", "A1"),
    description="STREAM-STATIC broadcast enrichment + streaming "
    "aggregation (streaming/join_stream.py::enriched_event_counts): "
    "the events feed joined per micro-batch against a static "
    "broadcast customer dim (no stream buffering for the static "
    "side; the only state is the downstream (nation, segment) "
    "aggregate), decimal-exact value sums. The streaming twin of the "
    "batch marts' broadcast-dim joins; the oracle is the plain batch "
    "join + group-by.",
    build=_stream_static_join,
    oracle="""
        SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
               c.c_mktsegment AS mktsegment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
))


def _stream_topk(spark, sf):
    """Top-3 events per user by value, maintained CONTINUOUSLY: the
    events feed split into 4 key-ranged files streamed one per
    micro-batch; each epoch merges the batch's local top-3 with the
    (at most 3-per-user) mart. The final version must equal the batch
    top-3 over the whole table — the oracle."""
    import shutil

    from pyspark.sql import functions as F

    from ..streaming.ivm_stream import maintain_group_topk_stream

    base = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_id", "value"
    )
    root = fixture_dir("topk_stream", sf)
    for sub in ("rows", "mart", "mart_chk"):
        shutil.rmtree(f"{root}/{sub}", ignore_errors=True)
    # ONE partitionBy write builds all four micro-batch files (r16,
    # guide §2.4): one scan of the events base instead of four
    write_split_fixture(base, F.col("event_id") % 4, 4, f"{root}/rows")
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/rows")
    )
    return maintain_group_topk_stream(
        spark, stream, f"{root}/mart", "user_id", "value", "event_id", k=3
    )


register(QuerySpec(
    name="z_stream_topk",
    tags=("ST4", "O5", "CD3"),
    description="CONTINUOUS top-k view maintenance "
    "(streaming/ivm_stream.py::maintain_group_topk_stream): per-user "
    "top-3 events by value folded forward one micro-batch at a time "
    "— each epoch merges the batch's local top-3 (bucketed two-stage "
    "selection, no batch-sized window group) with the k-per-key "
    "mart under the same versioned epoch-idempotent commit protocol "
    "as stream_ivm. Insert-only top-k is a bounded idempotent "
    "monoid, so any micro-batch partitioning converges to the batch "
    "top-3 — the oracle.",
    build=_stream_topk,
    oracle="""
        SELECT user_id, rank, event_id, value FROM (
          SELECT user_id, event_id, value,
                 CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY value DESC, event_id
                 ) AS INT) AS rank
          FROM events
        ) WHERE rank <= 3
    """,
))


def _stream_hll(spark, sf):
    from ..streaming.hll_stream import streaming_hll_distinct_users

    return streaming_hll_distinct_users(spark, f"{sf}/events.parquet")


register(QuerySpec(
    name="z_stream_hll",
    tags=("ST1", "A5", "F3"),
    description="Distinct users per event type from a STREAMED "
    "HyperLogLog (streaming/hll_stream.py + "
    "operators/sketches.py::hll_registers): the max-rho register "
    "table is a mergeable streaming aggregate — 128 rows of state "
    "per group at any feed length — and every register decodes from "
    "md5 hex with string/integer ops only, so the raw estimate "
    "(2^-rho harmonic sum is EXACT in double; no ln-based "
    "small-range correction, n_zero exposes the bias) replays "
    "value-for-value in the DuckDB oracle next to the exact "
    "distinct count.",
    build=_stream_hll,
    oracle="""
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                      ::UBIGINT % 128 AS BIGINT) AS bucket,
                 substring(md5(CAST(user_id AS VARCHAR)), 9, 8) AS h2
          FROM events
        ),
        r AS (
          SELECT event_type, bucket,
                 max(4 * (8 - length(ltrim(h2, '0')))
                     + CASE substring(ltrim(h2, '0'), 1, 1)
                         WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                         WHEN '4' THEN 1 WHEN '5' THEN 1
                         WHEN '6' THEN 1 WHEN '7' THEN 1
                         ELSE 0 END
                     + 1) AS rho
          FROM h GROUP BY 1, 2
        ),
        s AS (
          SELECT event_type,
                 count(*) AS n_present,
                 sum(CAST(1 AS DOUBLE)
                     / CAST(1::BIGINT << rho AS DOUBLE)) AS s_present
          FROM r GROUP BY 1
        ),
        ex AS (
          SELECT event_type,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
          FROM events GROUP BY 1
        )
        SELECT ex.event_type, ex.exact_distinct,
               CAST(128 - s.n_present AS BIGINT) AS n_zero,
               round((CAST(0.7213 AS DOUBLE)
                      / (1 + CAST(1.079 AS DOUBLE) / 128)) * 128 * 128
                     / (s.s_present
                        + (128 - s.n_present) * CAST(1 AS DOUBLE)), 6)
                 AS hll_est
        FROM ex JOIN s USING (event_type)
    """,
))


def _stream_ivm_join(spark, sf):
    """Continuous JOIN-view maintenance: the orders changelog (same
    mutation mix as ivm_join_agg's fact side) streamed one file per
    micro-batch into a per-nation customer|><|orders mart with the
    customer dim held static — the final version must equal the
    batch re-join + re-aggregation of the new fact snapshot (the
    oracle). Facts moved to custkey+1M have no dim row and drop out
    (inner-join view semantics)."""
    import shutil

    from pyspark.sql import functions as F

    from ..operators.cdc import snapshot_delta_images
    from ..streaming.ivm_stream import maintain_join_agg_stream

    fact_old = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    k = F.col("o_orderkey")
    fact_new = fact_old.filter(k % 7 != 0).select(
        "o_orderkey",
        F.when(k % 13 == 0, F.col("custkey") + 1_000_000)
        .otherwise(F.col("custkey"))
        .alias("custkey"),
        F.when(k % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        fact_old.filter(k % 11 == 0).select(
            (k + 10_000_000).alias("o_orderkey"), "custkey", "o_totalprice"
        )
    )
    dim = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
    )
    delta = snapshot_delta_images(
        fact_old, fact_new, ["o_orderkey"], ["custkey", "o_totalprice"]
    )
    root = fixture_dir("ivm_join_stream", sf)
    for sub in ("facts", "changes", "mart", "mart_chk"):
        shutil.rmtree(f"{root}/{sub}", ignore_errors=True)
    fact_old.write.parquet(f"{root}/facts")
    # ONE partitionBy write builds all four micro-batch files (r16,
    # guide §2.4): the full-outer snapshot_delta_images join runs
    # once, no persist
    write_split_fixture(delta, k % 4, 4, f"{root}/changes")
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/changes")
    )
    out = maintain_join_agg_stream(
        spark, stream, dim, f"{root}/mart", f"{root}/facts",
        "custkey", "nationkey", "o_totalprice",
    )
    return out.select(
        "nationkey", "n_rows", F.col("total").cast("double").alias("total")
    )


register(QuerySpec(
    name="z_stream_ivm_join",
    tags=("ST4", "CD3", "J2"),
    description="CONTINUOUS multi-table view maintenance "
    "(streaming/ivm_stream.py::maintain_join_agg_stream): the orders "
    "changelog streamed one file per micro-batch through "
    "ivm_apply_join_agg merges — fact images map through the "
    "broadcast static customer dim, retract/add into versioned "
    "_SUCCESS-gated mart snapshots with epoch-idempotent replays. "
    "Facts re-keyed to custkeys with no dim row drop out (inner-join "
    "view). Per-epoch cost |micro-batch| + touched groups; the "
    "oracle is the batch re-join + re-aggregation of the new fact "
    "snapshot.",
    build=_stream_ivm_join,
    oracle="""
        WITH newfact AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1000000
                      ELSE o_custkey END AS custkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 7 <> 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_totalprice
          FROM orders WHERE o_orderkey % 11 = 0
        )
        SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(coalesce(f.o_totalprice, 0) AS DECIMAL(18,4)))
                    AS DOUBLE) AS total
        FROM newfact f JOIN customer c ON f.custkey = c.c_custkey
        GROUP BY 1
    """,
))


def _stream_histogram(spark, sf):
    """Quantiles from a STREAMED histogram sketch: bounds trained in
    batch (two selection-exact scalars), cells maintained by a
    streaming aggregate, p50/p90/p99 probed in batch from the final
    sketch — identical grid to the batch operator, so the shared
    oracle replays it."""
    from pyspark.sql import functions as F

    from ..operators.quantiles import histogram_quantile
    from ..streaming.events_stream import streaming_histogram_sketch

    ev = spark.read.parquet(f"{sf}/events.parquet")
    row = (
        ev.filter(F.col("value").isNotNull())
        .agg(
            F.min(F.col("value").cast("double")).alias("lo"),
            F.max(F.col("value").cast("double")).alias("hi"),
        )
        .collect()[0]
    )
    lo, hi = float(row.lo), float(row.hi)
    sk = streaming_histogram_sketch(
        spark, f"{sf}/events.parquet", bins=256, lo=lo, hi=hi
    )
    out = histogram_quantile(sk, [500000, 900000, 990000], 256, lo, hi)
    return out.select(F.col("key").alias("event_type"), "q_ppm", "est")


register(QuerySpec(
    name="z_stream_histogram",
    tags=("ST1", "A5", "TS1"),
    description="Approximate grouped quantiles from a STREAMED "
    "fixed-grid histogram sketch "
    "(streaming/events_stream.py::streaming_histogram_sketch): the "
    "(key, bucket) counts are a mergeable streaming aggregate — at "
    "most 256 rows of state per key at any feed length — probed in "
    "batch for p50/p90/p99 with integer-ppm target ranks. The "
    "order-statistics sibling of the streamed CMS/HLL sketches; "
    "streamed cells equal batch cells, so the oracle is the same "
    "grid replay as histogram_quantiles.",
    build=_stream_histogram,
    oracle="""
        WITH v AS (
          SELECT event_type AS key, CAST(value AS DOUBLE) AS v
          FROM events WHERE value IS NOT NULL
        ),
        b AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
        s AS (
          SELECT key,
                 CASE WHEN b.hi > b.lo
                      THEN LEAST(255, GREATEST(0,
                           CAST(floor(((v - b.lo) * 256) / (b.hi - b.lo))
                                AS BIGINT)))
                      ELSE 0 END AS bucket,
                 count(*) AS cnt
          FROM v, b GROUP BY 1, 2
        ),
        c AS (
          SELECT key, bucket, cnt,
                 sum(cnt) OVER (PARTITION BY key ORDER BY bucket) AS cum,
                 sum(cnt) OVER (PARTITION BY key) AS n
          FROM s
        ),
        q AS (SELECT unnest([500000, 900000, 990000]) AS q_ppm),
        p AS (
          SELECT c.key, q.q_ppm,
                 min(CASE WHEN c.cum >= (q.q_ppm * c.n + 999999) // 1000000
                     THEN c.bucket END) AS bb
          FROM c, q GROUP BY 1, 2
        )
        SELECT p.key AS event_type, CAST(p.q_ppm AS BIGINT) AS q_ppm,
               round(b.lo + ((p.bb + 1) * (b.hi - b.lo)) / 256, 6) AS est
        FROM p, b
    """,
))
