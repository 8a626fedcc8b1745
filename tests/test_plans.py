"""Physical-plan assertions: the optimizations SURVEY.md §4 promises
from Catalyst must actually appear in the executed plans — predicate
pushdown into the parquet scan, column pruning, broadcast joins on
dimensions, and partial aggregation. A plan regression here is a
scale bug even when results stay correct."""

from __future__ import annotations

import pytest

from interpro7_dw_spark.plans.spec import all_specs

from conftest import SF_SMALL

SPECS = all_specs()


def _plan(spark, name: str) -> str:
    df = SPECS[name].build(spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    # the plain predicate reaches the parquet scan; the regex stays post-scan
    assert "p_size" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    plan = _plan(spark, "scan_filter_project")
    # ReadSchema must not include untouched wide columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_comment" not in read_schema
    assert "p_container" not in read_schema


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at least


def test_partial_aggregation_present(spark):
    plan = _plan(spark, "pricing_summary")
    # two HashAggregates (partial + final) around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_no_cartesian_products_anywhere(spark):
    # cross_denorm is the one deliberate tiny cross join; everything
    # else must plan without BroadcastNestedLoopJoin/CartesianProduct
    offenders = []
    for name, spec in sorted(SPECS.items()):
        if name in ("cross_denorm", "z_embedding_topk", "z_embedding_lsh_topk"):
            # topk variants use deliberate bounded theta joins; simhash
            # is now a pigeonhole equi-join and must pass this check
            continue
        if name.startswith("stream_"):
            continue  # streaming plans are inspected differently
        df = spec.build(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_interval_overlap_join_is_equijoin(spark):
    # the bucketed overlap join must plan as a hash/sort-merge join on
    # (keys, cell), not a nested-loop theta join
    plan = _plan(spark, "overlap_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lookup_point_read_prunes_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from interpro7_dw_spark.sources.sinks import write_lookup_mart

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    out = str(tmp_path / "lk")
    write_lookup_mart(docs, out, key_col="key", prefix_len=1)
    import hashlib

    h = hashlib.md5(b"k42").hexdigest()
    df = spark.read.parquet(out).filter((F.col("__hp") == h[:1]) & (F.col("__h") == h))
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "__hp" in seg  # directory pruning
    assert "PushedFilters: [" in plan and "__h" in plan.split("PushedFilters:")[1][:200]


def test_sampling_rank_single_full_shuffle(spark):
    """The two-phase bucket-split rank (operators/sampling.py) must
    shuffle full rows exactly ONCE: the local window's (bucket, keys)
    exchange. The counts branch reduces map-side (partial
    HashAggregate below its exchange, so only #buckets x #strata rows
    move) and the offsets come back as a broadcast — and nothing uses
    a range exchange or a physical-partition-id column."""
    import pyspark.sql.functions as F

    from interpro7_dw_spark.operators.sampling import global_shuffle

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    df = global_shuffle(docs.select("doc_id"), 7, seed="plan")
    df.collect()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "rangepartitioning" not in final
    assert "SPARK_PARTITION_ID" not in final
    hash_ex = [ln for ln in final.splitlines()
               if "Exchange hashpartitioning" in ln and "Reused" not in ln]
    assert len(hash_ex) == 2
    # the counts-branch exchange sits above a map-side partial agg
    assert "partial_count" in final
    lines = final.splitlines()
    partial_idx = next(i for i, ln in enumerate(lines) if "partial_count" in ln)
    # the exchange immediately above the partial agg is the tiny one
    above = next(ln for ln in reversed(lines[:partial_idx]) if "Exchange" in ln)
    assert "hashpartitioning" in above
    assert final.count("BroadcastExchange") == 1


def test_token_df_not_a_window(spark):
    """token_rarity_stats / top_tfidf_terms must compute document
    frequency as a groupBy(token) aggregate joined back — NEVER a
    window partitioned by the token key, whose group for a stop token
    ("the" ~ every doc) cannot be AQE-split and lands in one task at
    corpus scale. The only Window allowed is tfidf's per-doc top-k."""
    from interpro7_dw_spark.operators.text import (
        token_rarity_stats,
        top_tfidf_terms,
    )

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    for df in (token_rarity_stats(docs), top_tfidf_terms(docs)):
        df.collect()
        final = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        # partition columns render first inside windowspecdefinition(
        # ...) — token as an ORDER BY tiebreak (tfidf top-k) is fine,
        # token as the PARTITION key is the scale bug
        assert "windowspecdefinition(token" not in final, [
            ln for ln in final.splitlines() if "windowspecdefinition" in ln
        ]
        # df arrives via a broadcast of the vocabulary-sized aggregate
        assert "BroadcastExchange" in final
        assert "partial_count" in final


def test_passage_df_not_a_window(spark):
    """repeated_passage_stats must mark shared passages via a
    groupBy(shingle) aggregate joined back — never a window partitioned
    by the passage key, whose group for a boilerplate passage (header,
    license block) cannot be AQE-split and pins one task at corpus
    scale. Same hot-key rule as test_token_df_not_a_window."""
    from interpro7_dw_spark.operators.dedup import repeated_passage_stats

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    df = repeated_passage_stats(docs)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "windowspecdefinition" not in final, [
        ln for ln in final.splitlines() if "windowspecdefinition" in ln
    ]
    assert "partial_count" in final


def test_pq_topk_two_stage_selection(spark):
    """pq_topk's ADC scores the whole corpus per query, so the final
    top-k must run as the exact two-stage selection: a local rank
    window keyed by (qid, vid-bucket) before the global per-qid rank —
    a bare per-qid window over ADC candidates would pin a corpus-sized
    group in one task."""
    from pyspark.sql import functions as F

    from interpro7_dw_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = pq_topk(emb, F.col("vec_id") < 3, k=3, ksub=4, iters=1)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    wins = [ln for ln in final.splitlines() if "windowspecdefinition" in ln]
    assert any("__b" in ln for ln in wins), wins
    # every qid-only window ranks the PRUNED stream, which arrives via
    # the local-rank filter — assert both windows are present
    assert len(wins) >= 2, wins


def test_token_df_cap_and_shuffle_join(spark):
    """max_df drops hot tokens before the join back; broadcast_vocab=
    False degrades to a shuffle join (AQE-skew-splittable) with
    identical results for the surviving tokens."""
    from interpro7_dw_spark.operators.text import token_rarity_stats

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet").limit(50)
    full = token_rarity_stats(docs).orderBy("doc_id").collect()
    shuffled = (
        token_rarity_stats(docs, broadcast_vocab=False)
        .orderBy("doc_id").collect()
    )
    assert full == shuffled
    capped = token_rarity_stats(docs, max_df=2).collect()
    # every retained token has df <= 2, so no doc can have more types
    by_id = {r.doc_id: r for r in capped}
    for r in full:
        if r.doc_id in by_id:
            assert by_id[r.doc_id].n_token_types <= r.n_token_types


def test_hll_sketch_tight_contract(spark):
    """The differ's z_approx_distinct_bounds verdict is deliberately
    loose (10%); the tight contract — HLL++ at rsd=0.02 within 5% of
    exact on every group — is asserted here, where a Spark-version
    drift fails a unit test instead of the byte-exact oracle."""
    import pyspark.sql.functions as F

    rows = (
        spark.read.parquet(SF_SMALL + "/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact"),
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= r.exact * 0.05, r


def test_minimizers_parallel_and_linear(spark):
    """minimizer_fingerprints must (a) hash-repartition on doc_id
    BEFORE the md5 pass so a single-split input still runs wide, and
    (b) compute window minima with a sliding Window frame — never the
    round-8 aggregate(slice(__kms, ...)) HOF whose per-window
    re-evaluation of the k-mer array was O(len^2) interpreted md5 per
    document (measured 231s for 50 docs at sf0.001)."""
    from interpro7_dw_spark.operators.text import minimizer_fingerprints

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    out = minimizer_fingerprints(docs, k=8, window=5)
    assert out.count() > 0
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # the sliding min is a Window node, not a HOF over array slices
    assert "Window" in final
    assert "slice(" not in final
    # the kernel runs wide: an exchange on doc_id precedes the hash
    # pass (hashpartitioning renders in the Exchange node)
    assert "hashpartitioning(doc_id" in final
    # and the exploded stage genuinely fans out past the input splits
    n_parts = out.rdd.getNumPartitions()
    assert n_parts > 1, n_parts


def test_orc_scan_pushes_filter_and_prunes_columns(spark, tmp_path):
    """The ORC reader must share parquet's contract: the predicate
    reaches the stripe reader (PushedFilters) and the scan schema is
    pruned to the projected columns."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "orc")
    spark.createDataFrame(
        [(i, f"d{i}", i * 10) for i in range(100)],
        "id long, name string, n long",
    ).write.orc(path)
    out = spark.read.orc(path).filter(F.col("n") > 500).select("id", "n")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "n" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "name" not in read_schema, read_schema


def test_mart_protein_shared_scan_persist_matches_default(spark, monkeypatch):
    """With the shared-scan threshold at 0, ``mart_protein`` persists
    the matches relation its mart body and domorg branch share (the
    scale-conditional branch local fixtures never reach) and returns
    the same rows as the default recompute path."""
    from interpro7_dw_spark.caching import engine_cache_scope
    from interpro7_dw_spark.plans import proteinq

    cache = spark._jsparkSession.sharedState().cacheManager()

    def rows():
        with engine_cache_scope():
            df = SPECS["mart_protein"].build(spark, SF_SMALL)
            persisted = cache.numCachedEntries()
            got = sorted(df.collect(), key=lambda r: r[0])
        assert len({r[0] for r in got}) == len(got)
        return got, persisted

    before = cache.numCachedEntries()
    default, default_cached = rows()
    monkeypatch.setattr(proteinq, "_SHARED_SCAN_BYTES", 0)
    shared, shared_cached = rows()
    assert shared_cached > default_cached
    assert len(shared) > 0 and shared == default
    assert cache.numCachedEntries() == before
