"""Sinks (SURVEY.md §2.1 S9-S17), Spark-first.

The reference's sink zoo (MySQL batch inserts, ES bulk, RocksDB,
gzipped XML/TSV/JSON files) maps to:

- relational marts  -> Parquet (or ``df.write.jdbc`` where a JDBC URL
  exists); secondary indexes (S10) become bucketing/sorting at write;
- ES documents      -> JSONL directories (the bulk indexer consumes
  them; alias flip = directory swap);
- RocksDB lookup    -> md5-sorted, prefix-partitioned Parquet — the
  same point-lookup layout (4096 list partitions,
  interpro/oracle/lookup.py:347-358) expressed as partition pruning +
  row-group stats;
- XML/TSV flat files -> ordered text writes with header/footer framing
  via mapPartitions serializers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_mart(df: DataFrame, path: str, sort_cols: list[str] | None = None) -> None:
    """Parquet mart write; sortWithinPartitions gives row-group stats
    that act as the KVStore footer index (point/range pushdown)."""
    out = df
    if sort_cols:
        out = df.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """Relational sink over JDBC (reference S9: MySQL batch inserts,
    interpro/mysql/entries.py executemany batches of ~1000).

    Spark's JDBC writer is the same shape the reference hand-rolls:
    each partition opens one connection and issues batched inserts
    (``batchsize`` rows per round trip); ``num_partitions`` caps the
    connection count — at cluster scale set it to what the database
    tolerates, not the input's partition count (a 1000-executor job
    must not open 1000 connections against one MySQL).

    Integration-tested against embedded Derby (the JDBC engine Spark
    ships) in tests/test_io.py — the same code path a MySQL URL takes.
    """
    opts = {"batchsize": str(batchsize), **(properties or {})}
    out = df.repartition(num_partitions) if num_partitions else df
    out.write.mode(mode).options(**opts).jdbc(url, table, properties=opts)


def read_jdbc_table(
    spark,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
):
    """JDBC read-back (S1's jdbc variant); partition options
    (partitionColumn/lowerBound/upperBound/numPartitions) pass through
    ``properties`` for parallel range scans of big tables."""
    return spark.read.options(**(properties or {})).jdbc(url, table)


def write_lookup_mart(
    df: DataFrame, path: str, key_col: str, prefix_len: int = 2
) -> None:
    """Match-lookup layout (reference S13/S14): rows hashed by key,
    directory-partitioned on a short hash prefix, sorted by full hash
    inside each partition — a point lookup reads one directory and
    prunes row groups by min/max."""
    hashed = df.withColumn("__h", F.md5(F.col(key_col).cast("binary"))).withColumn(
        "__hp", F.substring("__h", 1, prefix_len)
    )
    (
        hashed.repartition("__hp")
        .sortWithinPartitions("__h")
        .write.mode("overwrite")
        .partitionBy("__hp")
        .parquet(path)
    )


def write_tsv(
    df: DataFrame,
    path: str,
    header_lines: list[str] | None = None,
    compression: str | None = None,
    include_header: bool = True,
) -> None:
    """TSV flat-file sink (reference entry.list / protein2ipr.dat.gz,
    interpro/ftp/flatfiles.py:29-123). ``header_lines`` are comment
    lines prepended ahead of the column header; single ordered file
    (coalesce(1)) because the reference's flat files are one stream.
    At cluster scale use :func:`write_tsv_ranged` — the same stream
    split across range-ordered part files, no single-task stage.
    ``include_header=False`` for headerless files like protein2ipr.dat
    (flatfiles.py:90-118 writes data lines only)."""
    cols = df.columns
    line = F.concat_ws("\t", *[F.col(c).cast("string") for c in cols])
    rows = df.select(line.alias("value"))
    head = (header_lines or []) + (["\t".join(cols)] if include_header else [])

    # inject the header inside the single partition's iterator —
    # unioning a header DataFrame is NOT order-safe across planners
    def frame(lines):
        for h in head:
            yield (h,)
        for r in lines:
            yield (r.value,)

    framed = rows.rdd.coalesce(1).mapPartitions(frame).toDF("value string")
    writer = framed.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def write_tsv_ranged(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int,
    header_lines: list[str] | None = None,
    compression: str | None = None,
    include_header: bool = True,
    out_cols: list[str] | None = None,
) -> None:
    """The 100 TB shape of :func:`write_tsv`: the single logical
    stream split across ``num_files`` range-ordered part files —
    partition i holds keys strictly before partition i+1's
    (``repartitionByRange`` + in-partition sort), the header rides in
    partition 0, and part filenames (part-00000, part-00001, ...)
    preserve partition order, so ``cat part-* `` (name order) IS the
    byte stream :func:`write_tsv` would have produced. No single-task
    stage anywhere; each range sorts independently.

    This is the same two-phase range plan the sampling operators use
    (operators/sampling.py) and the Spark analogue of the reference's
    range fan-out (interpro/xrefs/utils.py:6-19).

    ``out_cols`` restricts the rendered line to a subset of columns
    while still range-sorting on ``sort_cols`` — for files whose line
    is a pre-rendered string but whose order is keyed on raw columns
    (e.g. interpro2go, ordered by (entry_acc, go_id), not by line).
    """
    cols = out_cols or df.columns
    ranged = df.repartitionByRange(
        num_files, *[F.col(c) for c in sort_cols]
    ).sortWithinPartitions(*sort_cols)
    line = F.concat_ws("\t", *[F.col(c).cast("string") for c in cols])
    rows = ranged.select(line.alias("value"))
    head = (header_lines or []) + (["\t".join(cols)] if include_header else [])

    def frame(idx, lines):
        if idx == 0:
            for h in head:
                yield (h,)
        for r in lines:
            yield (r.value,)

    rdd = rows.rdd
    if rdd.getNumPartitions() == 0:
        # degenerate empty plan: the header must still be written
        framed = df.sparkSession.createDataFrame(
            [(h,) for h in head], "value string"
        )
    else:
        framed = rdd.mapPartitionsWithIndex(
            frame, preservesPartitioning=True
        ).toDF("value string")
    writer = framed.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def write_json_batches(df: DataFrame, path: str, max_records_per_file: int) -> None:
    """Chunked JSON sink (reference EBISearch ~1M-field chunks,
    ebisearch.py:320-342) — maxRecordsPerFile is the chunking knob."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .json(path)
    )


def write_xml(
    df: DataFrame,
    path: str,
    row_to_xml,  # Callable[[Row], str]
    root_tag: str,
    header: str = '<?xml version="1.0" encoding="UTF-8"?>',
    prolog: str | None = None,
    compression: str | None = None,
) -> None:
    """Framed XML sink (reference interpro.xml.gz DOM writers,
    interpro/ftp/xmlfiles.py:209-452): mapPartitions serializes rows
    to fragments in parallel; the frame (header/root open/close, plus
    an optional ``prolog`` block right after the root opens — e.g. the
    ``<release>`` dbinfo section) is prepended/appended inside the
    single partition's iterator so the final concatenated stream is
    well-formed. Single file to preserve framing order; at cluster
    scale use :func:`write_xml_ranged` (range-split part files whose
    name-order concatenation is the same document)."""
    body = df.rdd.mapPartitions(lambda rows: (row_to_xml(r) for r in rows))
    open_tag, close_tag = f"<{root_tag}>", f"</{root_tag}>"

    # frame inside the single partition's iterator — unioning framing
    # DataFrames is NOT order-safe across planners/partitionings
    def frame(lines):
        yield (header,)
        yield (open_tag,)
        if prolog is not None:
            yield (prolog,)
        for line in lines:
            yield (line,)
        yield (close_tag,)

    framed = body.coalesce(1).mapPartitions(frame)
    writer = framed.toDF("value string").write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def write_xml_ranged(
    df: DataFrame,
    path: str,
    row_to_xml,  # Callable[[Row], str]
    root_tag: str,
    sort_cols: list[str],
    num_files: int,
    header: str = '<?xml version="1.0" encoding="UTF-8"?>',
    prolog: str | None = None,
    compression: str | None = None,
) -> None:
    """The 100 TB shape of :func:`write_xml`: elements split across
    ``num_files`` range-ordered part files — header/root-open (and the
    optional prolog) ride in partition 0, the root close in the last
    partition, so concatenating part files in name order is the exact
    well-formed document :func:`write_xml` produces in one.

    The close tag is pinned to the ACTUAL last partition, not
    ``num_files - 1``: RangePartitioner returns fewer partitions than
    requested when the sort key has fewer distinct sampled values (or
    the input is empty), so framing by the requested count would drop
    the root close and silently emit malformed XML."""
    ranged = df.repartitionByRange(
        num_files, *[F.col(c) for c in sort_cols]
    ).sortWithinPartitions(*sort_cols)
    open_tag, close_tag = f"<{root_tag}>", f"</{root_tag}>"
    rdd = ranged.rdd
    n_parts = rdd.getNumPartitions()
    if n_parts == 0:
        # degenerate empty plan: emit the framing alone
        lines = [header, open_tag] + ([prolog] if prolog is not None else [])
        lines.append(close_tag)
        framed = df.sparkSession.createDataFrame(
            [(line,) for line in lines], "value string"
        )
    else:
        last = n_parts - 1

        def frame(idx, rows):
            if idx == 0:
                yield (header,)
                yield (open_tag,)
                if prolog is not None:
                    yield (prolog,)
            for r in rows:
                yield (row_to_xml(r),)
            if idx == last:
                yield (close_tag,)

        framed = rdd.mapPartitionsWithIndex(
            frame, preservesPartitioning=True
        ).toDF("value string")
    writer = framed.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def publish_swap(staging_dir: str, live_dir: str, previous_dir: str) -> None:
    """The ES staging->live->previous alias flip
    (interpro/elastic/index.py:313-336) as atomic-ish directory moves."""
    import os
    import shutil

    if os.path.exists(previous_dir):
        shutil.rmtree(previous_dir)
    if os.path.exists(live_dir):
        os.rename(live_dir, previous_dir)
    os.rename(staging_dir, live_dir)


def zorder_key(cols: list[str], bits: int = 10):
    """Morton (Z-order) key: interleave the low ``bits`` of each
    pre-scaled NON-NEGATIVE integer column — bit b of column i lands
    at position ``b * ncols + i``. Pure integer column arithmetic
    (codegen'd, engine-portable); inputs must already sit in
    [0, 2^bits) — :func:`write_zordered` handles the scaling."""
    ncols = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for ci, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit.cast("long"), b * ncols + ci)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 10,
    num_files: int | None = None,
) -> None:
    """Multi-dimensional data-skipping layout: rows sorted along the
    Z-curve over ``cols`` so every output file covers a compact
    HYPER-RECTANGLE of the key space instead of a slab. A single-column
    sort prunes scans only for predicates on that column; the Z-layout
    keeps every ``cols`` member's per-file min/max narrow at once, so
    parquet footer stats prune for predicates on ANY of them — the
    standard lakehouse OPTIMIZE ZORDER BY shape, built from plain
    repartitionByRange + sortWithinPartitions.

    Scale: one min/max aggregate (2 x ncols scalars) for the value
    scaling, one range shuffle on the z key; file count follows the
    range partition count. Columns scale through doubles for layout
    only — the written DATA is untouched (the helper columns drop
    before the write; a projection after the sort preserves row
    order).
    """
    mm = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    scaled = df
    for c in cols:
        mn, mx = float(mm[f"mn_{c}"]), float(mm[f"mx_{c}"])
        span = (mx - mn) or 1.0
        scaled = scaled.withColumn(
            f"__zs_{c}",
            F.floor((F.col(c).cast("double") - mn) / span * top).cast("long"),
        )
    keyed = scaled.withColumn(
        "__z", zorder_key([f"__zs_{c}" for c in cols], bits)
    ).drop(*[f"__zs_{c}" for c in cols])
    parts = [num_files, "__z"] if num_files else ["__z"]
    (
        keyed.repartitionByRange(*parts)
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
