"""Text analysis operators for corpus pipelines.

All pure ``pyspark.sql.functions`` compositions — no Python UDFs in
the hot path, so whole-stage codegen applies and throughput scales
with cores, not with Python serde.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import owned_persist

from ..functions.portable import round_div

# minimal marker-token sets per language for the n-gram/stopword
# heuristic; extend freely — classification picks argmax with a fixed
# priority-order tiebreak so results are deterministic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los", "es"],
    "fr": ["le", "la", "de", "et", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu"],
}


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def quality_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple = (),
) -> DataFrame:
    """Length/diversity quality signals; all integer-derived so the
    values are engine-exact. ``extra_cols`` append extra column
    expressions to the same single scan."""
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    return docs.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        round_div(n_uniq, n_tokens, 4).alias("ttr"),
        F.length(text_col).alias("n_chars_actual"),
        round_div(F.length(text_col) - (n_tokens - 1), n_tokens, 4).alias("avg_token_len"),
        F.when(n_tokens >= 20, "long").when(n_tokens >= 10, "medium").otherwise("short").alias("len_bucket"),
        *extra_cols,
    )


def language_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-token language id: argmax of per-language marker hits,
    ties broken by the declaration order of LANG_MARKERS."""
    toks = F.array_distinct(_tokens(text_col))
    out = docs.select(F.col(id_col), F.col(text_col))
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out = out.withColumn(f"s_{lang}", F.size(F.array_intersect(toks, marker_arr)))
    langs = list(LANG_MARKERS)
    pred = None
    for i, lang in enumerate(langs[:-1]):
        # lang wins if it beats-or-ties every later language
        cond = F.lit(True)
        for other in langs[i + 1:]:
            cond = cond & (F.col(f"s_{lang}") >= F.col(f"s_{other}"))
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(F.lit(langs[-1]))
    return out.withColumn("pred_lang", pred).drop(text_col)


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """Sub-word-ish token count: words + digits + punctuation runs,
    the usual cheap proxy for tokenizer cost."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Canonical-form document fingerprint: lowercase, collapse
    whitespace, md5. (The reference fingerprints domain strings the
    same way: sha1 of a '-'-joined canonical key,
    interpro/xrefs/domorgs.py:60-62.)"""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(
        id_col,
        F.md5(normalized.cast("binary")).alias("fp"),
    )


# PII patterns kept to syntax both Java regex (Spark) and RE2 (DuckDB,
# Go scrubbers) accept — no backrefs, no lookaround — so one pattern
# table serves the whole stack. Order matters: email before ipv4 so a
# dotted-quad inside an email host is consumed as part of the email.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}-\d{3}-\d{4}",
}


def scrub_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Mask PII spans in document text and count them per category —
    the standard pre-training scrub pass (emails, bare IPv4s,
    international-format phone numbers by default; pass ``patterns``
    to extend).

    Each category's occurrences are counted on the ORIGINAL text
    (``n_<kind>`` columns), then masked as ``[<KIND>]`` by chained
    ``regexp_replace`` in dict order — so overlapping categories
    resolve deterministically (the email pattern consumes its host
    before the ipv4 pattern can see it).

    Scale: pure map-side column expressions (``regexp_count`` +
    ``regexp_replace`` inside whole-stage codegen) — zero shuffles,
    zero Python; throughput is regex-engine-bound and embarrassingly
    parallel at any corpus size.

    Returns (doc_id, scrubbed, n_<kind>...).
    """
    pats = patterns or PII_PATTERNS
    scrubbed = F.col(text_col)
    counts = []
    for kind, pat in pats.items():
        counts.append(
            F.regexp_count(text_col, F.lit(pat)).cast("long").alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"[{kind.upper()}]")
    return docs.select(
        F.col(id_col).alias("doc_id"), scrubbed.alias("scrubbed"), *counts
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 128,
    stride: int = 96,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pre-tokenization chunker for RAG indexing and
    fixed-context training examples. Chunk i covers tokens
    ``[i*stride, i*stride + window)`` (whitespace tokens here; swap the
    splitter for a real tokenizer's offsets at ingest); the last chunk
    starts at the final stride mark that still has unseen tokens, so
    every token belongs to >= 1 chunk and documents shorter than
    ``window`` yield exactly one chunk.

    Scale: posexplode over a per-row ``sequence`` — pure map-side
    columnar work, no shuffle, no Python; output carries (doc_id,
    chunk_id) so downstream dedup/packing operators key on the chunk
    exactly like a document.

    Returns (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if stride > window:
        raise ValueError("stride > window would drop tokens between chunks")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # number of chunks: ceil(max(n - window, 0) / stride) + 1
    n_chunks = (
        F.floor((F.greatest(n - window, F.lit(0)) + stride - 1) / stride) + 1
    ).cast("int")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__t"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(F.slice("__t", F.col("chunk_id") * stride + 1, window))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice("__t", F.col("chunk_id") * stride + 1, window)
        ).alias("chunk_text"),
    )


def _token_df(
    pairs: DataFrame,
    broadcast_vocab: bool | None,
    max_df: int | None,
) -> DataFrame:
    """Document-frequency table from distinct (doc, token) rows:
    ``groupBy(token).count()`` — partial aggregation reduces map-side,
    so the shuffle carries one row per (partition, token), and the
    result is vocabulary-sized. NEVER a window over the token key: a
    window group cannot be split by AQE, so a stop token ("the" ~
    every doc) would pin its whole group in one task at corpus scale.

    ``broadcast_vocab=None`` (default) leaves the join strategy to
    AQE: it sees the aggregate's actual runtime size and broadcasts
    when it fits (which it does for any natural-language vocabulary),
    or falls back to a shuffle join whose hot keys it skew-splits — a
    forced hint would OOM on a pathological 10^9-token vocab. True
    forces the broadcast hint; False forbids it. ``max_df`` drops
    tokens above a df ceiling BEFORE the join back (the
    drop_hot_shingles guard, dedup.py) — bounds the fan-in when a
    tokenizer emits pathological tokens."""
    df_tab = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        df_tab = df_tab.filter(F.col("df") <= max_df)
    if broadcast_vocab is True:
        return F.broadcast(df_tab)
    if broadcast_vocab is False:
        return df_tab.hint("shuffle_hash")
    return df_tab


def token_rarity_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Corpus-frequency quality signal (the integer-exact cousin of
    CCNet's LM-perplexity filter): each token is weighted by the
    bit-length of its document frequency — ``bitlen(df) - 1 ==
    floor(log2(df))``, a log-bucketed commonness score computed in
    pure integer arithmetic, so every engine agrees exactly where a
    float ``log`` would drift at bucket boundaries. Documents built
    from rare vocabulary score LOW mean-commonness (like high
    perplexity); boilerplate built from ubiquitous tokens scores HIGH.

    Shape: one distinct-(doc, token) explode -> token-df aggregate
    (map-side combine; the df table is vocabulary-sized, see
    :func:`_token_df`) -> join back on token -> per-document
    aggregate. The join strategy is AQE's runtime call by default
    (broadcast when the vocabulary fits, skew-split shuffle join when
    not — see :func:`_token_df`); ``max_df`` caps the fan-in like
    drop_hot_shingles (dedup.py). With ``max_df`` set, capped tokens
    vanish from the stats (an inner join) — the usual stop-token
    exclusion semantics.

    Returns (doc_id, n_token_types, df_bits_sum, mean_commonness).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).distinct()
    with_df = toks.join(_token_df(toks, broadcast_vocab, max_df), "token")
    bits = (F.length(F.conv(F.col("df"), 10, 2)) - 1).cast("long")
    return (
        with_df.select("doc_id", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_token_types"),
            F.sum("bits").alias("df_bits_sum"),
        )
        .select(
            "doc_id",
            "n_token_types",
            "df_bits_sum",
            round_div(F.col("df_bits_sum"), F.col("n_token_types"), 4)
            .alias("mean_commonness"),
        )
    )


def top_tfidf_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by an
    INTEGER-exact tf-idf surrogate — ``tf * (bitlen(N) - bitlen(df))``,
    where tf is the in-document term count and the idf factor is the
    log2-bucket gap between corpus size and document frequency (same
    bit-length trick as :func:`token_rarity_stats`, so engines never
    disagree at float-log bucket edges). Ties broken by token text:
    fully deterministic top-k.

    Shape: token explode -> per-(doc, token) tf aggregate -> df as a
    ``groupBy(token)`` aggregate joined back (vocabulary-sized,
    AQE-broadcast when it fits — see :func:`_token_df`; never a window over
    the token key, which would pin a stop token's whole group in one
    task) -> per-doc top-k window bounded by the doc's distinct-term
    count. N is one scalar. ``max_df`` drops ubiquitous tokens from
    the keyword pool entirely (their idf gap is ~0 anyway).

    Returns (doc_id, term_rank, token, tf, score).
    """
    from pyspark.sql.window import Window

    pairs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.select(id_col).distinct().count()  # one scalar
    n_bits = n_docs.bit_length()
    with_df = pairs.join(_token_df(pairs, broadcast_vocab, max_df), "token")
    scored = with_df.select(
        "doc_id",
        "token",
        "tf",
        (
            F.col("tf")
            * (F.lit(n_bits) - (F.length(F.conv(F.col("df"), 10, 2))))
        ).cast("long").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "term_rank", "token", "tf", "score")
    )


def bigram_lm(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus bigram language model — the training half of the CCNet
    filtering loop (train a small LM on clean text, score candidates
    by perplexity; :func:`perplexity_buckets` is the scoring half):
    per (w1, w2) the corpus count, the unigram-context count, and the
    add-one-smoothed conditional probability
    ``(c(w1,w2) + 1) / (c(w1) + V)`` with V the unigram vocabulary
    size. Counts are exact integers; the single float is the final
    division, identical on any engine.

    Shape: consecutive-pair extraction is a map-side higher-order
    transform over the token array (no positional self-join); the
    bigram and context counts are two hash aggregates (map-side
    partial, AQE-splittable hot keys) joined on w1 — never a window
    over a token key (hot-key rule, see :func:`_token_df`).
    ``min_count`` prunes the long tail before the join back.

    Returns (w1, w2, n_bigram, n_context, cond_p).

    Cache note: persists an intermediate (via owned_persist) that
    the lazy result reuses; consumers bound its lifetime with
    ``with engine_cache_scope(): ...`` (interpro7_dw_spark/caching.py),
    as tools/differ.py and bench.py do per query.
    """
    toks = _tokens(text_col)
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.expr("CAST(array() AS array<struct<w1 STRING, w2 STRING>>)"))
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # feeds bigram counts AND context counts (at cluster scale:
    # checkpoint the pair relation to parquet instead, as jaccard_pairs
    # documents for its shingle relation)
    pairs = owned_persist(pairs)
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bigram"))
        .filter(F.col("n_bigram") >= min_count)
    )
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("n_context"))
    # V = distinct unigrams anywhere in the corpus (w1 or w2 position)
    vocab = (
        docs.select(F.explode(toks).alias("w")).agg(F.count_distinct("w")).first()[0]
    )
    return (
        bi.join(ctx, "w1")
        .select(
            "w1",
            "w2",
            "n_bigram",
            "n_context",
            round_div(
                F.col("n_bigram") + 1, F.col("n_context") + F.lit(int(vocab)), 6
            ).alias("cond_p"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    num_ranges: int | None = None,
    broadcast_vocab: bool | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020): rank each language's documents by a language-model quality
    score and cut the ranking into equal tertiles — head (best),
    middle, tail (worst) — so downstream sampling can weight by
    bucket. The LM here is the corpus's own unigram statistics:
    :func:`token_rarity_stats`' integer-exact ``mean_commonness``
    stands in for negative perplexity (common vocabulary = low
    perplexity = head), keeping every engine bit-agreed where a real
    LM's float perplexities would drift.

    Scale — NO single-task-per-language window (sampling.py module
    docstring): the per-language rank runs the two-phase bucket-split
    plan, with the bucket id an equal-width VALUE cut of the score
    range (min/max are two driver scalars) instead of a hash-prefix
    cut — monotone in the ranking order, so local rank + broadcast
    prefix-summed bucket offsets is the exact global rank. Value cuts
    can be unbalanced when scores cluster (hash cuts cannot), which
    costs balance, not correctness; the counts table stays
    #buckets x #languages rows. Tertile assignment is then integer
    arithmetic against the broadcast per-language totals.

    Returns (doc_id, lang, mean_commonness, lang_rank, ppl_bucket)
    with ``ppl_bucket`` in {'tail', 'middle', 'head'} for the default
    3 buckets (bucket index otherwise).
    """
    from pyspark.sql.window import Window

    scores = token_rarity_stats(
        docs, id_col=id_col, text_col=text_col,
        broadcast_vocab=broadcast_vocab, max_df=max_df,
    ).select("doc_id", "mean_commonness")
    scored = docs.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    ).join(scores, "doc_id")
    n = min(num_ranges or int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    ), 65536)
    bounds = scored.agg(
        F.min("mean_commonness").alias("mn"), F.max("mean_commonness").alias("mx")
    ).first()
    mn, mx = float(bounds.mn), float(bounds.mx)
    span = (mx - mn) or 1.0
    pid = F.least(
        F.lit(n - 1),
        F.floor((F.col("mean_commonness") - F.lit(mn)) / F.lit(span) * n).cast("int"),
    )
    ranged = scored.withColumn("__pid", pid)
    w_local = Window.partitionBy("__pid", "lang").orderBy(
        "mean_commonness", "doc_id"
    )
    local = ranged.withColumn("__lrank", F.row_number().over(w_local))
    counts = ranged.groupBy("__pid", "lang").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.partitionBy("lang").orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long")
    )
    totals = counts.groupBy("lang").agg(F.sum("__cnt").cast("long").alias("__n"))
    ranked = (
        local.join(F.broadcast(offsets.select("__pid", "lang", "__off")),
                   ["__pid", "lang"])
        .join(F.broadcast(totals), "lang")
        .withColumn("lang_rank", (F.col("__off") + F.col("__lrank")).cast("long"))
    )
    # ascending commonness rank: rarest vocabulary (highest pseudo-
    # perplexity) ranks first -> tertile 0 = tail, last = head
    tert = (F.lit(n_buckets) * (F.col("lang_rank") - 1)).cast("long") / F.col("__n")
    bucket = F.floor(tert).cast("int")
    label = bucket.cast("string")
    if n_buckets == 3:
        label = (
            F.when(bucket == 0, "tail").when(bucket == 1, "middle").otherwise("head")
        )
    return ranked.select(
        "doc_id", "lang", "mean_commonness", "lang_rank",
        label.alias("ppl_bucket"),
    )


def repetition_stats(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int | None = None,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 A1.1
    repetition filters, integer-exact variant): per document, over the
    whitespace-token ``n``-gram stream —

    - ``n_ngrams``        total n-grams (len - n + 1, 0 if shorter);
    - ``n_distinct``      distinct n-grams;
    - ``dup_ngram_frac``  fraction of n-gram OCCURRENCES whose n-gram
      appears more than once (the "duplicate n-gram fraction" filter);
    - ``top_ngram_frac``  share of the single most frequent n-gram
      (ties by count only — the share is identical whichever tied
      gram is "top").

    Boilerplate/spam pages score high on both; natural prose stays
    low. Fractions are exact integer ratios rounded to 4 places, so
    any engine agrees.

    Scale: ENTIRELY map-side — the n-gram array, its distinct set and
    the per-distinct counts are per-row higher-order functions (no
    explode, no shuffle, no Python); cost is O(u * g) per row for u
    distinct and g total grams, same order as the tokenizer scan for
    natural text. ``max_tokens`` clamps the scored prefix so an
    adversarially long row (u*g ~ len^2 worst case) cannot pin a task;
    repetition signals saturate within the first few thousand tokens
    anyway (the published filters score fixed-length windows).
    """
    toks = _tokens(text_col)
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    gram_at = lambda i: F.concat_ws(  # noqa: E731
        "", *[F.element_at(toks, i + k) for k in range(n)]
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram_at
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        docs.select(F.col(id_col).alias("doc_id"), grams.alias("__g"))
        .select(
            "doc_id",
            F.size("__g").cast("long").alias("n_ngrams"),
            F.transform(
                F.array_distinct("__g"),
                lambda d: F.size(F.filter(F.col("__g"), lambda x: x == d)),
            ).alias("__cnts"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            F.size("__cnts").cast("long").alias("n_distinct"),
            F.aggregate(
                "__cnts",
                F.lit(0).cast("long"),
                lambda acc, c: acc
                + F.when(c > 1, c.cast("long")).otherwise(F.lit(0).cast("long")),
            ).alias("__dup_occ"),
            F.greatest(
                F.array_max("__cnts").cast("long"), F.lit(0).cast("long")
            ).alias("__top"),
        )
    )
    return counted.select(
        "doc_id",
        "n_ngrams",
        "n_distinct",
        F.when(
            F.col("n_ngrams") > 0,
            round_div(F.col("__dup_occ"), F.col("n_ngrams"), 4),
        ).otherwise(F.lit(0.0)).alias("dup_ngram_frac"),
        F.when(
            F.col("n_ngrams") > 0,
            round_div(F.col("__top"), F.col("n_ngrams"), 4),
        ).otherwise(F.lit(0.0)).alias("top_ngram_frac"),
    )


# single-char folds: curly quotes -> straight, en/em dash -> hyphen,
# NBSP -> space. Kept to 1:1 translate() maps (not regex) so any
# engine applies them identically and in one pass.
NORM_FOLD_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
NORM_FOLD_TO = "''\"\"-- "
# explicit whitespace class, NOT \s: Java \s includes \x0B where RE2's
# does not — an explicit class means Spark, DuckDB and any Go/RE2
# scrubber collapse exactly the same runs
_WS_RUN = "[ \t\n\r\f]+"
_CTRL = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = False,
) -> DataFrame:
    """Canonical text normalization — the pre-dedup cleanup pass every
    corpus pipeline runs so near-identical pages (curly vs straight
    quotes, NBSP vs space, stray control bytes) hash identically
    downstream: fold typographic punctuation (1:1 translate), strip
    control characters, collapse whitespace runs, trim, optional
    lowercase. Patterns stay in the Java-regex/RE2 common subset and
    the whitespace class is explicit (Java ``\\s`` and RE2 ``\\s``
    disagree on \\x0B), so every engine produces byte-identical
    output.

    Scale: pure map-side column expressions in whole-stage codegen —
    zero shuffles, zero Python. Returns (doc_id, normalized, changed).
    """
    x = F.translate(F.col(text_col), NORM_FOLD_FROM, NORM_FOLD_TO)
    x = F.regexp_replace(x, _CTRL, " ")
    x = F.trim(F.regexp_replace(x, _WS_RUN, " "))
    if lowercase:
        x = F.lower(x)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        x.alias("normalized"),
        (x != F.col(text_col)).alias("changed"),
    )


def linear_quality_score(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias_milli: int = 0,
) -> DataFrame:
    """Hashed-bag-of-words linear classifier scoring — the fastText /
    CCNet quality-model shape: each token occurrence hashes into one
    of ``n_buckets`` feature buckets, the document's score is the mean
    bucket weight plus a bias, and the label is the score's sign.
    ``weights`` is a (bucket: long, w_milli: long) table — integer
    milli-weights, so the per-document sum is exact and
    order-independent on every engine (a float dot product would be
    partition-order-dependent). The mean is kept integer too:
    ``score_micro = (1000 * sum) DIV n + 1000 * bias`` (floor
    division — round() on a float mean is NOT engine-portable: Spark
    rounds the shortest decimal repr HALF_UP while DuckDB rounds the
    binary value, and they disagree on exact .5 boundaries like
    10473/80/1000, found by the sf0.1 sweep); the ``score`` double is
    the exact division of that integer by 1e6.

    Scale: this is how a trained linear model scores a 100 TB corpus —
    the model IS a broadcast dim table (n_buckets rows), the feature
    hash is map-side md5 arithmetic, and the only shuffle is the
    per-document aggregate. Swapping in real trained weights is a data
    change, not a plan change.

    Returns (doc_id, n_tokens, score_milli_sum, score, label).
    """
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(CAST(token AS BINARY)), 1, 8), 16, 10) "
            f"AS BIGINT) % {n_buckets}"
        ).alias("bucket"),
    )
    scored = occ.join(F.broadcast(weights), "bucket").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("w_milli").cast("long").alias("score_milli_sum"),
    )
    micro = (
        F.expr("(1000 * score_milli_sum) DIV n_tokens").cast("long")
        + F.lit(1000 * bias_milli)
    )
    return scored.withColumn("score_micro", micro).select(
        "doc_id",
        "n_tokens",
        "score_milli_sum",
        (F.col("score_micro") / F.lit(1_000_000.0)).alias("score"),
        (F.col("score_micro") >= 0).alias("label"),
    )


def hashed_pseudo_weights(spark, n_buckets: int = 256) -> DataFrame:
    """Deterministic stand-in weight table for
    :func:`linear_quality_score` when no trained model is on hand
    (tests, oracles): w_milli(bucket) = md5-derived integer in
    [-1000, 1000]. A real model replaces this table; the scoring plan
    is unchanged."""
    return spark.range(0, n_buckets).select(
        F.col("id").alias("bucket"),
        (
            F.expr(
                "CAST(conv(substring(md5(CAST(concat('w:', CAST(id AS STRING)) "
                "AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 2001"
            )
            - 1000
        ).alias("w_milli"),
    )


_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"


def tag_blocked_domains(
    docs: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """C4/RefinedWeb-style URL filtering signal: flag documents whose
    URL host matches a blocklisted registrable domain or ANY of its
    subdomains (dot-boundary suffix match — blocking ``spam.net``
    blocks ``ads.spam.net`` but not ``notspam.net``). ``blocklist`` is
    a one-column (``domain``) DataFrame.

    Scale: the host extraction is one map-side regex; suffix matching
    explodes the host into its dot-suffixes (<= #labels per row, ~4-6)
    and LEFT-SEMI-joins against the BROADCAST blocklist — an equi-join
    probe, never a regex-per-blocked-domain scan (real blocklists run
    10^5-10^7 entries; a regex union would be unplannable and a
    like-join a cross product). ``broadcast_blocklist=False`` degrades
    to a shuffle semi-join on the same key for blocklists too big to
    broadcast.

    Returns (id, url, host, is_blocked) for every input row.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1)).alias("host"),
    )
    labels = F.split(F.col("host"), r"\.")
    sfx = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(labels)),
                lambda i: F.array_join(
                    F.slice(labels, i, F.size(labels) - i + 1), "."
                ),
            )
        ).alias("sfx"),
    )
    bl = blocklist.select(F.col("domain").alias("sfx"))
    if broadcast_blocklist:
        bl = F.broadcast(bl)
    blocked = (
        sfx.join(bl, "sfx", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return d.join(
        blocked.withColumn("__b", F.lit(True)), "doc_id", "left"
    ).select(
        F.col("doc_id").alias(id_col),
        "url",
        "host",
        F.coalesce("__b", F.lit(False)).alias("is_blocked"),
    )


def minimizer_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 5,
) -> DataFrame:
    """(w,k)-minimizer sampling (Roberts et al. 2004; the seeding
    primitive under minimap2 and most modern sequence indexes, and a
    sound sparse fingerprint for near-dup text too): slide a window of
    ``window`` consecutive k-mers over each document's character
    sequence and keep each window's minimum-hash k-mer. Consecutive
    windows usually share their minimizer, so the output is a sparse,
    shift-robust subset of k-mer positions — two sequences sharing a
    long substring share most minimizers inside it, which is what
    makes the fingerprint joinable for candidate generation at 100 TB
    where all-kmers inverted indexes are ~|corpus| x |len| rows.

    Plan shape (the round-8 HOF version was O(len^2) per doc and
    single-task — this is the measured fix): the k-mer/hash array is
    built ONCE per document by a ``transform`` over the position
    sequence (a 60-bit md5 prefix as BIGINT — engine-replayable, no
    seed state), ``explode``d to one row per k-mer (Generate
    evaluates the array once, so the md5 pass is O(len)), and the
    per-window minimum comes from a sliding ``rowsBetween(0, w-1)``
    window ``min`` over ``struct(h, p, km)`` — JVM-side, O(len*w)
    comparisons, no per-window array slicing. The window's
    hash-repartition on doc_id doubles as the exchange barrier that
    frees the kernel from the input's split count (1 gz file no
    longer means 1 task). Ties inside a window break toward the
    LEFTMOST minimal hash (the standard convention) — lexicographic
    struct ordering (h, then p) equals min-by (hash, position), so
    any engine replays the pick. Final ``distinct`` collapses the
    consecutive windows that share a minimizer.

    Returns (doc_id, pos, kmer, h60) — one row per selected
    (document, window-minimizer occurrence), ``pos`` 1-based.
    """
    toks = F.expr(
        f"""
        transform(
          sequence(1, greatest(length(__t) - {k - 1}, 0)),
          i -> named_struct(
            'p', i,
            'km', substring(__t, i, {k}),
            'h', cast(conv(substring(md5(binary(substring(__t, i, {k}))), 1, 15),
                           16, 10) as bigint)
          )
        )
        """
    )
    sess = docs.sparkSession
    n_part = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    rows = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
        # barrier: break the input's split count BEFORE the md5 pass so
        # the O(len) hashing runs 32-wide even off a single gz split
        .repartition(n_part, "doc_id")
        .select("doc_id", F.explode(toks).alias("x"))
        .select("doc_id", "x.p", "x.km", "x.h")
    )
    per_doc = Window.partitionBy("doc_id")
    sliding = (
        Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, window - 1)
    )
    return (
        rows.withColumn("__nk", F.count(F.lit(1)).over(per_doc))
        .withColumn("__m", F.min(F.struct("h", "p", "km")).over(sliding))
        .where(F.col("p") <= F.col("__nk") - (window - 1))
        .select(
            "doc_id",
            F.col("__m.p").cast("long").alias("pos"),
            F.col("__m.km").alias("kmer"),
            F.col("__m.h").alias("h60"),
        )
        .distinct()
    )
