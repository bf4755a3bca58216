"""Text-analysis operators for training-data pipelines.

Language ID (marker-token heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting — all pure
``pyspark.sql.functions`` expressions (JVM-side, codegen'd, linearly
partition-parallel; no UDFs in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import md5_int60
from ..sources.loader import spread_partitions

from .dedup import fingerprint_col, tokens_col

# Public-knowledge high-frequency marker words per language (tiny heuristic
# lexicons; the operator contract is deterministic scoring, not SOTA LID).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "ein"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他"],
}

# BPE-ish token regex: letter runs, digit runs, or single non-space symbols.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = LANG_MARKERS["en"]


def token_count_cols(text_col: str = "text"):
    """(whitespace_tokens, bpe_ish_tokens) counts."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), F.lit(0)))
    return ws.alias("ws_tokens"), bpe.alias("bpe_tokens")


def lang_scores(text_col: str = "text"):
    """Per-language marker-hit counts as individual columns."""
    toks = tokens_col(text_col)
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id_col(text_col: str = "text"):
    """Deterministic argmax over marker scores (fixed tie-break order)."""
    scores = lang_scores(text_col)
    langs = list(LANG_MARKERS)
    expr = None
    # first language (in declaration order) whose score >= all others wins
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        for prior in langs[:i]:
            c = scores[lang] > scores[prior]
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr.otherwise(F.lit(langs[0]))


def quality_score_col(text_col: str = "text"):
    """Composite [0,1] quality score from cheap surface statistics.

    0.4·length_score + 0.3·stopword_ratio_score + 0.3·alpha_ratio — the
    classic pretraining-corpus heuristic family (length / punctuation /
    stopword ratios), deterministic double arithmetic.
    """
    toks = tokens_col(text_col)
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length(F.col(text_col)).cast("double")
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")).cast("double")
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS]))
    ).cast("double")
    length_score = F.least(F.lit(1.0), n_chars / F.lit(500.0))
    stop_score = F.least(F.lit(1.0), (stop_hits / F.greatest(n_tokens, F.lit(1.0))) * F.lit(5.0))
    alpha_ratio = alpha_chars / F.greatest(n_chars, F.lit(1.0))
    return F.round(
        F.lit(0.4) * length_score + F.lit(0.3) * stop_score + F.lit(0.3) * alpha_ratio, 6
    )


def analyze_documents(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection over a documents table."""
    ws, bpe = token_count_cols(text_col)
    return df.select(
        F.col(id_col),
        ws,
        bpe,
        lang_id_col(text_col).alias("predicted_lang"),
        quality_score_col(text_col).alias("quality_score"),
        fingerprint_col(text_col).alias("fingerprint"),
    )


def all_tokens_col(text_col: str = "text"):
    """ALL lowercase whitespace tokens, duplicates kept in order (the unit
    for frequency statistics — `tokens_col` deduplicates, this doesn't)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def top_ngrams(
    df: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word n-grams by frequency (deterministic tie-break
    on the n-gram string).

    Map-side: per-doc n-gram construction with JVM higher-order functions and
    an explode — no Python. The count is a hash aggregation with map-side
    partial combine, and the top-k is TakeOrderedAndProject (per-partition
    heap + k-row driver merge), so nothing materializes a global sort at
    corpus scale.
    """
    from .dedup import _shingles

    toks = all_tokens_col(text_col)
    grams = _shingles(toks, n)
    return (
        spread_partitions(df)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("ngram"))
        .limit(k)
    )


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(document, term) TF-IDF over the corpus.

    tf = term count within the document; idf = ln(N / df_t) with N the
    corpus size and df_t the number of documents containing the term.
    Two shuffles total: one per-(doc, term) count, one per-term document
    frequency, joined back on the term — the corpus size N is a broadcast
    1-row aggregate, never a driver-side collect.
    """
    toks = all_tokens_col(text_col)
    term_rows = spread_partitions(df).select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("term")
    )
    tf = term_rows.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = term_rows.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_t")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df_t")),
                6,
            ).alias("tf_idf"),
        )
    )


def quality_filter(
    df: DataFrame,
    min_score: float = 0.5,
    lang: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The pretraining-corpus filter chain: quality threshold + optional
    language gate, emitting the surviving docs with their scores."""
    out = analyze_documents(df, id_col=id_col, text_col=text_col).filter(
        F.col("quality_score") >= min_score
    )
    if lang is not None:
        out = out.filter(F.col("predicted_lang") == lang)
    return out


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling k-gram hash + window-min).

    The MOSS algorithm (Schleimer/Wilkerson/Aiken, SIGMOD'03) at token
    granularity: hash every k-token gram (the rolling-hash step), then slide
    a w-gram window and select each window's minimum hash. Guarantee: two
    documents sharing a run of >= w + k - 1 tokens share at least one
    selected fingerprint, while only ~2/(w+1) of gram hashes are kept.

    Entirely JVM-side higher-order functions — ``transform`` over a position
    ``sequence`` builds the gram hashes, a second ``transform`` +
    ``array_min`` does window selection; no Python in the row path. The
    exploded (fingerprint, doc) output is the join-ready inverted index: a
    containment-dedup self-join groups by fingerprint — shuffle keyed on a
    bigint, same shape as the MinHash band join.

    Documents shorter than k tokens fingerprint their whole token array;
    fewer than w grams selects the global minimum (standard winnowing edge
    behavior). Gram hashes are :func:`md5_int60`, which DuckDB replays, so
    the selected fingerprints are value-verified against a SQL oracle.
    """
    toks = all_tokens_col(text_col)
    prepared = spread_partitions(df).select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    )
    grams = F.when(
        F.col("_n") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("_n") - (k - 1)),
            lambda i: md5_int60(F.array_join(F.slice("_toks", i, k), " ")),
        ),
    ).otherwise(F.array(md5_int60(F.array_join("_toks", " "))))
    hashed = prepared.select(id_col, grams.alias("_gh"), F.size(grams).alias("_g"))
    selected = F.when(
        F.col("_g") >= w,
        F.transform(
            F.sequence(F.lit(1), F.col("_g") - (w - 1)),
            lambda j: F.array_min(F.slice("_gh", j, w)),
        ),
    ).otherwise(F.array(F.array_min("_gh")))
    return hashed.select(
        id_col,
        F.explode(F.array_sort(F.array_distinct(selected))).alias("fingerprint"),
    )


def word_ngrams_col(words, n: int):
    """Array of space-joined word ``n``-grams; empty for too-short docs.

    Pure higher-order expressions (``transform`` over a position
    ``sequence``) — JVM codegen, no shuffle, no Python.
    """
    idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
    return F.when(
        F.size(words) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def benchmark_overlap(
    docs: DataFrame,
    bench_pred,
    n: int = 5,
    min_overlap: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with a benchmark/eval split (the n-gram-overlap method used to
    scrub eval contamination from LLM pretraining corpora).

    ``bench_pred`` is a boolean Column selecting the benchmark documents.
    Returns (doc_id, n_overlap, contaminated) for every NON-benchmark doc
    that shares at least one distinct n-gram with the benchmark set.

    Scale shape: n-grams are deduped per-document BEFORE the explode
    (``array_distinct`` map-side, so the flatMap emits each doc's gram set
    once); the benchmark side is globally distinct and broadcast — benchmark
    suites are tiny next to a training corpus, so the probe join ships no
    corpus bytes. One shuffle total (the per-doc overlap count). At larger
    benchmark sizes the same plan degrades gracefully: drop the broadcast
    hint and Catalyst picks a shuffled hash join keyed on the gram.
    """
    exploded = docs.select(
        F.col(id_col),
        bench_pred.alias("__is_bench"),
        F.split(F.col(text_col), " ").alias("__w"),
    ).select(
        id_col,
        "__is_bench",
        # staged so the split array is built once; the ngram transform then
        # references a materialized attribute, not a re-inlined split tree
        F.explode(F.array_distinct(word_ngrams_col(F.col("__w"), n))).alias("gram"),
    )
    bench = exploded.filter(F.col("__is_bench")).select("gram").distinct()
    train = exploded.filter(~F.col("__is_bench")).select(id_col, "gram")
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .withColumn("contaminated", F.col("n_overlap") >= min_overlap)
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-word and
    duplicate-bigram fractions per document, plus a pass/fail flag.

    Entirely expression-level (``array_distinct`` over the split words and
    the bigram array) — zero shuffles, linearly partition-parallel, the
    cheapest possible shape for a 100 TB quality-filter pass.
    """
    # Staged selects so the split / bigram arrays are built ONCE per row:
    # referencing one Column object repeatedly inlines a copy of its whole
    # expression tree per reference (higher-order lambdas sit outside
    # codegen common-subexpression elimination, so each copy really
    # re-executes — measured 2x wall on the corpus scan). CollapseProject
    # keeps the stages separate because the aliased arrays are non-cheap
    # and referenced more than once.
    staged = (
        docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
        .select(id_col, "__w", word_ngrams_col(F.col("__w"), 2).alias("__g2"))
        .select(
            id_col,
            "__g2",
            F.size("__w").alias("n_words"),
            F.size(F.array_distinct("__w")).alias("__w_distinct"),
        )
    )
    return staged.select(
        id_col,
        "n_words",
        (
            F.lit(1.0) - F.col("__w_distinct").cast("double") / F.col("n_words").cast("double")
        ).alias("dup_word_frac"),
        F.when(
            F.size("__g2") > 0,
            F.lit(1.0)
            - F.size(F.array_distinct("__g2")).cast("double")
            / F.size("__g2").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    ).withColumn(
        "pass_repetition",
        (F.col("dup_word_frac") < 0.9) & (F.col("dup_bigram_frac") < 0.9),
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_cap: int = 50,
) -> DataFrame:
    """Truncated-postings inverted index: token -> (document frequency,
    first ``postings_cap`` postings by doc id).

    The retrieval building block the reference's gold layer stops short of
    (it aggregates orders, not terms) and a corpus pipeline needs for exact
    keyword lookup / decontamination probes. Postings are truncated the way
    real search indexes paginate them — full df count, bounded posting list.

    Scale shape: the df count is a hash aggregation with map-side partial
    combine. The postings head is a rank-filter (``row_number() <= cap``)
    that Spark rewrites to WindowGroupLimit — each map task keeps at most
    ``cap`` rows per token BEFORE the shuffle, so a stopword appearing in
    every document of a 100 TB corpus still ships only cap×partitions rows
    to its reducer instead of billions. No reducer ever materializes an
    unbounded postings array.
    """
    from pyspark.sql import Window

    from .dedup import tokens_col

    tok = spread_partitions(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(text_col)).alias("token"),
    )
    df_t = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("token").orderBy("doc_id")
    heads = (
        tok.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= postings_cap)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return df_t.join(heads, "token")


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (context-window packing precursor).

    Splits each document into ``chunk_size``-token windows every ``stride``
    tokens (overlap = chunk_size - stride), the standard shape for
    pretraining-corpus chunking and RAG indexing. Pure JVM higher-order
    functions: split once, generate the start offsets with ``sequence``,
    explode, ``slice`` each window — no Python, no shuffle at all (narrow
    per-row fan-out), so it scans at full parquet speed at any corpus size.
    """
    toks = all_tokens_col(text_col)
    staged = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks")).select(
        "doc_id",
        "__toks",
        F.sequence(
            F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0)), F.lit(stride)
        ).alias("__starts"),
    )
    exploded = staged.select(
        "doc_id", "__toks", F.explode("__starts").alias("start")
    )
    chunk = F.slice(F.col("__toks"), F.col("start") + 1, F.lit(chunk_size))
    return exploded.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# PII scan / redaction (round-7): the compliance pass every LLM training
# pipeline runs before a corpus ships. Pure JVM regexp expressions — the
# patterns are deliberately engine-portable (work identically under Java
# regex and RE2, no lookarounds/backrefs) so a SQL oracle can re-run them.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

# Redaction order is part of the contract (email first: an email can embed
# digit runs the narrower patterns would otherwise nibble at).
PII_REDACTION_ORDER = ("email", "phone", "ipv4")


def scan_pii(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document PII scan: match counts per pattern family plus the
    redacted text length. One projection — every pattern evaluates in the
    same codegen stage over the same row; NULL text yields NULL counts
    (missing ≠ clean). Linearly partition-parallel, no shuffle, no Python.
    ``keep_cols`` pass through untouched (e.g. the grouping key of a
    downstream compliance rollup)."""
    counts = [
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    redacted = F.col(text_col)
    for name in PII_REDACTION_ORDER:
        redacted = F.regexp_replace(
            redacted, PII_PATTERNS[name], f"[{name.upper()}]"
        )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *counts,
        F.length(redacted).alias("redacted_len"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    threshold_ppm: int = 600_000,
    max_df: int = 256,
) -> DataFrame:
    """Directional near-containment pairs (doc A mostly inside doc B) via
    the winnowing fingerprint index — the superset/subset dedup pass
    (boilerplate wrappers, quote-and-extend posts) that symmetric Jaccard
    misses: a short doc fully quoted inside a long one has low Jaccard but
    containment ≈ 1.

    containment(A→B) = |fp(A) ∩ fp(B)| / |fp(A)| over the winnow-selected
    fingerprints, emitted as exact integer ppm (shared * 1e6 div |fp(A)| —
    the catalog's engine-exactness idiom).

    Scale shape (100 TB): the fingerprint table IS the inverted index —
    the self-join is an equi-shuffle on a bigint fingerprint, never an
    all-pairs product; stop-fingerprints (df > ``max_df``) are dropped
    BEFORE the join (a fingerprint shared by m docs fans out m² pair rows
    and carries no containment signal — the same reasoning as the LSH
    bucket cap and the inverted index's df cap), and containment is
    measured over the PRUNED sets on both sides of the ratio, so the cap
    never biases the ratio, only recall on boilerplate. The shared-count
    aggregate map-side combines on (id_a, id_b).
    """
    fps = winnow_fingerprints(df, id_col=id_col, text_col=text_col, k=k, w=w)
    df_counts = fps.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("fp_df"))
    pruned = fps.join(
        df_counts.filter(F.col("fp_df") <= max_df).select("fingerprint"),
        "fingerprint",
    )
    sizes = pruned.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    a = pruned.select("fingerprint", F.col(id_col).alias("id_a"))
    b = pruned.select("fingerprint", F.col(id_col).alias("id_b"))
    shared = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    return (
        shared.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_fp")), "id_a"
        )
        .withColumn(
            "containment_ppm",
            F.expr("shared_fp * 1000000 div n_fp").cast("long"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
        .select("id_a", "id_b", "shared_fp", "n_fp", "containment_ppm")
    )
