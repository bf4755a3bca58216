"""Large-scale deduplication operators (LLM-data-pipeline extensions).

Beyond-parity operators for training-data pipelines (BASELINE.json north
star): exact dedup, token-fingerprint dedup, n-gram Jaccard near-dup,
MinHash+LSH near-dup, and SimHash near-dup — all expressed as JVM-side
DataFrame transformations (higher-order functions, no Python UDFs), so they
whole-stage-codegen and scale linearly with partitions.

Scale design notes (100 TB):
- Exact / fingerprint dedup: one hash-shuffle on the group key. The group key
  is a fixed-width digest (md5), so shuffle rows are small regardless of
  document size. EXCEPTION: ``jaccard_prefix_join`` groups/joins on the
  sorted int64 element-hash ARRAY itself (exact set equality, no digest
  collision caveat) — its group/expansion-join keys are O(set size) per
  row, 8 bytes per distinct element. That is the deliberate trade: exact
  semantics and one less per-doc digest pass, at wider shuffle rows for
  very large documents; a corpus of mega-documents should re-introduce a
  fixed-width key (md5 of the sorted hash array) for the expansion joins.
- MinHash LSH: cost is O(docs × shingles × hashes) map-side plus a shuffle
  keyed on (band_id, band_hash) — candidate pairs only materialize within a
  bucket, never the O(n²) cross join.
- SimHash: 60-bit fingerprint map-side, then a 4×15-bit banded self-join
  (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands identical).
- The LSH hash family is md5 (the minhash signature, the simhash token
  hashes): DuckDB replays md5, so the whole near-dup output is
  value-checked against a SQL oracle.
- Brute-force Jaccard is provided as the small-scale oracle-checkable
  baseline; the banded variants are the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import md5_int60
from ..sources.loader import spread_partitions

# Vocabulary cap for the dictionary-bitmap verify representation in
# minhash_lsh_pairs: ≤ 256 distinct tokens → sets pack into ≤ 4 longs.
_BITMAP_MAX_VOCAB = 256


def tokens_col(text_col: str = "text"):
    """Distinct lowercase whitespace tokens (the unit for set-similarity)."""
    return F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))


def fingerprint_col(text_col: str = "text"):
    """Order-insensitive document fingerprint: md5 of sorted distinct tokens.

    The OpenRefine-style "fingerprint" key: near-dups that permute/repeat
    words collapse to one key. A 32-hex digest keeps the dedup shuffle narrow.
    """
    return F.md5(F.array_join(F.array_sort(tokens_col(text_col)), " "))


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact duplicate groups: one hash-shuffle, keep min id per group."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def fingerprint_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token-fingerprint dedup groups over a corpus."""
    return (
        df.select(F.col(id_col), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingles(tokens, n: int):
    """Word n-gram shingles from a token array (JVM higher-order fns)."""
    return F.when(F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(tokens, i, n), " "),
        )
    ).otherwise(F.array(F.array_join(tokens, " ")))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
) -> DataFrame:
    """Brute-force exact Jaccard near-dup pairs (O(n²) — baseline/oracle path).

    Token-set (ngram=1) or shingle-set (ngram>1) Jaccard. Use only on bounded
    inputs; the scale path is :func:`minhash_lsh_pairs`.
    """
    toks = tokens_col(text_col)
    sets = toks if ngram == 1 else F.array_distinct(_shingles(toks, ngram))
    # spread: the bounded input arrives as one scan partition and the
    # O(n²) pair stream (array_intersect per pair) would run on one task —
    # round-10 in-session A/B: 1.3-1.5 s -> 0.3-0.5 s at the catalog's
    # 300-doc slice. Pair results are per-row independent; order-free.
    t = spread_partitions(df).select(F.col(id_col).alias("id"), sets.alias("s"))
    a = t.alias("a")
    b = t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s")))
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_ppm: int = 800000,
    ngram: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard similarity self-join via PREFIX FILTERING
    (the SSJoin/AllPairs/PPJoin family: Chaudhuri, Ganti & Kaushik, ICDE
    2006; Bayardo, Ma & Srikant, WWW 2007; Xiao et al., WWW 2008) — the
    deterministic complement to :func:`minhash_lsh_pairs`: the LSH path
    trades recall for speed, the brute-force :func:`jaccard_pairs` only
    runs on bounded inputs; this one returns EXACTLY the ≥-threshold
    pairs (provably no misses) while never materializing the O(n²)
    cross join.

    The prefix-filter lemma: order every document's tokens by one GLOBAL
    total order (here: document-frequency ascending, then token — so the
    rarest tokens come first) and keep each document's first
    ``p = |d| − ⌈t·|d|⌉ + 1`` tokens. Jaccard(a,b) ≥ t implies
    ``|a∩b| ≥ ⌈t·max(|a|,|b|)⌉``, and two sets overlapping that much
    MUST share a token within these prefixes — so the equi-join of
    prefixes on token is a complete candidate generator. Rare-first
    ordering makes it sharp: hot tokens (huge join fan-out) are exactly
    the ones excluded from prefixes.

    Plan — EXACT-DUP COLLAPSE first, prefix filter second (the
    production layering): Jaccard depends only on the token SET, so
    documents with identical sets are grouped by the sorted element-hash
    array itself (exact set equality — no digest, no collision caveat)
    and the whole similarity join runs on ONE representative per
    distinct set. Without this, a cluster of c byte-identical
    documents (the normal shape of a crawled corpus) generates
    p·c²/2 candidate rows through every prefix token; with it, the
    cluster costs ONE set and the c²/2 true pairs are re-expanded at
    output time (within-group pairs are jaccard=1 by construction;
    cross-group pairs inherit their set-pair's values). Then on distinct
    sets: tokens explode → set-frequency aggregate (map-side combined,
    Heaps-law bounded) → per-SET window ranks tokens rare-first
    (partitioned by set — never a global sort) → prefix rows equi-join
    on token with the size filter ``min·1e6 ≥ t_ppm·max`` (implied by
    the threshold; prunes only) → distinct candidate pairs → verify via
    ``array_intersect`` in integer ppm. The DuckDB oracle runs the NAIVE
    all-pairs form, pinning that neither the collapse nor the prefix
    filter loses or fabricates a pair.

    Scale (100 TB): every join/aggregate is keyed (fingerprint, token,
    or set id); candidate count is Σ_tok df_prefix(tok)² over DISTINCT
    sets, driven by RARE tokens only (hot tokens are exactly the ones
    prefixes exclude); the expansion joins are output-sized. NULL/absent
    text yields no token rows, so such docs never pair (the oracle's
    NULL list ops agree).

    ``ngram`` picks the set element: 1 = distinct unigram tokens (the
    `tokens_col` convention), n > 1 = distinct word n-gram SHINGLES of
    the raw (non-deduplicated, order-preserving) token sequence, with
    the `_shingles` whole-doc fallback for docs shorter than n. On a
    small-vocabulary corpus unigram prefix filtering degenerates (every
    "rare" token is still shared by thousands of docs — measured 3.8 M
    candidate set-pairs on 3 935 distinct sets at sf0.1); shingling
    restores the Zipf tail the lemma needs (24 151 distinct 3-shingles,
    9 122 candidates on the same corpus — 420× fewer) and is what
    production near-dup dedup actually hashes. Shingles are built from
    the RAW sequence, not the distinct token array, because DuckDB's
    ``list_distinct`` does not promise first-occurrence order — set
    semantics are applied AFTER shingling, where order no longer
    matters, keeping the oracle replay engine-exact.

    Returns (id_a, id_b, size_a, size_b, n_common, jaccard_ppm), pairs
    with ``jaccard_ppm ≥ threshold_ppm`` and ``id_a < id_b``; sizes and
    overlap count SET ELEMENTS (tokens or shingles per ``ngram``).
    """
    if not 1 <= threshold_ppm <= 1_000_000:
        raise ValueError(
            f"threshold_ppm must be in [1, 1000000], got {threshold_ppm}"
        )
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    from pyspark.sql import Window

    if ngram == 1:
        elems = tokens_col(text_col)
    else:
        raw = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        elems = F.array_distinct(_shingles(raw, ngram))
    # int64-hash the distinct elements immediately (the
    # substring_dedup_hashed discipline): every downstream sort /
    # explode / shuffle / array_intersect then moves 8-byte longs
    # instead of ~30-byte shingle strings. Set sizes and intersections
    # are preserved up to xxhash64 collisions (~|vocab|²/2⁶⁵ — the same
    # negligible-collision assumption the hashed substring twin
    # documents), so the string-replaying oracle still value-matches.
    sets = F.transform(elems, lambda x: F.xxhash64(x))
    # NULL text is excluded BEFORE shingling: the _shingles short-doc
    # fallback would otherwise wrap a NULL join into a [NULL] one-element
    # set and spuriously pair all NULL-text docs with each other
    # No defensive filter on the DERIVED set column: ``s`` is provably
    # non-NULL once text is (split/transform/CASE of a non-null input
    # never yield NULL), and a filter on a derived expression gets pushed
    # below the spread exchange where it RE-EVALUATES the whole
    # shingle+hash tree on the scan's (single) input partition — measured
    # ~4-5 s of duplicated single-threaded work per run at sf0.1 (the
    # optimization guide's §4.4 duplicated-evaluation trap, HOF edition).
    docs = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), sets.alias("s")
    )
    # exact-dup collapse: one representative per distinct element SET.
    # The group/join key is the SORTED int64 element array ITSELF (round-10:
    # the previous md5-of-stringified-array fingerprint paid a per-doc
    # string materialization + digest AND carried a 128-bit collision
    # caveat; grouping by the array value is exact set equality — zero
    # collision risk above the per-element hash — and Spark groups/joins
    # array<bigint> natively). The sorted array doubles as the
    # representative set downstream (sorting changes no set operation).
    # ONE checkpoint of the (id, key) projection: the tokenize/shingle
    # expression tree is the expensive per-row work, so members and the
    # group table both derive from the materialized blocks instead of
    # each re-running it.
    fp = docs.select("id", F.array_sort("s").alias("fp")).localCheckpoint()
    members = fp.select("id", "fp")
    base = (
        fp.groupBy("fp")
        .agg(
            F.min("id").alias("gid"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .localCheckpoint()
    )
    t = base.select("gid", F.explode("fp").alias("tok"))
    sizes = base.select("gid", F.size("fp").cast("long").alias("sz"))
    vocab = t.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    # per-set rare-first rank; the window partitions by set id — small
    # per-set sorts, no global ordering anywhere
    w = Window.partitionBy("gid").orderBy(F.asc("df_t"), F.asc("tok"))
    ranked = (
        t.join(vocab, "tok")
        .join(sizes, "gid")
        .withColumn("rn", F.row_number().over(w))
    )
    # p = sz - ceil(t*sz) + 1, all-integer: ceil(a/b) = (a + b - 1) div b
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("sz")
        - F.expr(f"({threshold_ppm}L * sz + 999999) div 1000000")
        + F.lit(1)
    ).select("gid", "tok", "sz")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.gid") < F.col("b.gid"))
            # size filter (implied by jac >= t: t <= min/max): prune only
            & (
                F.least(F.col("a.sz"), F.col("b.sz")) * F.lit(1_000_000)
                >= F.lit(threshold_ppm) * F.greatest(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .select(F.col("a.gid").alias("gid_a"), F.col("b.gid").alias("gid_b"))
        .distinct()
    )
    arrs = base.select(
        F.col("gid"), F.col("fp"), F.size("fp").cast("long").alias("sz")
    )
    set_pairs = (
        cand.join(
            arrs.select(
                F.col("gid").alias("gid_a"),
                F.col("fp").alias("fp_a"),
                F.col("sz").alias("size_a"),
            ),
            "gid_a",
        )
        .join(
            arrs.select(
                F.col("gid").alias("gid_b"),
                F.col("fp").alias("fp_b"),
                F.col("sz").alias("size_b"),
            ),
            "gid_b",
        )
        .withColumn(
            "n_common",
            F.size(F.array_intersect(F.col("fp_a"), F.col("fp_b"))).cast("long"),
        )
        .withColumn(
            "jaccard_ppm",
            F.expr("(n_common * 1000000L) div (size_a + size_b - n_common)"),
        )
        .filter(F.col("jaccard_ppm") >= threshold_ppm)
        .select("fp_a", "fp_b", "size_a", "size_b", "n_common", "jaccard_ppm")
    )
    # expansion 1: cross-group — every member of A × every member of B,
    # reoriented so id_a < id_b (jaccard is symmetric; sizes travel WITH
    # their doc when the orientation flips)
    ma = members.select(F.col("fp").alias("fp_a"), F.col("id").alias("ida"))
    mb = members.select(F.col("fp").alias("fp_b"), F.col("id").alias("idb"))
    flip = F.col("ida") > F.col("idb")
    cross = (
        set_pairs.join(ma, "fp_a")
        .join(mb, "fp_b")
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            F.when(flip, F.col("size_b")).otherwise(F.col("size_a")).alias(
                "sza"
            ),
            F.when(flip, F.col("size_a")).otherwise(F.col("size_b")).alias(
                "szb"
            ),
            "n_common",
            "jaccard_ppm",
        )
        .withColumnsRenamed({"sza": "size_a", "szb": "size_b"})
        .select(
            "id_a", "id_b", "size_a", "size_b", "n_common", "jaccard_ppm"
        )
    )
    # expansion 2: within-group — identical sets are jaccard = 1e6 ppm,
    # which passes every valid threshold; all (a < b) pairs inside each
    # multi-member group
    wa = members.alias("wa")
    wb = members.alias("wb")
    within = (
        wa.join(
            wb,
            (F.col("wa.fp") == F.col("wb.fp"))
            & (F.col("wa.id") < F.col("wb.id")),
        )
        .join(
            base.select(
                F.col("fp").alias("__gfp"),
                F.size("fp").cast("long").alias("sz"),
            ),
            F.col("wa.fp") == F.col("__gfp"),
        )
        .select(
            F.col("wa.id").alias("id_a"),
            F.col("wb.id").alias("id_b"),
            F.col("sz").alias("size_a"),
            F.col("sz").alias("size_b"),
            F.col("sz").alias("n_common"),
            F.lit(1_000_000).cast("long").alias("jaccard_ppm"),
        )
    )
    return cross.unionByName(within)


def minhash_signature(shingles, num_hashes: int = 64):
    """MinHash signature array over a shingle-array column/expression.

    ``sig[h] = min over shingles of md5(h || ':' || shingle)`` as *hex
    strings* (the lexicographic min of a uniform hash is a valid min-hash
    family) — one pass, pure codegen (transform + array_min), no UDF.
    md5 is byte-identical in DuckDB, so the whole LSH output is
    value-verifiable against a SQL oracle that replays the signature.
    Pass a *column reference* to an already-projected shingle array (not
    the raw shingle expression): the lambda evaluates its input once per
    hash seed, and CollapseProject keeps a separate projection for the
    non-cheap shingle construction, so shingling runs once per document
    instead of ``num_hashes`` times.
    """
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda s: F.array_min(
            F.transform(
                shingles, lambda x: F.md5(F.concat_ws(":", s.cast("string"), x))
            )
        ),
    )


def banded_bucket_pairs(buckets: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Stream each LSH bucket's member pairs, giant buckets capped.

    Input: one row per (band_id, band_hash) with ``ms`` = the SORTED array
    of member structs. Output: (band_id, a, b) with a before b in array
    order — each unordered pair exactly once per bucket.

    Giant-bucket cap (shared by the MinHash token path and the SRP
    embedding path): a band hash owned by m members costs O(m²) streamed
    pair evaluations, and without a cap they all stream inside ONE task —
    a boilerplate-heavy crawl (or an embedding mega-cluster) makes m huge.
    Triangle-block decomposition fixes the distribution without changing
    the output: slice the sorted array into ⌈m/cap⌉ chunks and emit each
    chunk-pair (ci ≤ cj) as its own work unit — diagonal blocks generate
    their i<j triangle, off-diagonal blocks the full cross product. Every
    unordered pair appears in exactly one block (the chunks partition the
    sorted array), so the exactly-once first-matching-band rule downstream
    is untouched. Buckets at or under the cap keep the original
    single-explode path — the common case pays only a size filter.
    """
    if bucket_cap is not None and bucket_cap < 2:
        # a non-positive cap would silently emit ZERO pairs (every bucket
        # fails size<=cap and ceil(size/0) yields NULL chunk counts); cap 1
        # technically works (cross blocks only) but is never what a caller
        # means — hard-floor at 2 like sessionize_split's split_micros guard
        raise ValueError(f"bucket_cap must be >= 2 or None, got {bucket_cap}")
    small = buckets if bucket_cap is None else buckets.filter(
        F.size("ms") <= bucket_cap
    )
    e1 = small.select("band_id", "ms", F.posexplode("ms").alias("i", "a"))
    e2 = e1.select(
        "band_id",
        "a",
        F.explode(F.slice("ms", F.col("i") + 2, F.size("ms"))).alias("b"),
    )
    if bucket_cap is None:
        return e2
    cap = int(bucket_cap)
    big = buckets.filter(F.size("ms") > cap)
    nch = F.ceil(F.size("ms") / F.lit(cap)).cast("int")
    chunked = big.select(
        "band_id",
        "band_hash",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nch - 1),
                lambda i: F.slice("ms", i * cap + 1, cap),
            )
        ).alias("ci", "chunk"),
    )
    cx = chunked.select(
        "band_id",
        "band_hash",
        F.col("ci").alias("cxi"),
        F.col("chunk").alias("mx"),
    )
    cy = chunked.select(
        "band_id",
        "band_hash",
        F.col("ci").alias("cyi"),
        F.col("chunk").alias("my"),
    )
    blocks = cx.join(cy, ["band_id", "band_hash"]).filter(
        F.col("cxi") <= F.col("cyi")
    )
    diag = (
        blocks.filter(F.col("cxi") == F.col("cyi"))
        .select("band_id", "mx", F.posexplode("mx").alias("i", "a"))
        .select(
            "band_id",
            "a",
            F.explode(F.slice("mx", F.col("i") + 2, F.size("mx"))).alias("b"),
        )
    )
    off = (
        blocks.filter(F.col("cxi") < F.col("cyi"))
        .select("band_id", "my", F.explode("mx").alias("a"))
        .select("band_id", "a", F.explode("my").alias("b"))
    )
    return e2.unionByName(diag).unionByName(off)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 60,
    bands: int = 10,
    ngram: int = 1,
    bucket_cap: int | None = 8192,
) -> DataFrame:
    """MinHash + LSH near-dup pairs with exact-Jaccard verification.

    shingle → minhash → band → bucket → verify (SURVEY build plan §7.1
    step 7), staged the way web-scale dedup pipelines stage it:

    1. **Exact-dedup first.** Documents are collapsed by content digest
       (md5 of the sorted similarity set) into groups; all downstream LSH
       work runs on one *representative per distinct set*. Members of a
       group pair with each other at Jaccard exactly 1.0 — those pairs are
       emitted directly from the group row (map-side explode, no join), and
       a representative-level near-dup pair expands to the full member
       cross product with the same Jaccard (set similarity only depends on
       the sets). On real corpora exact duplicates are the dominant cluster
       type, so this shrinks every later stage. Recall for exact dups
       becomes exactly 1 (identical sets ⇒ identical signatures ⇒ the old
       banding always paired them anyway — output is provably identical).
    2. **Exactly-once candidate emission — no candidate-dedup shuffle.**
       Representatives shuffle once as ``(rid, h0..h{bands-1})`` rows keyed
       by (band, band_hash); each bucket collects its members and emits a
       pair only in the *first* band where the two signatures collide
       (``a.h_k == b.h_k`` for some k < band_id ⇒ skip — a short-circuit
       comparison chain that whole-stage-codegens, evaluated as the pair
       explode streams). The former plan emitted every colliding pair once
       per matching band (measured 3× blow-up: 19M mentions → 6.4M pairs at
       sf0.1) and paid a full ``dropDuplicates`` shuffle to collapse them —
       that shuffle was >50% of end-to-end runtime and is now simply gone.
    3. **Adaptive screen-then-verify in one join pass.** Candidates join
       the compact per-representative payload (signature + xxhash64 token
       hashes + set size) once per side. When the screen is on, the
       signature-estimated Jaccard (matching positions / num_hashes,
       est ≥ threshold − 3σ of the Binomial(num_hashes, j) estimator)
       gates the exact intersect at the cost of screening out <0.1% of
       true pairs. The estimate is an interpreted ``num_hashes``-element
       fold per pair, so it only pays when token sets are much wider than
       the signature; the data decides (one cheap aggregate over the cached
       per-representative payload: screen iff mean set size > 2×num_hashes
       — for short-doc corpora the exact intersect is cheaper than its own
       estimate AND loses zero pairs).
       The exact union size is derived as ``|A| + |B| − |A∩B|``
       (one array_intersect per pair).
       The intersect runs over xxhash64 *token hashes* (fixed-width
       bigints), not token strings: set Jaccard is invariant under an
       injective map, a 64-bit in-document collision is ~|tokens|²/2⁶⁵,
       and the property test against the string-set :func:`jaccard_pairs`
       cross-checks exact equality.

    Banding is tuned to the threshold: with ``r`` rows per band and ``b``
    bands the candidate S-curve midpoint sits at ``(1/b)^(1/r)`` — the
    default 10×6 puts it at 0.68 for ``threshold=0.8`` (a 16×4 layout would
    put it at 0.50 and admit ~4× more mid-similarity false candidates).
    Per-pair collision probability at j=0.8 is 1−(1−0.8⁶)¹⁰ ≈ 95%.

    Scale notes (100 TB): every shuffle in the plan is narrow — content
    digests + ids for the group-by (with map-side partial aggregation
    deduplicating token arrays before they move), fixed-width band-hash
    rows for the bucket shuffle, and (id, id) pairs afterwards. Token
    arrays travel only attached to one representative per distinct set.
    Giant buckets (a band hash shared by m reps) cost O(m²) *streamed,
    codegen'd* pair evaluations but never a shuffled m² materialization —
    and with ``bucket_cap`` set (default 8192) that quadratic stream is
    *distributed*: buckets over the cap split into ⌈m/cap⌉ sorted chunks
    and the pair generation runs as ⌈m/cap⌉² independent triangle/cross
    blocks across the cluster instead of one task (output provably
    identical — the blocks partition the pair set; see the inline comment).
    ``bucket_cap=None`` disables the cap (the pre-round-6 behavior).
    The group table and the per-rep payload, which several plan branches
    re-read, are persisted.
    """
    rows = num_hashes // bands
    margin = 3.0 * (threshold * (1.0 - threshold) / num_hashes) ** 0.5
    df = spread_partitions(df)
    base = df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("s"))
    if ngram == 1:
        keyed = base.select(
            "id", "s", F.md5(F.concat_ws("\x01", F.array_sort("s"))).alias("gk")
        )
        agg_extra = []
    else:
        sh = F.array_distinct(_shingles(F.col("s"), ngram))
        keyed = base.select(
            "id",
            "s",
            sh.alias("sh"),
            F.md5(F.concat_ws("\x01", F.array_sort("sh"), F.array_sort("s"))).alias(
                "gk"
            ),
        )
        agg_extra = [F.first("sh").alias("sh")]
    groups = keyed.groupBy("gk").agg(
        F.min("id").alias("rid"),
        F.sort_array(F.collect_list("id")).alias("members"),
        F.count(F.lit(1)).alias("m"),
        F.first("s").alias("s"),
        *agg_extra,
    )
    groups = groups.persist()
    # The similarity set: tokens for ngram=1, shingles otherwise (banding AND
    # verification must measure the same sets — matching jaccard_pairs).
    set_col = "s" if ngram == 1 else "sh"
    # Adaptive set representation for the verify intersect. When the corpus
    # vocabulary is dictionary-encodable (≤ _BITMAP_MAX_VOCAB distinct
    # tokens — one cheap distinct probe over the cached groups), each set
    # packs into (vocab+63)/64 bitmap words: the per-pair intersect becomes
    # zip_with AND + bit_count (a handful of integer ops) instead of an
    # array_intersect hash probe over every element, and the verify-join
    # payload narrows from |set| hashes to a few longs per side. Real corpora
    # blow past the cap and keep the xxhash64-array path — this is the same
    # trade Parquet makes with dictionary-encoded columns.
    vocab: list | None = None
    # Fills the groups cache and prices the rep table for the verify-join
    # build-side decision below. Catalyst misprices the candidate stream
    # here: its size estimate derives from the tiny cached rep relation,
    # so without a hint it can pick the *pair explosion* as the broadcast
    # build side (measured: a 3M-row broadcast at sf0.1).
    small_reps = groups.count() <= 100_000
    if ngram == 1:
        probe = (
            groups.select(F.explode(set_col).alias("t"))
            .distinct()
            .limit(_BITMAP_MAX_VOCAB + 1)
            .collect()
        )
        if len(probe) <= _BITMAP_MAX_VOCAB:
            vocab = sorted(r.t for r in probe)
    # `if vocab:` not `is not None`: an EMPTY vocab (zero docs, or all-empty
    # token sets) would build the untyped `map()` literal, which fails
    # analysis with DATATYPE_MISMATCH — the xxhash64 path below handles the
    # degenerate corpus fine
    if vocab:
        n_words = (len(vocab) + 63) // 64
        tid = F.create_map(
            *[F.lit(x) for i, t in enumerate(vocab) for x in (t, i)]
        )
        words = [
            F.expr(
                f"aggregate(filter(_ids, i -> i div 64 = {w}), 0L,"
                " (acc, i) -> acc | shiftleft(1L, int(i % 64)))"
            ).alias(f"w{w}")
            for w in range(n_words)
        ]
        prepared = (
            groups.select(
                "rid",
                F.transform(set_col, lambda x: tid[x]).alias("_ids"),
                F.size(set_col).alias("n"),
                minhash_signature(F.col(set_col), num_hashes).alias("sig"),
            )
            .select("rid", F.array(*words).alias("hs"), "n", "sig")
        )
    else:
        prepared = groups.select(
            "rid",
            F.transform(set_col, lambda x: F.xxhash64(x)).alias("hs"),
            F.size(set_col).alias("n"),
            minhash_signature(F.col(set_col), num_hashes).alias("sig"),
        )
    prepared = prepared.persist()
    band_hashes = [
        F.hash(F.array_join(F.slice("sig", k * rows + 1, rows), ",")).alias(f"h{k}")
        for k in range(bands)
    ]
    bh = prepared.select("rid", *band_hashes)
    member = F.struct(F.col("rid"), *[F.col(f"h{k}") for k in range(bands)])
    banded = bh.select(
        member.alias("mb"),
        F.posexplode(F.array(*[F.col(f"h{k}") for k in range(bands)])).alias(
            "band_id", "band_hash"
        ),
    )
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("mb")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    # AQE coalesces the bucket shuffle to a couple of partitions (the bucket
    # rows are few bytes) but everything downstream of the explode — O(Σm²)
    # pair generation, the first-collision chain, the verify join — fans out
    # to millions of rows inside that same stage. Re-spread the buckets so
    # the heavy exploded stage uses every core (cheap: only bucket rows move).
    buckets = buckets.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    e2 = banded_bucket_pairs(buckets, bucket_cap)
    matched_earlier = F.lit(False)
    for k in range(bands - 1):
        matched_earlier = matched_earlier | (
            (F.lit(k) < F.col("band_id")) & (F.col(f"a.h{k}") == F.col(f"b.h{k}"))
        )
    cand = e2.filter(~matched_earlier).select(
        F.col("a.rid").alias("id_a"), F.col("b.rid").alias("id_b")
    )
    info_a = prepared.select(
        F.col("rid").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("hs").alias("s_a"),
        F.col("n").alias("n_a"),
    )
    info_b = prepared.select(
        F.col("rid").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("hs").alias("s_b"),
        F.col("n").alias("n_b"),
    )
    if vocab is not None:
        # Bitmap intersect is a few integer ops — always cheaper than the
        # signature estimate, so the screen never pays.
        screen = False
    else:
        # Decide from the data (the aggregate forces the cached plan once;
        # everything downstream reuses it).
        mean_n = prepared.agg(F.avg("n")).first()[0] or 0.0
        screen = mean_n > 2.0 * num_hashes
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(float(num_hashes))
    if vocab is not None:
        inter = F.expr(
            "aggregate(zip_with(s_a, s_b, (x, y) -> bit_count(x & y)), 0,"
            " (acc, v) -> acc + v)"
        )
    else:
        inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    if small_reps:
        # Rep payload is the provably-small side — pin it as the broadcast
        # build so the candidate stream is never collected. At scale (reps
        # beyond the threshold) fall through to Catalyst's shuffled join.
        info_a, info_b = F.broadcast(info_a), F.broadcast(info_b)
    rep_pairs = cand.join(info_a, "id_a").join(info_b, "id_b")
    if screen:
        rep_pairs = rep_pairs.filter(est >= threshold - margin)
    rep_pairs = rep_pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    mem_a = groups.select(F.col("rid").alias("id_a"), F.col("members").alias("mem_a"))
    mem_b = groups.select(F.col("rid").alias("id_b"), F.col("members").alias("mem_b"))
    if small_reps:
        mem_a, mem_b = F.broadcast(mem_a), F.broadcast(mem_b)
    expanded = (
        rep_pairs.join(mem_a, "id_a")
        .join(mem_b, "id_b")
        .select(F.explode("mem_a").alias("ea"), "mem_b", "jaccard")
        .select("ea", F.explode("mem_b").alias("eb"), "jaccard")
        .select(
            F.least("ea", "eb").alias("id_a"),
            F.greatest("ea", "eb").alias("id_b"),
            "jaccard",
        )
    )
    identical = (
        groups.filter(F.col("m") > 1)
        .select("members", F.posexplode("members").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.slice("members", F.col("i") + 2, F.size("members"))).alias(
                "id_b"
            ),
        )
        .select("id_a", "id_b", F.round(F.lit(1.0), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return identical.unionByName(expanded)


# SimHash fingerprint width: the 60 bits of md5_int60, banded 4×15.
SIMHASH_BITS = 60


def token_hashes(tokens_field: str):
    """One :func:`md5_int60` hash per token → array<bigint> (project this
    BEFORE simhash).

    Materializing the hash array in its own projection means the 60 bit-sum
    passes of :func:`simhash_expr` read a cheap attribute instead of
    re-hashing every token per bit position. md5 keeps the fingerprints
    (and therefore the whole near-dup output) replayable in DuckDB.
    """
    return F.transform(F.col(tokens_field), md5_int60)


def simhash_expr(hashes_field: str):
    """60-bit SimHash fingerprint as BIGINT over a pre-hashed array<bigint>
    column of :func:`token_hashes`.

    Per bit position k: sum of ±1 over token hashes (+1 if bit k set);
    sign of the sum → bit k of the fingerprint. Written as a SQL
    higher-order-function expression because SQL ``shiftleft``/``shiftright``
    accept column shift amounts (the Python wrappers only take ints).

    Structure matters because higher-order functions are interpreted (no
    codegen): the hash array appears exactly once, as the *input* of the
    outer aggregate, so even after CollapseProject inlines the
    :func:`token_hashes` projection each token is hashed exactly once. (A
    k-outer formulation — 60 passes, each referencing the hash array inside
    the bit lambda — gets the hash transform inlined into every pass and
    re-hashes each token 60×, ~3× slower end-to-end.)
    """
    bits = SIMHASH_BITS
    n = bits - 1
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate({hashes_field}, array_repeat(0, {bits}),
              (acc, h) -> zip_with(acc,
                sequence(0, {n}),
                (p, k) -> p + IF((shiftright(h, k) & 1) = 1, 1, -1))),
            sequence(0, {n}),
            (s, k) -> IF(s > 0, shiftleft(CAST(1 AS BIGINT), k), CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (a, b) -> a + b)
        """
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs via 4-band banded self-join + bit_count verify.

    Pigeonhole: hamming(fp_a, fp_b) ≤ 3 ⇒ at least one of the 4 bands is
    identical, so banding loses no true pairs while keeping the join an
    equi-shuffle. At larger ``max_hamming`` the banded join is the standard
    recall/cost trade: only pairs sharing one exact band are candidates.
    Fingerprints are 60 bits of md5-derived token hashes (4×15-bit bands),
    which a SQL oracle reproduces exactly.
    """
    band_w = SIMHASH_BITS // 4
    mask = (1 << band_w) - 1
    base = (
        spread_partitions(df)
        .select(F.col(id_col).alias("id"), tokens_col(text_col).alias("__toks"))
        .select("id", token_hashes("__toks").alias("__hs"))
        .select("id", simhash_expr("__hs").alias("fp"))
    )
    banded = base.select(
        "id",
        "fp",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, 3), j -> shiftright(fp, j * {band_w}) & {mask})"
            )
        ).alias("band_id", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 2,
) -> DataFrame:
    """Aligned-segment exact dedup with document rewrite.

    The corpus-dedup step between document-level exact dedup and
    suffix-array substring dedup: each document is split into consecutive
    ``seg_len``-token segments; a segment that occurs in more than one
    (document, position) slot corpus-wide is kept ONLY at its canonical
    occurrence (lowest doc id, then lowest position) and dropped everywhere
    else; each document is rewritten from its surviving segments in order.
    Aligned fixed-width segments trade the suffix array's unaligned-overlap
    recall for a fully shuffle-parallel plan.

    Plan shape (scale notes): tokenize + segment generation are zero-shuffle
    (higher-order functions over the text column); the canonical choice is
    ONE hash shuffle on the segment value (row_number over a per-segment
    window — at 100 TB the per-segment group is tiny, so no skew beyond
    stop-phrase segments, which banding by ``seg_len`` keeps bounded); the
    rewrite re-aggregates by doc id — a second shuffle, same key layout as
    the input. No driver-side state, no Python row path.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    nseg = F.ceil(F.size(toks) / F.lit(seg_len)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * seg_len + 1, seg_len), " "
        ),
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(segs).alias("seg_idx", "seg")
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = exploded.withColumn("kept", F.row_number().over(w) == 1)
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("seg_idx", "seg"))
                    )
                ),
                lambda x: x.seg,
            ),
            " ",
        ).alias("clean_text"),
    )
