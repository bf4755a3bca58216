"""Property tests: DDL-parser round-trip (hypothesis) and LSH banding claims
verified exhaustively against brute force on bounded samples."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.expectations import (
    DROP,
    FAIL,
    WARN,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.sqlmv import (
    parse_mv_ddl,
)

from conftest import SF_SMALL

_ident = st.from_regex(re.compile(r"[a-z][a-z0-9_]{0,15}"), fullmatch=True)
_action = st.sampled_from(
    [("", WARN), ("ON VIOLATION FAIL UPDATE", FAIL), ("ON VIOLATION DROP ROW", DROP)]
)
_constraint = st.tuples(_ident, _ident, _action)


@given(
    schema=_ident,
    table=_ident,
    constraints=st.lists(_constraint, max_size=4),
    cluster=st.lists(_ident, max_size=3, unique=True),
    comment=st.text(
        alphabet=st.characters(blacklist_characters="\"'\\", min_codepoint=32, max_codepoint=126),
        max_size=40,
    ),
    props=st.dictionaries(_ident, _ident, max_size=3),
)
@settings(max_examples=200, deadline=None)
def test_mv_ddl_parse_roundtrip(schema, table, constraints, cluster, comment, props):
    name = f"{schema}.{table}"
    parts = [f"CREATE OR REFRESH MATERIALIZED VIEW {name}"]
    if constraints:
        lines = ",\n".join(
            f"  CONSTRAINT {cname} EXPECT ({col} IS NOT NULL) {act_txt}"
            for cname, col, (act_txt, _) in constraints
        )
        parts.append(f"(\n{lines}\n)")
    if cluster:
        parts.append(f"CLUSTER BY ({', '.join(cluster)})")
    parts.append(f'COMMENT "{comment}"')
    if props:
        kv = ",\n".join(f"  '{k}' = '{v}'" for k, v in props.items())
        parts.append(f"TBLPROPERTIES (\n{kv}\n)")
    parts.append("AS\nSELECT 1 AS x")
    spec = parse_mv_ddl("\n".join(parts))

    assert spec.name == name
    assert spec.comment == comment
    assert spec.cluster_by == tuple(cluster)
    assert spec.table_properties == props
    assert spec.select_sql == "SELECT 1 AS x"
    assert [(e.name, e.action) for e in spec.expectations] == [
        (cname, act) for cname, _, (_, act) in constraints
    ]


def test_simhash_banding_finds_every_bounded_hamming_pair(spark):
    """Pigeonhole claim: banded join loses no pair with hamming ≤ 3 —
    verified against an exhaustive cross-join on a bounded sample."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        simhash_expr,
        simhash_pairs,
        token_hashes,
        tokens_col,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 200)
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }

    fp = (
        docs.select(F.col("doc_id").alias("id"), tokens_col("text").alias("__toks"))
        .select("id", token_hashes("__toks").alias("__hs"))
        .select("id", simhash_expr("__hs").alias("fp"))
    )
    a, b = fp.alias("a"), fp.alias("b")
    brute = {
        (r.id_a, r.id_b): r.hamming
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


@given(
    seed=st.integers(min_value=0, max_value=10**9),
    n_docs=st.integers(min_value=2, max_value=12),
    threshold_ppm=st.sampled_from([300000, 500000, 700000, 800000, 1000000]),
    ngram=st.sampled_from([1, 3]),
)
@settings(max_examples=10, deadline=None)
def test_jaccard_prefix_join_matches_brute_force_random(
    spark, seed, n_docs, threshold_ppm, ngram
):
    """On random small-vocabulary corpora across the threshold range and
    both set constructions (unigram tokens / 3-shingles with whole-doc
    fallback), the prefix-filter join equals a hand-rolled exact-Jaccard
    brute force — any prefix-length off-by-one, global-order
    inconsistency, size-filter overreach, dup-collapse/expansion bug, or
    ppm-truncation mismatch diverges somewhere here (including
    threshold_ppm=1000000: exact-duplicate mining, where the prefix is a
    single element)."""
    import random

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(10)]
    rows = []
    for i in range(n_docs):
        n = rng.randint(1, 8)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # force duplicate clusters so the collapse/expansion path is hit
    if n_docs >= 4:
        rows[1] = (1, rows[0][1])
        rows[3] = (3, rows[2][1])

    def elems(s):
        seq = s.lower().strip().split()
        if ngram == 1:
            return set(seq)
        if len(seq) >= ngram:
            return {
                " ".join(seq[i : i + ngram])
                for i in range(len(seq) - ngram + 1)
            }
        return {" ".join(seq)}

    expect = {}
    for i, ta in rows:
        for j, tb in rows:
            if i >= j:
                continue
            sa, sb = elems(ta), elems(tb)
            inter = len(sa & sb)
            union = len(sa | sb)
            ppm = inter * 1_000_000 // union
            if ppm >= threshold_ppm:
                expect[(i, j)] = (len(sa), len(sb), inter, ppm)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.size_a, r.size_b, r.n_common, r.jaccard_ppm)
        for r in jaccard_prefix_join(
            df, threshold_ppm=threshold_ppm, ngram=ngram
        ).collect()
    }
    assert got == expect


def test_minhash_signature_estimates_jaccard(spark):
    """Signature agreement rate ≈ true Jaccard (MinHash's defining property),
    within binomial tolerance at 64 hashes, over real near-dup pairs."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        jaccard_pairs,
        minhash_signature,
        tokens_col,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 150)
    sig = docs.select(
        F.col("doc_id").alias("id"), tokens_col("text").alias("s")
    ).select("id", minhash_signature(F.col("s"), 64).alias("sig"))

    true_pairs = jaccard_pairs(docs, threshold=0.5).limit(50)
    a = sig.alias("a")
    b = sig.alias("b")
    est = (
        true_pairs.join(a, true_pairs.id_a == F.col("a.id"))
        .join(b, true_pairs.id_b == F.col("b.id"))
        .select(
            "jaccard",
            (
                F.size(
                    F.filter(
                        F.zip_with("a.sig", "b.sig", lambda x, y: x == y),
                        lambda m: m,
                    )
                )
                / F.lit(64.0)
            ).alias("estimate"),
        )
        .collect()
    )
    assert est, "need near-dup pairs to test against"
    for r in est:
        # 64 Bernoulli trials: 4 sigma ≈ 4*sqrt(p(1-p)/64) ≤ 0.25
        assert abs(r.jaccard - r.estimate) < 0.25, (r.jaccard, r.estimate)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta".split()),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=12, deadline=None)
def test_segment_dedup_each_segment_survives_exactly_once(spark, docs):
    """Corpus-wide invariant: after aligned-segment dedup, every distinct
    segment string appears EXACTLY once across all rewritten documents, and
    kept counts sum to the number of distinct segments."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        segment_dedup,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = segment_dedup(df, seg_len=2).collect()

    # reconstruct each doc's segments exactly as the operator defines them
    def segs(toks):
        return [" ".join(toks[i : i + 2]) for i in range(0, len(toks), 2)]

    all_segments = [s for toks in docs for s in segs(toks)]
    distinct = set(all_segments)
    kept_total = sum(r["n_kept"] for r in out)
    assert kept_total == len(distinct)
    # each kept segment string appears exactly once across clean_texts
    kept_segs = []
    by_id = {r["doc_id"]: r for r in out}
    for i, toks in enumerate(docs):
        clean = by_id[i]["clean_text"]
        # clean_text is a space-join of surviving 2-token segments of THIS doc;
        # recover them by greedy matching against the doc's own segment list
        remaining = [s for s in segs(toks)]
        text = clean
        for s in remaining:
            if text == s or text.startswith(s + " "):
                kept_segs.append(s)
                text = text[len(s):].lstrip()
    assert sorted(kept_segs) == sorted(distinct)


@given(seed=st.integers(min_value=0, max_value=5))
@settings(max_examples=6, deadline=None)
def test_mix_temperature_deterministic_and_bounded(spark, seed):
    """The temperature mix keeps the same rows on every run (hash-based,
    not rand()), and each source's keep probability respects the
    min(1, N·u_s/(U·c_s)) bound within binomial slack."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_mix_temperature,
    )

    a = q_mix_temperature(spark, SF_SMALL).toPandas().sort_values("doc_id")
    b = q_mix_temperature(spark, SF_SMALL).toPandas().sort_values("doc_id")
    assert (a["kept"].values == b["kept"].values).all()
    total = len(a)
    kept = int(a["kept"].sum())
    # alpha=0.5 with uniform sources => target about half the corpus
    assert 0.3 * total < kept < 0.7 * total


@settings(max_examples=200, deadline=None)
@given(did=st.integers(min_value=0, max_value=10**12))
def test_bmp_codec_roundtrip_property(did):
    """Property (round-7): for ANY doc id, the vendored BMP writer+parser
    round-trip exactly the synthetic dimensions and the closed-form pixel
    sum — the invariant the multimodal_decode oracle relies on."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        _bmp_dims,
        encode_bmp,
        parse_bmp,
    )

    w, h, c, s = parse_bmp(encode_bmp(did))
    ew, eh = _bmp_dims(did)
    assert (w, h, c) == (ew, eh, 3)
    # closed form: sum over x,y,ch of (did + 3x + 7y + 11ch) % 256
    expect = sum(
        (did + 3 * x + 7 * y + 11 * ch) % 256
        for x in range(ew)
        for y in range(eh)
        for ch in range(3)
    )
    assert s == expect


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    filters=st.lists(st.integers(min_value=0, max_value=4), min_size=9, max_size=9),
)
def test_png_unfilter_all_filter_types_property(w, h, seed, filters):
    """Property (round-8): for ANY small image and ANY per-row filter
    choice (0-4), a PNG assembled with the REFERENCE filter equations
    parses back to the exact pixel sum — pinning the vectorized Sub/Up
    unfilter paths and the sequential Average/Paeth paths against the
    spec, not against our own writer (which only emits filter 0)."""
    import struct
    import zlib

    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        PNG_SIG,
        parse_png,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, 3 * w), dtype=np.int64)
    bpp, stride = 3, 3 * w

    def filt_row(ft, cur, prev):
        out = np.zeros(stride, dtype=np.int64)
        for i in range(stride):
            a = int(cur[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            cc = int(prev[i - bpp]) if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            out[i] = (int(cur[i]) - pred) % 256
        return out

    raw = b""
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ft = filters[y % len(filters)]
        raw += bytes([ft]) + bytes(filt_row(ft, px[y], prev).astype(np.uint8))
        prev = px[y]

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    buf = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
    assert parse_png(buf) == (w, h, 3, int(px.sum()))


@settings(max_examples=200, deadline=None)
@given(did=st.integers(min_value=0, max_value=10**12))
def test_png_codec_roundtrip_property(did):
    """Property (round-8): for ANY doc id, the vendored PNG writer+parser
    round-trip the same synthetic dimensions and closed-form pixel sum as
    the BMP pair (shared pixel formula), and the stored-deflate container
    length is exactly 68 + h*(3w+1) — the multimodal_decode oracle's PNG
    branch in closed form."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        _bmp_dims,
        encode_png,
        parse_png,
    )

    buf = encode_png(did)
    w, h, c, s = parse_png(buf)
    ew, eh = _bmp_dims(did)
    assert (w, h, c) == (ew, eh, 3)
    assert len(buf) == 68 + eh * (3 * ew + 1)
    expect = sum(
        (did + 3 * x + 7 * y + 11 * ch) % 256
        for x in range(ew)
        for y in range(eh)
        for ch in range(3)
    )
    assert s == expect


@given(
    st.integers(min_value=-(10**15), max_value=10**15),
    st.integers(min_value=1, max_value=10**9),
)
@settings(max_examples=300, deadline=None)
def test_integer_division_conventions_pin_the_documented_model(s, n):
    """The catalog's integer-division exactness model, property-pinned:
    (1) DuckDB's integer // TRUNCATES toward zero, exactly like
    operators/similarity._tdiv (and Spark's div) — NOT Python's flooring
    //; (2) the sign-safe adjustment (s - (((s%n)+n)%n)) // n yields the
    mathematical FLOOR in DuckDB, matching Python's s // n. Both facts
    are load-bearing for embedding_outliers / community_modularity /
    pq_topk_trained oracles."""
    import duckdb

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        _tdiv,
    )

    trunc, floored = duckdb.sql(
        f"SELECT CAST({s} AS BIGINT) // {n},"
        f" (CAST({s} AS BIGINT) - ((({s} % {n}) + {n}) % {n})) // {n}"
    ).fetchone()
    assert trunc == _tdiv(s, n)
    assert floored == s // n


@settings(max_examples=200, deadline=None)
@given(did=st.integers(min_value=0, max_value=10**12))
def test_wav_codec_roundtrip_property(did):
    """Property (round-9): for ANY doc id, the vendored WAV writer+parser
    round-trip exactly the synthetic (rate, channels, n_samples) and the
    closed-form Σ sample² energy — the invariant the audio_decode and
    audio_window_energy oracles rely on."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.audio import (
        _wav_params,
        encode_wav,
        parse_wav,
    )

    rate, ch, n = _wav_params(did)
    got = parse_wav(encode_wav(did))
    i = np.arange(n * ch, dtype=np.int64)
    s = (did * 31 + i * 17) % 65536 - 32768
    assert got == (rate, ch, n, int((s * s).sum()))


@settings(max_examples=200, deadline=None)
@given(did=st.integers(min_value=0, max_value=10**12))
def test_y4m_codec_roundtrip_property(did):
    """Property (round-9): for ANY doc id, the vendored Y4M writer+parser
    round-trip the synthetic parameters and the closed-form total luma
    sum — the invariant the video_decode / video_frame_sample oracles
    rely on."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        _y4m_params,
        encode_y4m,
        parse_y4m,
    )

    w, h, fps, n = _y4m_params(did)
    i = np.arange(w * h, dtype=np.int64)
    luma = sum(int(((did + 13 * f + 5 * i) % 256).sum()) for f in range(n))
    assert parse_y4m(encode_y4m(did)) == (w, h, fps, 1, n, luma)


@given(
    seed=st.integers(min_value=0, max_value=10**9),
    n_nodes=st.integers(min_value=2, max_value=14),
    k=st.integers(min_value=0, max_value=5),
    rounds=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=10, deadline=None)
def test_kcore_peel_matches_reference_on_random_graphs(
    spark, seed, n_nodes, k, rounds
):
    """On random Erdős–Rényi-ish graphs of every small size, kcore_peel's
    full (peeled_round, degree) table equals a hand-rolled synchronous
    peeling reference — any within-round cascade, degree-after-removal
    mixup, or survivor-restriction bug diverges somewhere in this space."""
    import random

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    rng = random.Random(seed)
    half = sorted(
        {
            (a, b)
            for a in range(n_nodes)
            for b in range(a + 1, n_nodes)
            if rng.random() < 0.45
        }
    )
    if not half:
        half = [(0, 1)]
    e = half + [(b, a) for a, b in half]

    # reference: synchronous peel over the symmetric edge set
    edges = set(e)
    alive = {a for a, _ in edges}
    expect = {}
    for r in range(1, rounds + 1):
        deg = {n: 0 for n in alive}
        for a, b in edges:
            deg[a] += 1
        dead = {n for n in alive if deg[n] < k}
        for n in dead:
            expect[n] = (r, deg[n])
        alive -= dead
        edges = {(a, b) for a, b in edges if a in alive and b in alive}
        if r == rounds:
            for n in alive:
                expect[n] = (0, deg[n])

    df = spark.createDataFrame(e, "src long, dst long")
    got = {
        row["node"]: (row["peeled_round"], row["degree"])
        for row in kcore_peel(df, k=k, rounds=rounds).collect()
    }
    assert got == expect


@given(
    seed=st.integers(min_value=0, max_value=10**9),
    n_keys=st.integers(min_value=1, max_value=30),
    depth=st.sampled_from([1, 2, 4]),
    width=st.sampled_from([16, 64, 256]),
)
@settings(max_examples=6, deadline=None)
def test_cms_one_sided_error_on_random_streams(spark, seed, n_keys, depth, width):
    """Count-min's defining guarantee on random streams across the
    (depth, width) grid — including width=16, where collisions are
    common: EVERY key's estimate >= its exact count (never under), and
    the estimate is exact whenever the key's min-row cell is
    collision-free. Replays the md5 cell hash in Python to verify the
    sketch table itself, not just the estimates."""
    import hashlib
    import random
    from collections import Counter

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    rng = random.Random(seed)
    stream = [f"key{rng.randint(0, n_keys - 1)}" for _ in range(300)]
    exact = Counter(stream)
    df = spark.createDataFrame([(s,) for s in stream], "item string")
    sketch = cms_sketch(df, "item", depth=depth, width=width)

    def cell(key, row):
        h = hashlib.md5(f"{key}#{row}".encode()).hexdigest()[:15]
        return int(h, 16) % width

    # replay: every cell count equals the sum of exact counts of keys
    # hashing there
    expect_cells = Counter()
    for k, n in exact.items():
        for r in range(1, depth + 1):
            expect_cells[(r, cell(k, r))] += n
    got_cells = {
        (r.cms_row, r.cms_cell): r.cnt for r in sketch.cells.collect()
    }
    assert got_cells == dict(expect_cells)

    cand = spark.createDataFrame([(k,) for k in exact], "item string")
    est = {r.item: r.cms_est for r in cms_estimate(cand, sketch, "item").collect()}
    for k, n in exact.items():
        assert est[k] >= n
        assert est[k] == min(
            expect_cells[(r, cell(k, r))] for r in range(1, depth + 1)
        )


@given(
    positions=st.lists(
        st.integers(min_value=0, max_value=1023), max_size=40, unique=True
    ),
    probe_pos=st.integers(min_value=0, max_value=1023),
)
@settings(max_examples=30, deadline=None)
def test_bloom_word_packing_is_exact_set_membership(positions, probe_pos):
    """The int64-word packing + signed-wrap adjustment in bloom_prune is a
    faithful bitset: replaying the pack/test arithmetic in Python over
    arbitrary position sets (including bit 63 of any word) agrees with
    plain set membership — the invariant the Spark expression encodes."""
    m_bits = 1024
    words = [0] * (m_bits // 64)
    for p in positions:
        words[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]

    def test_bit(pos):
        w = words[pos // 64]
        # replicate the JVM: signed int64 & shiftleft(1, pos%64) != 0
        mask = 1 << (pos % 64)
        if mask >= 1 << 63:
            mask -= 1 << 64
        return (w & mask) != 0

    assert test_bit(probe_pos) == (probe_pos in set(positions))
    for p in positions:
        assert test_bit(p)
