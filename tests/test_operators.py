"""Quality/semantic tests for operators without SQL oracles."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image_meta,
    sample_frames,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
    load_table,
)

from conftest import SF_ORACLE, SF_SMALL


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH pairs ⊆ exact pairs (precision 1 after verify) with decent recall."""
    docs = load_table(spark, SF_SMALL, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "corpus should contain near-dup pairs"
    assert set(lsh) <= set(exact)  # precision 1.0 (verified candidates)
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall:.2f}"
    for k, v in lsh.items():
        assert exact[k] == v  # same exact-jaccard verification values


def test_jaccard_prefix_join_equals_brute_force_on_corpus(spark):
    """The prefix-filter join must return EXACTLY the brute-force ≥0.8
    pair set on the real corpus (bounded to doc_id < 300 so jaccard_pairs
    stays feasible) — completeness (no prefix miss) AND precision (the
    verify step), with integer-ppm values agreeing with the double form."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 300)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.8).collect()
    }
    got = {
        (r.id_a, r.id_b): r
        for r in jaccard_prefix_join(docs, threshold_ppm=800000).collect()
    }
    assert exact, "corpus should contain near-dup pairs"
    assert set(got) == set(exact)
    for k, r in got.items():
        # ppm is the truncated integer form of the same ratio
        assert r.jaccard_ppm == int(
            r.n_common * 1_000_000 // (r.size_a + r.size_b - r.n_common)
        )
        assert abs(r.jaccard_ppm / 1e6 - exact[k]) < 1e-3


def test_jaccard_prefix_join_null_text_and_bad_threshold(spark):
    """NULL-text docs never pair (no token rows); threshold bounds raise."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, None)],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(docs, threshold_ppm=500000).collect()
    }
    assert got == {(1, 2)}
    with pytest.raises(ValueError):
        jaccard_prefix_join(docs, threshold_ppm=0)
    with pytest.raises(ValueError):
        jaccard_prefix_join(docs, threshold_ppm=2_000_000)


def test_simhash_flags_identical_token_sets(spark):
    """Docs with identical token sets have hamming 0 → must be paired."""
    docs = load_table(spark, SF_SMALL, "documents")
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        fingerprint_dedup,
    )

    groups = fingerprint_dedup(docs).filter(F.col("n_copies") > 1).collect()
    pairs = simhash_pairs(docs, max_hamming=0).collect()
    paired_ids = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    if groups:  # every multi-copy fingerprint group must appear in pairs
        assert any(g.keep_id in paired_ids for g in groups)
    for p in pairs:
        assert p.hamming == 0


def test_ivf_topk_recall(spark):
    """Single-probe IVF hits a reasonable fraction of exact top-3 pairs."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = brute_force_topk(emb, k=3, query_filter=F.col("vec_id") < 50)
    approx = ivf_topk(emb, k=3, n_centroids=8, query_filter=F.col("vec_id") < 50)
    e = {(r.query_id, r.nbr_id) for r in exact.collect()}
    a = {(r.query_id, r.nbr_id) for r in approx.collect()}
    assert len(a) > 0
    recall = len(e & a) / len(e)
    # single-probe IVF on random vectors: recall is modest by design, but the
    # operator must find a non-trivial fraction and never invent neighbors
    # outside the corpus.
    assert recall > 0.1, f"IVF recall suspiciously low: {recall:.2f}"


def test_ivf_nprobe_recall_monotone_and_exact_at_full(spark):
    """nprobe is the IVF recall knob: recall@3 must be non-decreasing in
    nprobe (candidate cells only ever grow, and a true top-3 pair can only
    be displaced from a candidate top-3 by another true top-3 pair), and
    nprobe == n_centroids probes EVERY cell — bitwise-identical rows to
    brute force, rank and rounded cosine included."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") < 50
    exact = brute_force_topk(emb, k=3, query_filter=qf)
    e = {(r.query_id, r.nbr_id) for r in exact.collect()}
    assert e
    prev = -1.0
    for nprobe in (1, 2, 4, 8):
        approx = ivf_topk(emb, k=3, n_centroids=8, nprobe=nprobe, query_filter=qf)
        a = {(r.query_id, r.nbr_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= prev - 1e-12, f"recall fell at nprobe={nprobe}"
        prev = recall
    full = ivf_topk(emb, k=3, n_centroids=8, nprobe=8, query_filter=qf)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))


def test_ivf_nprobe_rejects_out_of_range(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    for bad in (0, 9):
        with pytest.raises(ValueError, match="nprobe"):
            ivf_topk(emb, k=3, n_centroids=8, nprobe=bad)


def _planted_cluster_frame(spark, n_clusters=4, per_cluster=40, dim=64):
    """Synthetic clustered embeddings: ids interleave clusters (id % C),
    so the deterministic first-C seeds land one per cluster; offsets are
    small relative to center spacing, so true neighbors share a cluster."""
    rows = []
    for vid in range(n_clusters * per_cluster):
        c = vid % n_clusters
        vec = [
            ((c * 17 + i * 3) % 40) / 40.0
            - 0.5
            + (((vid * 7 + i * 13) % 11) / 110.0 - 0.05)
            for i in range(dim)
        ]
        rows.append((vid, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivfpq_residual_beats_vector_coding_on_clusters(spark):
    """Residual encoding is the point of real IVF-PQ: on a clustered
    corpus the residual ball is much smaller than the vector ball, so
    the same 8x16 code budget quantizes finer and recall@3 vs exact
    brute force must be >= the raw-vector-coded variant (and strictly
    better somewhere on this corpus), with both runs deterministic."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    emb = _planted_cluster_frame(spark)
    qf = F.col("vec_id") < 40
    exact = {
        (r.query_id, r.nbr_id)
        for r in brute_force_topk(emb, k=3, query_filter=qf).collect()
    }
    assert exact

    def recall(fn):
        got = {
            (r.query_id, r.nbr_id)
            for r in fn(
                emb, k=3, n_centroids=4, query_filter=qf
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_vec = recall(ivfpq_topk)
    r_res = recall(ivfpq_residual_topk)
    assert r_res >= r_vec, (r_res, r_vec)
    assert r_res > r_vec + 0.05, (
        f"residual coding should clearly win on planted clusters: "
        f"residual {r_res:.3f} vs vector {r_vec:.3f}"
    )


def test_ivfpq_residual_nondegenerate_at_default_params(spark):
    """Round-9 regression for the round-8 ADVICE-high defect: with the
    codebook seeded from the SAME first-16 vectors as the 16 coarse
    centroids, every seed's own residual was exactly zero, the whole
    codebook collapsed to the zero vector, and ADC became a per-query
    constant (ranking = smallest nbr_id). The fix seeds the codebook from
    the NEXT 16 vectors by id. At DEFAULT parameters the ADC scores must
    therefore discriminate (some query sees >= 2 distinct adc values) and
    recall vs exact brute force on planted clusters must beat the
    ~3/19 ~= 0.16 a constant ranking would give."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivfpq_residual_topk,
    )

    emb = _planted_cluster_frame(spark, n_clusters=16, per_cluster=20)
    qf = F.col("vec_id") < 32
    exact = {
        (r.query_id, r.nbr_id)
        for r in brute_force_topk(emb, k=3, query_filter=qf).collect()
    }
    got = ivfpq_residual_topk(emb, k=3, query_filter=qf).collect()
    assert got
    distinct_adc = {}
    for r in got:
        distinct_adc.setdefault(r.query_id, set()).add(r.adc_micro2)
    assert any(len(v) >= 2 for v in distinct_adc.values()), (
        "ADC scores are constant per query — degenerate (all-zero) codebook"
    )
    pairs = {(r.query_id, r.nbr_id) for r in got}
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.4, f"default-parameter recall {recall:.3f} is degenerate"


def test_ivfpq_residual_deterministic_under_repartition(spark):
    """Same rows, different physical layout -> bitwise-identical output
    (integer micro arithmetic end to end; no order-dependent float sums)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivfpq_residual_topk,
    )

    emb = _planted_cluster_frame(spark, per_cluster=20)
    qf = F.col("vec_id") < 20
    a = sorted(
        map(tuple, ivfpq_residual_topk(emb, k=3, n_centroids=4, query_filter=qf).collect())
    )
    b = sorted(
        map(
            tuple,
            ivfpq_residual_topk(
                emb.repartition(17), k=3, n_centroids=4, query_filter=qf
            ).collect(),
        )
    )
    assert a == b and a


def test_ivfpq_residual_empty_and_invalid_inputs(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivfpq_residual_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ivfpq_residual_topk(empty).count() == 0
    # ragged / NULL-element vectors are filtered, never crash
    bad = spark.createDataFrame(
        [(1, [0.5] * 64), (2, [0.25] * 63), (3, None), (4, [None] + [0.1] * 63)],
        "vec_id long, embedding array<float>",
    )
    out = ivfpq_residual_topk(bad, k=1, n_centroids=1)
    assert out.count() == 0  # only one valid vector -> no pairs
    with pytest.raises(ValueError, match="nprobe"):
        ivfpq_residual_topk(bad, nprobe=0)


def test_nprobes_sweep_equals_single_calls(spark):
    """The round-9 nprobes sweep mode (one index build, per-tier re-rank
    of the once-scored candidates) must be BITWISE the single-nprobe call
    at every swept value, for all three index operators — scores are
    probe-set-independent, so filtering pre-scored pairs by cell probe
    rank and re-ranking is exactly what the single call computes."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivf_topk,
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") < 50
    for fn in (ivf_topk, ivfpq_topk, ivfpq_residual_topk):
        kw = dict(k=3, query_filter=qf)
        if fn is ivf_topk:
            kw["n_centroids"] = 16
        sw = fn(emb, nprobes=(1, 2, 4), **kw).collect()
        assert sw
        for np_ in (1, 2, 4):
            single = sorted(map(tuple, fn(emb, nprobe=np_, **kw).collect()))
            tier = sorted(tuple(r)[1:] for r in sw if r[0] == np_)
            assert single == tier, (fn.__name__, np_)
    with pytest.raises(ValueError, match="nprobes"):
        ivf_topk(emb, n_centroids=16, nprobes=(0, 2))
    with pytest.raises(ValueError, match="nprobes"):
        ivfpq_topk(emb, nprobes=())


def test_ann_tier_matrix_residual_beats_vector_coded(spark):
    """The widened ann_recall_eval's production claim, pinned on planted
    clusters: at EVERY nprobe, residual IVF-PQ recall@3 vs exact brute
    force is >= the vector-coded variant's (residual coding quantizes the
    smaller residual ball with the same code budget), and both PQ tiers'
    recall is monotone non-decreasing in nprobe vs their own exhaustive
    candidate sets growing."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    emb = _planted_cluster_frame(spark)
    qf = F.col("vec_id") < 40
    exact = {
        (r.query_id, r.nbr_id)
        for r in brute_force_topk(emb, k=3, query_filter=qf).collect()
    }
    assert exact

    def recalls(fn):
        rows = fn(
            emb, k=3, n_centroids=4, nprobes=(1, 2, 4), query_filter=qf
        ).collect()
        out = {}
        for np_ in (1, 2, 4):
            got = {(r.query_id, r.nbr_id) for r in rows if r.nprobe == np_}
            out[np_] = len(exact & got) / len(exact)
        return out

    r_vec, r_res = recalls(ivfpq_topk), recalls(ivfpq_residual_topk)
    for np_ in (1, 2, 4):
        assert r_res[np_] >= r_vec[np_], (np_, r_res, r_vec)
    assert any(r_res[np_] > r_vec[np_] for np_ in (1, 2, 4)), (r_res, r_vec)


def test_ivfpq_nprobe_recall_monotone(spark):
    """IVF-PQ recall vs the EXHAUSTIVE-ADC ground truth (pq_topk — same
    codebook, every pair scored) must be non-decreasing in nprobe and
    reach exactly 1.0 at full probe: ADC scores are probe-set-
    independent, so a global-ADC-top-3 pair in the candidate set can
    only be displaced by a better-ADC pair, which is itself global
    top-3. (Recall vs TRUE cosine is not provably monotone — ADC
    quantization error can rank a newly-admitted false pair above a
    true one — which is why the reference set here is PQ, and why
    ann_recall_eval measures the IVF-flat tier, whose scores ARE the
    true cosines.)"""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") < 50
    ref = {
        (r.query_id, r.nbr_id)
        for r in pq_topk(emb, k=3, query_filter=qf).collect()
    }
    assert ref
    prev = -1.0
    for np_ in (1, 4, 16):
        got = {
            (r.query_id, r.nbr_id)
            for r in ivfpq_topk(emb, k=3, nprobe=np_, query_filter=qf).collect()
        }
        recall = len(ref & got) / len(ref)
        assert recall >= prev - 1e-12, f"recall fell at nprobe={np_}"
        prev = recall
    assert prev == 1.0


def test_ivfpq_full_probe_equals_pq(spark):
    """nprobe == n_centroids collapses the IVF tier of IVF-PQ: every query
    scores every coded vector, so the result must equal plain PQ ADC on
    the same corpus — same codebook seeds, same integer micro scores,
    same ranks."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    qf = F.col("vec_id") < 50
    a = sorted(map(tuple, ivfpq_topk(emb, k=3, nprobe=16, query_filter=qf).collect()))
    b = sorted(map(tuple, pq_topk(emb, k=3, query_filter=qf).collect()))
    assert a == b


def test_multimodal_decode_schema_and_determinism(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    out = decode_image_meta(attach_binary_payload(docs))
    pdf = out.toPandas()
    assert list(pdf.columns) == ["doc_id", "n_bytes", "format", "width", "height", "channels"]
    assert (pdf["channels"] == 3).all()
    assert (pdf["width"] >= 16).all() and (pdf["width"] < 656).all()
    # deterministic: second run identical
    pdf2 = decode_image_meta(attach_binary_payload(docs)).toPandas()
    pd.testing.assert_frame_equal(
        pdf.sort_values("doc_id").reset_index(drop=True),
        pdf2.sort_values("doc_id").reset_index(drop=True),
    )


def test_bmp_codec_roundtrip_and_rejection():
    """The vendored numpy BMP codec (round-7): encode→parse round-trips the
    exact dimensions and pixel sum (catching stride/padding/flip bugs),
    top-down (negative height) files parse identically, and garbage or
    truncated buffers yield all-None instead of raising."""
    import struct

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        _bmp_dims,
        encode_bmp,
        parse_bmp,
    )

    for did in (0, 1, 5, 17, 123, 9999, 31 * 13):
        buf = encode_bmp(did)
        w, h, c, s = parse_bmp(buf)
        ew, eh = _bmp_dims(did)
        expect = sum(
            (did + 3 * x + 7 * y + 11 * ch) % 256
            for x in range(ew)
            for y in range(eh)
            for ch in range(3)
        )
        assert (w, h, c, s) == (ew, eh, 3, expect)
        assert len(buf) == 54 + ((ew * 3 + 3) & ~3) * eh

    # top-down variant: flip biHeight's sign and reverse the row block —
    # same image, parser must agree on everything
    buf = encode_bmp(17)
    w, h, c, s = parse_bmp(buf)
    stride = (w * 3 + 3) & ~3
    import numpy as np

    rows = np.frombuffer(buf[54:], dtype=np.uint8).reshape(h, stride)
    topdown = (
        buf[:14]
        + struct.pack("<Iii", 40, w, -h)
        + buf[14 + 12 : 54]
        + rows[::-1].tobytes()
    )
    assert parse_bmp(topdown) == (w, h, c, s)

    for bad in (b"", b"garbage", buf[:40], buf[:100], b"BM" + b"\x00" * 60):
        assert parse_bmp(bad) == (None, None, None, None)


def test_png_codec_all_filters_and_rejection():
    """The vendored PNG parser (round-8) must unfilter ALL five scanline
    filter types — our writer emits only filter 0, but real PNGs use any —
    so re-encode the same image with each filter applied per row and
    assert the decode tuple is identical. Garbage, truncation, and
    unsupported IHDR shapes yield all-None instead of raising."""
    import struct
    import zlib

    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        PNG_SIG,
        _bmp_dims,
        encode_png,
        parse_png,
    )

    did = 17
    ref = parse_png(encode_png(did))
    w, h = _bmp_dims(did)
    px = np.array(
        [
            [(did + 3 * x + 7 * y + 11 * c) % 256 for x in range(w) for c in range(3)]
            for y in range(h)
        ],
        dtype=np.int64,
    )  # (h, 3w) reconstructed scanlines
    bpp, stride = 3, 3 * w

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

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

    for ft in (1, 2, 3, 4):
        raw = b""
        prev = np.zeros(stride, dtype=np.int64)
        for y in range(h):
            raw += bytes([ft]) + bytes(filt_row(ft, px[y], prev).astype(np.uint8))
            prev = px[y]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        buf = (
            PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b"")
        )
        assert parse_png(buf) == ref, f"filter {ft} mismatch"

    # multi-IDAT split must concatenate before inflating
    raw0 = b"".join(
        bytes([0]) + bytes(px[y].astype(np.uint8)) for y in range(h)
    )
    z = zlib.compress(raw0, 6)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    split = (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", z[: len(z) // 2])
        + chunk(b"IDAT", z[len(z) // 2 :])
        + chunk(b"IEND", b"")
    )
    assert parse_png(split) == ref

    good = encode_png(did)
    for bad in (b"", b"garbage", good[:20], good[:60], PNG_SIG + b"\x00" * 30):
        assert parse_png(bad) == (None, None, None, None)
    # 16-bit depth and interlaced IHDRs are out of contract -> all-None
    for depth, inter in ((16, 0), (8, 1)):
        ih = struct.pack(">IIBBBBB", w, h, depth, 2, 0, 0, inter)
        buf = PNG_SIG + chunk(b"IHDR", ih) + chunk(b"IDAT", zlib.compress(raw0, 6)) + chunk(b"IEND", b"")
        assert parse_png(buf) == (None, None, None, None)

    # decompression bomb (round-9 ADVICE): a ~100 KB IDAT that claims tiny
    # dims but inflates toward 100 MB must be REJECTED by the bounded
    # inflate (max_length = h*(3w+1)+1) without materializing the payload —
    # the parser may allocate at most the expected scanline stream + 1 byte.
    bomb_raw = b"\x00" * (100 * 1024 * 1024)
    bomb = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bomb_raw, 9))
        + chunk(b"IEND", b"")
    )
    assert parse_png(bomb) == (None, None, None, None)
    # an oversized-but-small stream (one extra byte) is likewise malformed
    over = b"\x00" * (h * (3 * w + 1) + 1)
    buf = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(over, 6))
        + chunk(b"IEND", b"")
    )
    assert parse_png(buf) == (None, None, None, None)


def test_mixed_format_payload_decode_routes_by_magic(spark):
    """attach_media_payload over (BMP, PNG) synthesizes BMP for even ids
    and PNG for odd; the decode kernel routes by magic bytes — format
    splits on parity, the pixel sum follows the shared closed-form formula
    either way, and NULL ids stay NULL metadata."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_media_payload,
        decode_media_meta,
    )

    df = spark.createDataFrame([(2,), (3,), (None,), (8,), (9,)], "doc_id long")
    payloads = attach_media_payload(df, formats=("image/bmp", "image/png"))
    out = {r.doc_id: r for r in decode_media_meta(payloads).collect()}
    for did in (2, 3, 8, 9):
        r = out[did]
        assert r.format == ("image/png" if did % 2 else "image/bmp")
        w, h = did % 31 + 2, (did * 7) % 13 + 2
        assert (r.width, r.height, r.channels) == (w, h, 3)
        assert r.pixel_sum == sum(
            (did + 3 * x + 7 * y + 11 * c) % 256
            for x in range(w)
            for y in range(h)
            for c in range(3)
        )
    nulls = [r for r in out.values() if r.doc_id is None]
    assert len(nulls) == 1 and nulls[0].format is None and nulls[0].pixel_sum is None


def test_bmp_decode_null_ids_yield_null_metadata(spark):
    """A NULL doc id (missing blob) flows through attach+decode as NULL
    payload → NULL metadata, never an abort."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_media_payload,
        decode_media_meta,
    )

    df = spark.createDataFrame([(1,), (None,), (7,)], "doc_id long")
    payloads = attach_media_payload(df, formats=("image/bmp",))
    out = {r.doc_id: r for r in decode_media_meta(payloads).collect()}
    assert out[1].format == "image/bmp" and out[1].pixel_sum is not None
    nulls = [r for r in out.values() if r.doc_id is None]
    assert len(nulls) == 1 and nulls[0].width is None and nulls[0].pixel_sum is None
    assert nulls[0].n_bytes is None


def test_multimodal_frames_fanout(spark):
    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 10)
    frames = sample_frames(attach_binary_payload(docs)).toPandas()
    per_doc = frames.groupby("doc_id")
    for doc_id, g in per_doc:
        n_frames = g["n_frames"].iloc[0]
        assert len(g) == n_frames
        assert sorted(g["frame_index"]) == list(range(n_frames))
        assert (g["frame_offset"] == g["frame_index"] * 1024).all()


def test_kmeans_centroids_shape_and_determinism(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    c1 = kmeans_centroids(emb, k=8, iterations=2).collect()
    c2 = kmeans_centroids(emb, k=8, iterations=2).collect()
    assert len(c1) == 8
    assert all(len(r.centroid_vec) == 64 for r in c1)
    assert [r.centroid_vec for r in sorted(c1, key=lambda r: r.centroid_id)] == [
        r.centroid_vec for r in sorted(c2, key=lambda r: r.centroid_id)
    ]


def test_ivf_with_kmeans_refinement_recall(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    flt = F.col("vec_id") < 50
    exact = {(r.query_id, r.nbr_id) for r in brute_force_topk(emb, k=3, query_filter=flt).collect()}
    approx = {
        (r.query_id, r.nbr_id)
        for r in ivf_topk(
            emb, k=3, n_centroids=8, query_filter=flt, kmeans_iterations=2
        ).collect()
    }
    # single-probe IVF: every hit must be a true pair's id (precision on the
    # candidate set), recall bounded below loosely
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.2, f"kmeans-IVF recall collapsed: {recall:.2f}"


def test_sketch_distinct_error_bound(spark):
    """HLL++ estimate within the query's own 5-sigma bound for every group
    (the within_bound flags the oracle asserts TRUE)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_sketch_distinct,
    )

    rows = q_sketch_distinct(spark, SF_SMALL).collect()
    assert rows
    assert all(r.within_bound for r in rows), rows


def test_approx_quantiles_error_bound(spark):
    """GK-sketch percentiles within the query's own p±0.02 rank bound (the
    in_bound flags the oracle asserts TRUE)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_approx_quantiles,
    )

    r = q_approx_quantiles(spark, SF_SMALL).collect()[0]
    assert r.n_rows > 0
    assert r.p50_in_bound and r.p90_in_bound and r.p99_in_bound, r


def test_merge_upsert_semantics(spark):
    """Upsert: updated rows replaced, inserts added, untouched rows intact."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.merge import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, v STRING, x DOUBLE"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k INT, v STRING, x DOUBLE"
    )
    got = {r.k: (r.v, r.x) for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_scd2_versions_and_noops(spark):
    """SCD2: changed key gets closed+reopened, unchanged update is a no-op,
    brand-new key is inserted open, history rows pass through."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.merge import (
        scd2_apply,
    )
    import datetime

    TS = datetime.datetime
    current = spark.createDataFrame(
        [
            (1, "seg_a", TS(1995, 1, 1), None, True),
            (2, "seg_b", TS(1995, 1, 1), None, True),
            (1, "seg_old", TS(1990, 1, 1), TS(1995, 1, 1), False),  # history
        ],
        "k INT, seg STRING, valid_from TIMESTAMP, valid_to TIMESTAMP, is_current BOOLEAN",
    )
    updates = spark.createDataFrame(
        [(1, "seg_NEW"), (2, "seg_b"), (9, "seg_fresh")], "k INT, seg STRING"
    )
    out = scd2_apply(current, updates, ["k"], ["seg"], F.lit("1996-06-01").cast("timestamp"))
    rows = {(r.k, r.seg, r.is_current, r.valid_to is None) for r in out.collect()}
    assert rows == {
        (1, "seg_old", False, False),     # history untouched
        (1, "seg_a", False, False),       # closed out
        (1, "seg_NEW", True, True),       # new current version
        (2, "seg_b", True, True),         # unchanged no-op stays open
        (9, "seg_fresh", True, True),     # brand-new key inserted open
    }
    assert out.filter(F.col("is_current")).count() == 3


def _fold_topk_reference(
    df, id_col="vec_id", vec_col="embedding", k=3, query_filter=None,
    exclude_group_col=None,
):
    """The JVM ``zip_with``/``aggregate`` fold scorer: exact cosine top-k as
    one pair join in pure expressions. The reference the kernel in
    ``brute_force_topk`` must match bitwise on valid rows."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        dot_col,
        norm_col,
    )
    from pyspark.sql import Window

    grp = [F.col(exclude_group_col)] if exclude_group_col else []
    corpus = df.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nbr_vec"),
        norm_col(F.col(vec_col)).alias("nbr_norm"),
        *[g.alias("nbr_group") for g in grp],
    )
    queries = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm_col(F.col(vec_col)).alias("query_norm"),
        *[g.alias("query_group") for g in grp],
    )
    if query_filter is not None:
        queries = queries.filter(query_filter)
    sim = F.round(
        dot_col(F.col("query_vec"), F.col("nbr_vec"))
        / (F.col("query_norm") * F.col("nbr_norm")),
        6,
    )
    cond = F.col("query_id") != F.col("nbr_id")
    if exclude_group_col:
        cond = cond & (F.col("query_group") != F.col("nbr_group"))
    out_grp = ["query_group", "nbr_group"] if exclude_group_col else []
    pairs = queries.join(corpus, cond).select(
        "query_id", "nbr_id", sim.alias("cosine"), *out_grp
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank", *out_grp)
    )


def _bitwise_rows(df):
    """Rows as sorted tuples of ``repr`` — raw double bits, not approx."""
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


@pytest.mark.parametrize("group", [None, "label"], ids=["plain", "group"])
def test_brute_force_topk_bitwise_equals_fold_reference(spark, group):
    """The kernel replays the engine fold's IEEE sequence, so rounded
    cosines, ranks, tie-breaks and (hard-negative form) group columns equal
    the JVM-fold reference bit for bit — on 8 partitions, so boundary ties
    across Arrow batches must survive the per-batch candidate cut. In the
    group form a NULL-group row pairs with nothing on either path."""
    emb = load_table(spark, SF_SMALL, "embeddings").repartition(8)
    if group:
        emb = emb.withColumn(
            "label", F.when(F.col("vec_id") == 7, F.lit(None)).otherwise(F.col("label"))
        )
    kw = dict(k=3, query_filter=F.col("vec_id") < 40, exclude_group_col=group)
    a = _fold_topk_reference(emb, **kw)
    b = brute_force_topk(emb, **kw)
    assert a.columns == b.columns
    rows = _bitwise_rows(b)
    assert _bitwise_rows(a) == rows
    if group:
        assert not any(r[0] == "7" for r in rows)  # NULL-group anchor emits nothing


def test_brute_force_topk_dirty_input_equals_reference_on_clean_subset(spark):
    """One validity rule on both sides: a NULL vector, a NULL element, a
    wrong-length vector, a zero vector, a NULL id and a NaN element are
    each dropped, so the kernel on the dirty frame equals the reference on
    the clean rows."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    vid, vec = F.col("vec_id"), F.col("embedding")
    nan = F.lit(float("nan")).cast("float")
    dirty = emb.withColumn(
        "embedding",
        F.when(vid == 3, F.lit(None))
        .when(vid == 5, F.transform(vec, lambda x, i: F.when(i == 0, None).otherwise(x)))
        .when(vid == 9, F.slice(vec, 1, 10))
        .when(vid == 11, F.array_repeat(F.lit(0.0).cast("float"), 64))
        .when(vid == 15, F.transform(vec, lambda x, i: F.when(i == 0, nan).otherwise(x)))
        .otherwise(vec),
    ).withColumn("vec_id", F.when(vid == 13, F.lit(None)).otherwise(vid))
    clean = emb.filter(~vid.isin(3, 5, 9, 11, 13, 15))
    kw = dict(k=3, query_filter=F.col("vec_id") < 40)
    out = brute_force_topk(dirty.repartition(8), **kw)
    assert _bitwise_rows(out) == _bitwise_rows(_fold_topk_reference(clean, **kw))


def test_brute_force_topk_cut_keeps_rounding_ties(spark):
    """Neighbours 1 and 2 both round to cosine 0.8, but 2's raw cosine is
    higher by 2.3e-7: the id tie-break ranks 1 first, so the per-batch
    candidate cut must keep 1 even though 2 alone is the batch's top-1 raw
    value. All rows sit in one partition, so they share one Arrow batch."""
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.7500005960464478]), (2, [1.0, 0.75])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = df.repartition(spark.sparkContext.defaultParallelism, F.lit(0))
    out = brute_force_topk(df, k=1, query_filter=F.col("vec_id") == 0).collect()
    assert [(r.nbr_id, r.cosine) for r in out] == [(1, 0.8)]


def test_brute_force_topk_drops_zero_norm_vector(spark):
    """A zero vector has no cosine: it neither queries nor neighbours, and
    no NULL cosine reaches the output (the fold would divide by zero)."""
    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding",
        F.when(F.col("vec_id") == 7, F.array_repeat(F.lit(0.0).cast("float"), 64))
        .otherwise(F.col("embedding")),
    )
    rows = brute_force_topk(emb, k=3, query_filter=F.col("vec_id") < 40).collect()
    assert rows
    assert all(7 not in (r.query_id, r.nbr_id) for r in rows)
    assert all(r.cosine is not None for r in rows)


def test_srp_lsh_planted_near_dups(spark):
    """SRP-LSH finds planted near-duplicates: recall >= 0.95 at s >= 0.9
    (S-curve 1-(1-p^8)^16 with p = 1 - arccos(s)/pi), precision exactly 1."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        embedding_dup_pairs,
        srp_lsh_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 32))
    jitter = base + 0.05 * rng.standard_normal((40, 32))  # cosine ~0.995+
    vecs = np.concatenate([base, jitter])
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    lsh = srp_lsh_dup_pairs(df, threshold=0.9, bits_per_band=8, num_bands=16)
    got = {(r.id_a, r.id_b) for r in lsh.collect()}
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(df, threshold=0.9).collect()
    }
    planted = {(i, i + 40) for i in range(40)}
    assert planted <= exact  # sanity: the jittered copies really are near-dups
    assert got <= exact, "LSH emitted a pair below threshold (precision < 1)"
    assert len(got & exact) / len(exact) >= 0.95, (
        f"recall {len(got & exact)}/{len(exact)} too low"
    )


def test_srp_lsh_exactly_once_emission(spark):
    """A colliding pair appears exactly once even when it collides in many
    bands (identical vectors collide in all of them)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        srp_lsh_dup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),  # identical to 1 — collides in every band
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = srp_lsh_dup_pairs(df, threshold=0.9, bits_per_band=4, num_bands=8)
    pairs = [(r.id_a, r.id_b, r.cosine) for r in out.collect()]
    assert pairs == [(1, 2, 1.0)]


def test_srp_lsh_subset_of_exact_on_testdata(spark):
    """Catalog-query configuration: LSH output is a subset of the exact
    self-join pairs with non-trivial recall on the synthetic embeddings."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        embedding_dup_pairs,
        srp_lsh_dup_pairs,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    flt = F.col("vec_id") < 200
    lsh = {
        (r.id_a, r.id_b)
        for r in srp_lsh_dup_pairs(
            emb, threshold=0.4, bits_per_band=4, num_bands=24, query_filter=flt
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(emb, threshold=0.4, query_filter=flt).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0
    assert len(lsh) / len(exact) >= 0.8, f"recall {len(lsh)}/{len(exact)} too low"


def test_winnowing_shared_substring_guarantee(spark):
    """Docs sharing a run of >= w + k - 1 tokens share >= 1 fingerprint;
    disjoint-vocabulary docs share none."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.textops import (
        winnow_fingerprints,
    )

    shared = " ".join(f"common{i}" for i in range(8))  # 8 >= w + k - 1 = 8
    rows = [
        (1, "alpha beta gamma " + shared + " delta"),
        (2, "zeta eta " + shared + " theta iota kappa"),
        (3, "completely different vocabulary with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df, k=5, w=4)
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fp.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    }
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_short_docs(spark):
    """Docs shorter than k tokens / with fewer than w grams still fingerprint."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.textops import (
        winnow_fingerprints,
    )

    rows = [(1, "tiny doc"), (2, "six tokens but fewer than w grams")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_fingerprints(df, k=5, w=4).collect()
    assert {r.doc_id for r in out} == {1, 2}


def test_byte_histogram_matches_numpy(spark):
    """Byte-histogram features equal a direct numpy computation."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_binary_payload,
        extract_byte_features,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 50)
    got = {
        r.doc_id: (r.n_bytes, r.byte_histogram)
        for r in extract_byte_features(attach_binary_payload(docs), bins=16).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        buf = np.frombuffer(r.text.encode("utf-8"), dtype=np.uint8)
        want = np.bincount(buf >> 4, minlength=16) / len(buf)
        n, hist = got[r.doc_id]
        assert n == len(buf)
        assert np.allclose(hist, want.round(6))


def test_resize_never_upscales_and_preserves_aspect(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_binary_payload,
        decode_image_meta,
        resize_image_meta,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 200)
    out = resize_image_meta(decode_image_meta(attach_binary_payload(docs)), target=256)
    for r in out.collect():
        assert max(r.resized_width, r.resized_height) <= max(256, min(r.width, r.height))
        assert r.resized_width <= r.width and r.resized_height <= r.height
        if max(r.width, r.height) <= 256:
            assert (r.resized_width, r.resized_height) == (r.width, r.height)
        else:
            # integer-floor aspect preservation
            assert r.resized_width == r.width * 256 // max(r.width, r.height)
            assert r.resized_height == r.height * 256 // max(r.width, r.height)


def test_connected_components_shapes(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    # long chain (the label-propagation worst case), a cycle, an isolated pair,
    # plus reversed/duplicate/self edges
    edges = (
        [(i, i + 1) for i in range(1, 40)]
        + [(60, 61), (61, 62), (62, 60), (70, 71), (71, 70), (70, 70)]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    comp = {r.node: r.component for r in connected_components(df).collect()}
    assert all(comp[i] == 1 for i in range(1, 41))
    assert comp[60] == comp[61] == comp[62] == 60
    assert comp[70] == comp[71] == 70

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 99)], ["doc_id"])
    pairs = spark.createDataFrame([(2, 1), (2, 3)], ["id_a", "id_b"])
    rows = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[1].component_id == rows[2].component_id == rows[3].component_id == 1
    assert rows[99].component_id == 99 and rows[99].is_canonical
    assert rows[1].is_canonical and not rows[2].is_canonical


def test_connected_components_converges_logarithmically(spark):
    """A 200-node chain must converge well under the diameter (199 rounds) —
    the property star contraction buys over label propagation."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["src", "dst"]
    )
    comp = {r.node: r.component for r in connected_components(chain, max_iter=12).collect()}
    assert len(comp) == 201
    assert set(comp.values()) == {0}


def test_incremental_agg_state_merge_invariance(spark):
    """merge(state(a), state(b)) must equal state(a ∪ b) for ANY split of the
    data, and re-merging daily states into coarser states must be lossless
    (closure) — the invariants that make incremental aggregate maintenance
    sound. Sums accumulate in decimal, so equality is exact, not approximate."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.incremental_agg import (
        aggregate_state,
        finalize,
        merge_states,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]

    def canon(df):
        return sorted(tuple(r) for r in finalize(df).collect())

    full = aggregate_state(li, keys, "l_extendedprice")

    # three-way split, merged left-to-right and right-to-left
    parts = [li.filter(F.col("l_orderkey") % 3 == i) for i in range(3)]
    states = [aggregate_state(p, keys, "l_extendedprice") for p in parts]
    ltr = merge_states(merge_states(states[0], states[1], keys), states[2], keys)
    rtl = merge_states(states[0], merge_states(states[1], states[2], keys), keys)

    assert canon(ltr) == canon(full)
    assert canon(rtl) == canon(full)
    # closure: merged state has the state schema (rolls up hierarchically)
    assert ltr.columns == full.columns


def test_morton_key_matches_reference_bit_interleave(spark):
    """The 2-column Morton key must equal the textbook bit-interleave
    (leading column x on odd bits, y on even bits) — checked against a
    pure-Python reference on edge values. The values span [0, 65535], so
    the 16-bit equal-width bucket rank is the identity."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.layout import (
        with_morton_key_nd,
    )

    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((y >> i) & 1) << (2 * i)
            z |= ((x >> i) & 1) << (2 * i + 1)
        return z

    vals = [0, 1, 2, 3, 255, 256, 21845, 43690, 65534, 65535]
    rows = [(x, y) for x in vals for y in vals]
    df = with_morton_key_nd(spark.createDataFrame(rows, "x int, y int"), ["x", "y"], key="z")
    for r in df.collect():
        assert r.z == ref(r.x, r.y), (r.x, r.y, r.z)


def test_zorder_layout_prunes_files_on_both_dimensions(spark, tmp_path):
    """The point of Z-order vs a linear sort: parquet footer min/max must
    prune files for predicates on EITHER clustered column. Measured from the
    actual written footers: for range predicates on the SECOND dimension, a
    linear sort on dim1 leaves ~every file a candidate while the Z-order
    layout eliminates most."""
    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.layout import (
        cluster_frame,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    cluster_frame(li, ["l_orderkey", "l_partkey"], num_files=16).write.mode(
        "overwrite"
    ).parquet(zpath)
    (
        li.repartitionByRange(16, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def footer_ranges(path, col):
        import glob

        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            out.append((min(los), max(his)))
        return out

    def candidate_fraction(ranges, bounds):
        lo, hi = bounds
        hits = sum(1 for flo, fhi in ranges if fhi >= lo and flo <= hi)
        return hits / len(ranges)

    stats = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_orderkey"), F.max("l_orderkey")
    ).collect()[0]
    pk_lo, pk_hi, ok_lo, ok_hi = stats

    # 5%-wide range probes on each dimension
    def probes(lo, hi):
        span = hi - lo
        return [
            (lo + int(f * span), lo + int((f + 0.05) * span))
            for f in (0.1, 0.3, 0.5, 0.7, 0.9)
        ]

    z_pk = footer_ranges(zpath, "l_partkey")
    l_pk = footer_ranges(lpath, "l_partkey")
    z_ok = footer_ranges(zpath, "l_orderkey")

    z_frac = sum(candidate_fraction(z_pk, p) for p in probes(pk_lo, pk_hi)) / 5
    l_frac = sum(candidate_fraction(l_pk, p) for p in probes(pk_lo, pk_hi)) / 5
    # linear sort on orderkey cannot prune partkey probes; zorder must
    assert l_frac > 0.9, l_frac
    assert z_frac < 0.6, z_frac
    # and zorder still prunes on the first dimension too
    zo_frac = sum(candidate_fraction(z_ok, p) for p in probes(ok_lo, ok_hi)) / 5
    assert zo_frac < 0.6, zo_frac

    # layout change must not change the data
    assert spark.read.parquet(zpath).count() == li.count()


def test_heavy_hitters_exact_vs_full_groupby(spark):
    """Misra-Gries + recount must return EXACTLY the > n/k items with exact
    counts, on a skewed distribution spread across many partitions (the
    no-false-negatives pigeonhole argument, exercised end-to-end)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.sketches import (
        heavy_hitters,
    )

    # zipf-ish: item i appears ~ 20000/i times; plus a long uniform tail
    rows = [(f"hot_{i}",) for i in range(1, 20) for _ in range(2000 // i)]
    rows += [(f"cold_{j}",) for j in range(5000)]
    df = spark.createDataFrame(rows, "item string").repartition(16)

    got = {r.item: r.freq for r in heavy_hitters(df, "item", k=40).collect()}
    n = len(rows)
    exact = {}
    for (v,) in rows:
        exact[v] = exact.get(v, 0) + 1
    want = {v: c for v, c in exact.items() if c > n / 40}
    assert got == want
    assert len(want) > 0  # the probe actually exercises the threshold


def test_spread_bits_x4_matches_reference():
    """_spread_bits_x4 must place bit i of the input at position 4*i (the
    interleave lane math behind 3/4-column cluster keys)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark import (
        get_spark,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.layout import (
        _spread_bits_x4,
    )

    def ref(x):
        return sum(((x >> i) & 1) << (4 * i) for i in range(16))

    spark = get_spark("tests")
    vals = [0, 1, 2, 3, 255, 256, 21845, 32767, 43690, 65535]
    df = spark.createDataFrame([(v,) for v in vals], "x int").withColumn(
        "z", _spread_bits_x4(F.col("x"))
    )
    for r in df.collect():
        assert r.z == ref(r.x), (r.x, r.z)


def test_cluster_frame_prunes_all_four_mixed_type_dims(spark, tmp_path):
    """cluster_frame over the fact's CLUSTER BY shape — two sha2-hex string
    surrogate keys plus two numerics — must leave parquet footers that prune
    probes on EVERY clustered dimension (the liquid-clustering contract),
    including min/max pruning on the RAW string columns (possible because
    string ranks are lexicographic byte prefixes, not hashes)."""
    import glob

    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.layout import (
        cluster_frame,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.sha2(F.col("l_partkey").cast("string"), 256).alias("part_key"),
        F.sha2(F.col("l_suppkey").cast("string"), 256).alias("supplier_key"),
        F.col("l_orderkey"),
        F.col("l_partkey"),
    )
    path = str(tmp_path / "zfact")
    cluster_frame(
        li, ["part_key", "supplier_key", "l_orderkey", "l_partkey"], num_files=128
    ).write.mode("overwrite").parquet(path)

    files = glob.glob(f"{path}/*.parquet")
    assert len(files) > 64

    def footer_ranges(col):
        out = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            st = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
            out.append((min(s.min for s in st), max(s.max for s in st)))
        return out

    def equality_candidate_fraction(col, probes_vals):
        ranges = footer_ranges(col)
        fracs = []
        for v in probes_vals:
            hits = sum(1 for lo, hi in ranges if lo <= v <= hi)
            fracs.append(hits / len(ranges))
        return sum(fracs) / len(fracs)

    # point probes on each dimension: every dim must prune most files
    # with 128 files the key range pins ~7 interleaved bits, shared across
    # 4 lanes — every dimension must prune (an unclustered dim sits at ~1.0),
    # the leading key (top lane) most strongly
    sample = li.limit(200).collect()
    fracs = {}
    for col in ("part_key", "supplier_key", "l_orderkey", "l_partkey"):
        vals = [getattr(r, col) for r in sample[::40]]
        fracs[col] = equality_candidate_fraction(col, vals)
    assert all(f < 0.75 for f in fracs.values()), fracs
    assert sum(fracs.values()) / 4 < 0.55, fracs

    # clustering must not change the data
    from conftest import SF_SMALL as _sf

    assert spark.read.parquet(path).count() == li.count()


def test_mv_cluster_by_writes_zorder_clustered_table(spark):
    """Pipeline.run must route a multi-key CLUSTER BY MV through the Morton
    clustered write: the materialized table's files prune point probes on the
    NON-leading cluster key (a leading-key-only linear layout cannot)."""
    import glob

    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.registry import (
        Pipeline,
    )

    p = Pipeline("zmv")

    @p.table(name="silver.zsrc")
    def zsrc(ctx):
        return (
            ctx.spark_session.range(20000)
            .withColumn("a", (F.col("id") * 7919 % 1000).cast("int"))
            .withColumn("b", (F.col("id") * 104729 % 1000).cast("int"))
            .drop("id")
        )

    p.materialized_view(
        "gold.zmv_pts",
        sql="SELECT a, b FROM LIVE.zsrc",
        cluster_by=("a", "b"),
    )
    # AQE sizes shuffle output by bytes; shrink the advisory size so this
    # tiny frame still materializes as multiple range files to measure
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    minsize = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
        p.run(spark)
        loc = (
            spark.sql("DESCRIBE EXTENDED `gold`.`zmv_pts`")
            .filter("col_name = 'Location'")
            .collect()[0][1]
        ).replace("file:", "")
        files = glob.glob(f"{loc}/*.parquet")
        assert len(files) > 1
        ranges = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("b")
            st = [
                md.row_group(rg).column(idx).statistics
                for rg in range(md.num_row_groups)
            ]
            ranges.append((min(s.min for s in st), max(s.max for s in st)))
        probes = [50, 250, 500, 750, 950]
        frac = sum(
            sum(1 for lo, hi in ranges if lo <= v <= hi) / len(ranges)
            for v in probes
        ) / len(probes)
        # a 1000-value uniform b: leading-key-only layout leaves ~every file
        # a candidate; the Morton layout must prune most
        assert frac < 0.7, frac
        assert spark.table("`gold`.`zmv_pts`").count() == 20000
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", minsize)
        spark.sql("DROP TABLE IF EXISTS `gold`.`zmv_pts`")
        spark.sql("DROP TABLE IF EXISTS `silver`.`zsrc`")


def test_benchmark_overlap_planted_contamination(spark):
    """A train doc copying a 6-word benchmark span must be flagged with the
    right distinct-overlap count; clean docs must not appear at all."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.textops import (
        benchmark_overlap,
    )

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, bench_text, "bench"),
        # copies words 1-6 of the benchmark: 6-word span → two distinct 5-grams
        (2, "xx alpha beta gamma delta epsilon zeta yy", "train"),
        (3, "totally unrelated words with no shared span at all", "train"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.doc_id: (r.n_overlap, r.contaminated)
        for r in benchmark_overlap(
            df, F.col("source") == "bench", n=5, min_overlap=2
        ).collect()
    }
    assert got == {2: (2, True)}


def test_repetition_signals_exact_fractions(spark):
    """Hand-computable duplicate fractions: 'a a a a' → 3/4 dup words;
    'a b a b' → bigrams [a b, b a, a b] → 1/3 dup bigrams."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.textops import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b a b"), (3, "x")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert got[1].dup_word_frac == 0.75
    assert abs(got[2].dup_bigram_frac - (1 - 2 / 3)) < 1e-12
    assert got[3].dup_word_frac == 0.0 and got[3].dup_bigram_frac == 0.0
    assert got[1].pass_repetition is True and got[3].pass_repetition is True


def test_source_rebalance_caps_and_determinism(spark):
    """Every source capped at 20 docs, ranks dense from 1, and the selection
    is deterministic (same result on re-run)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_source_rebalance,
    )

    a = q_source_rebalance(spark, SF_ORACLE).collect()
    b = q_source_rebalance(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_source = {}
    for r in a:
        per_source.setdefault(r.source, []).append(r.sample_rank)
    for src, ranks in per_source.items():
        assert len(ranks) <= 20, src
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src


def test_compact_parquet_bin_packs_small_files(spark, tmp_path):
    """64 tiny files → compaction rewrites to the byte-target file count
    with identical data; a second pass is a no-op."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.maintenance import (
        compact_parquet,
        parquet_file_stats,
    )

    path = str(tmp_path / "frag")
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    li.repartition(64).write.mode("overwrite").parquet(path)
    checksum = li.agg(F.sum(F.hash("l_orderkey", "l_partkey", "l_quantity"))).collect()[0][0]
    assert parquet_file_stats(spark, path)["n_files"] == 64

    report = compact_parquet(spark, path, target_bytes=1 << 20)
    assert report["before"]["n_files"] == 64
    assert report["after"]["n_files"] < 8
    got = spark.read.parquet(path)
    assert got.count() == li.count()
    assert (
        got.agg(F.sum(F.hash("l_orderkey", "l_partkey", "l_quantity"))).collect()[0][0]
        == checksum
    )
    # idempotent: already packed → skipped
    assert compact_parquet(spark, path, target_bytes=1 << 20)["skipped"]


def test_compact_parquet_zorder_rewrite_restores_clustering(spark, tmp_path):
    """OPTIMIZE ZORDER analog: a randomly-fragmented table rewritten with
    zorder_by gets per-file footer ranges that prune point probes on both
    keys (the post-write clustering path for streaming appends)."""
    import glob

    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.maintenance import (
        compact_parquet,
    )

    path = str(tmp_path / "zfrag")
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    li.repartition(32).write.mode("overwrite").parquet(path)

    compact_parquet(spark, path, target_bytes=4_000, zorder_by=("l_orderkey", "l_partkey"))
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) > 10

    def candidate_fraction(col, probes):
        ranges = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            st = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
            ranges.append((min(s.min for s in st), max(s.max for s in st)))
        return sum(
            sum(1 for lo, hi in ranges if lo <= v <= hi) / len(ranges) for v in probes
        ) / len(probes)

    rows = li.limit(100).collect()
    for col in ("l_orderkey", "l_partkey"):
        frac = candidate_fraction(col, [getattr(r, col) for r in rows[::20]])
        assert frac < 0.7, (col, frac)
    assert spark.read.parquet(path).count() == li.count()


def test_embedding_quantize_roundtrip_error_bound(spark):
    """int8 symmetric quantization must reconstruct every component within
    half a quantization step (scale/127/2, plus float slack)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_embedding_quantize,
    )

    emb = {r.vec_id: r.embedding for r in load_table(spark, SF_SMALL, "embeddings").collect()}
    rows = q_embedding_quantize(spark, SF_SMALL).collect()
    assert len(rows) == len(emb)
    for r in rows[:50]:
        scale = r.scale_ppm / 1e6
        codes = [int(c) for c in r.q_int8.split(",")]
        assert all(-127 <= c <= 127 for c in codes), r.vec_id
        step = scale / 127
        for c, x in zip(codes, emb[r.vec_id]):
            assert abs(c * step - x) <= step / 2 + 1e-6, (r.vec_id, c, x)


def test_corpus_rarity_orders_rare_above_common(spark):
    """A doc of corpus-unique words must outscore a doc of the corpus's
    most common words (scores are exact integers)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.textops import (  # noqa: F401
        word_ngrams_col,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_corpus_rarity,
    )

    scores = {r.doc_id: r.rarity_score for r in q_corpus_rarity(spark, SF_SMALL).collect()}
    assert len(scores) > 100
    assert all(isinstance(v, int) and v > 0 for v in scores.values())
    # the scores must actually discriminate (not a constant column)
    assert len(set(scores.values())) > 10


def test_running_total_two_phase_scan_matches_python_prefix(spark):
    """The distributed two-phase scan must equal a single-threaded exclusive
    prefix sum over the same ordering, across many range partitions."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.prefix import (
        with_running_total,
    )

    n = 20000
    df = (
        spark.range(n)
        .withColumn("k", (F.col("id") * 2654435761 % n).cast("long"))
        .withColumn("v", (F.col("id") % 97 + 1).cast("long"))
        .select("k", "v")
    )
    got = {
        r.k: r.running_total
        for r in with_running_total(df, ["k"], "v", out="running_total").collect()
    }
    rows = sorted((r.k, r.v) for r in df.collect())
    acc = 0
    for k, v in rows:
        assert got[k] == acc, (k, got[k], acc)
        acc += v
    assert len(got) == n


def test_segment_dedup_exactly_once_and_rewrite(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        segment_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # segments: "a b", "c d", "e f"
            (2, "a b x y"),          # "a b" duplicates doc 1's first segment
            (3, "c d c d"),          # "c d" duplicated within AND across docs
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs, seg_len=2).collect()}
    # every duplicated segment survives exactly once, at the lowest slot
    assert out[1]["clean_text"] == "a b c d e f"
    assert out[2]["clean_text"] == "x y"
    assert out[3]["clean_text"] == ""
    assert out[3]["n_segments"] == 2 and out[3]["n_kept"] == 0
    # corpus-wide: each distinct segment appears exactly once in rewrites
    all_segs = " ".join(v["clean_text"] for v in out.values()).split()
    pairs = [tuple(all_segs[i : i + 2]) for i in range(0, len(all_segs), 2)]
    assert len(pairs) == len(set(pairs))


def test_semantic_prune_planted_duplicates(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        semantic_prune,
    )

    # cluster 0: vecs 1,2 near-identical (planted dup) + 3 orthogonal;
    # cluster 1: vec 4 alone. Expect 2 pruned into 1's component.
    rows = [
        (1, 0, [1.0, 0.0, 0.0, 0.0]),
        (2, 0, [0.999, 0.01, 0.0, 0.0]),
        (3, 0, [0.0, 1.0, 0.0, 0.0]),
        (4, 1, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r["vec_id"]: r for r in semantic_prune(df, threshold=0.9).collect()}
    assert out[1]["is_kept"] and not out[2]["is_kept"]
    assert out[2]["component_id"] == 1
    assert out[3]["is_kept"] and out[4]["is_kept"]


def test_connected_components_paths_agree(spark):
    """The driver union-find fast path and the distributed star-contraction
    loop must produce identical (node, component) maps on the same graph."""
    import random

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(7)
    # chains, a cycle, a star, and random noise edges over 300 nodes
    edges = [(i, i + 1) for i in range(0, 50)]
    edges += [(100 + i, 100 + (i + 1) % 10) for i in range(10)]
    edges += [(200, 200 + i) for i in range(1, 20)]
    edges += [(rng.randrange(300), rng.randrange(300)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(df, small_graph_limit=0).collect()
    }
    assert fast == dist
    assert fast  # non-empty


def test_list_rank_known_chains(spark):
    """Pointer jumping on two hand-built chains (one length-5, one
    length-1, one length-3) returns exact predecessor counts, including
    a rounds budget from max_depth."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.listrank import (
        list_rank,
    )

    rows = [  # (id, pred): chain A 1<-2<-3<-4<-5; B: 10; C: 20<-21<-22
        (1, None), (2, 1), (3, 2), (4, 3), (5, 4),
        (10, None),
        (20, None), (21, 20), (22, 21),
    ]
    nodes = spark.createDataFrame(rows, "id long, pred long")
    got = {
        r["id"]: r["r"]
        for r in list_rank(nodes, "id", "pred", rank_col="r", max_depth=5).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 10: 0, 20: 0, 21: 1, 22: 2}


def test_pagerank_integer_known_graph(spark):
    """Star graph a<->b, a<->c, a<->d: the hub must outrank the spokes,
    all three spokes must tie exactly (integer arithmetic is symmetric),
    and total mass stays <= scale with zero dangling leakage here (every
    node has out-edges)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        pagerank_integer,
    )

    e = [(0, 1), (1, 0), (0, 2), (2, 0), (0, 3), (3, 0)]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank_integer(edges, iterations=4).collect()}
    assert got[1] == got[2] == got[3]
    assert got[0] > got[1]
    scale = 10**12
    assert sum(got.values()) <= scale
    # hand-rolled reference: same floor-division update rule in python
    n, base = 4, 15 * (10**12 // 4) // 100
    r = {v: scale // n for v in range(4)}
    deg = {0: 3, 1: 1, 2: 1, 3: 1}
    for _ in range(4):
        inc = {v: 0 for v in range(4)}
        for s, d in e:
            inc[d] += r[s] // deg[s]
        r = {v: base + 85 * inc[v] // 100 for v in range(4)}
    assert got == r


def test_count_triangles_hub_graph_degree_orientation(spark):
    """A 3000-degree hub plus planted triangles: id orientation would build
    ~4.5M wedges at the hub (the 'curse of the last reducer'); degree
    orientation points every hub edge INTO the hub, so the hub sources no
    wedges and the count still lands exactly — triangles touching the hub
    are counted at their fringe source vertex."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        count_triangles,
    )

    hub = 0
    edges = [(hub, i) for i in range(1, 3001)]  # star: no triangles yet
    # plant triangles ON the hub: (0, i), (0, i+1) exist; close (i, i+1)
    edges += [(1, 2), (3, 4), (5, 6)]
    # plant one triangle off-hub: 5001-5002-5003
    edges += [(5001, 5002), (5002, 5003), (5001, 5003)]
    df = spark.createDataFrame(edges, "a long, b long")
    row = count_triangles(df, "a", "b").collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["n_triangles"] == 4


def test_exact_kth_histogram_path_forced(spark):
    """Distributed selection with a tiny threshold so multiple histogram
    rounds actually run (the sf0.01 oracle check short-circuits into the
    sorted-collect fallback): k-th order statistics on a known sequence,
    including duplicates heavy enough to collapse a bin to one value."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.selection import (
        exact_kth,
        global_exact_median,
    )
    from pyspark.sql import functions as F

    df = spark.range(1, 50_001).select((F.col("id") * 1.5).alias("v"))
    # threshold 100 + 16 bins forces ~3 histogram rounds before the collect
    assert exact_kth(df, "v", 1, bins=16, threshold=100) == 1.5
    assert exact_kth(df, "v", 25_000, bins=16, threshold=100) == 25_000 * 1.5
    assert exact_kth(df, "v", 50_000, bins=16, threshold=100) == 50_000 * 1.5
    n, med = global_exact_median(df, "v", bins=16, threshold=100)
    assert n == 50_000 and med == (25_000 * 1.5 + 25_001 * 1.5) / 2
    # heavy duplication: half the rows are one value — the bin collapses
    dup = spark.range(1, 50_001).select(
        F.when(F.col("id") % 2 == 0, 7.0).otherwise(F.col("id") * 10.0).alias("v")
    )
    assert exact_kth(dup, "v", 12_500, bins=16, threshold=100) == 7.0


def test_exact_kth_nan_inf_and_degenerate_range(spark):
    """ADVICE-driven edge cases: NaN rows are excluded (they would poison
    min/max and every bucket expression), ±inf resolve as order-extremes
    via the pre-split, k out of range raises, and a range so tight the
    bin width underflows falls back to bounded value counts."""
    import math

    import pytest

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.selection import (
        exact_kth,
    )
    from pyspark.sql import functions as F

    nan, inf = float("nan"), float("inf")
    vals = [1.0, 2.0, nan, 3.0, nan, 4.0, 5.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    # 5 non-NaN rows; NaN must not crash nor count toward ranks
    assert exact_kth(df, "v", 3) == 3.0
    assert exact_kth(df, "v", 5) == 5.0
    with pytest.raises(ValueError):
        exact_kth(df, "v", 6)
    with pytest.raises(ValueError):
        exact_kth(df, "v", 0)
    with pytest.raises(ValueError):
        exact_kth(spark.createDataFrame([(nan,)], "v double"), "v", 1)
    # infinities are order-extremes: pre-split resolves or strips them;
    # tiny threshold forces the post-split histogram rounds to actually run
    infs = [-inf, -inf, *(float(i) for i in range(1, 2001)), inf]
    idf = spark.createDataFrame([(v,) for v in infs], "v double")
    assert exact_kth(idf, "v", 1, bins=16, threshold=50) == -inf
    assert exact_kth(idf, "v", 2, bins=16, threshold=50) == -inf
    assert exact_kth(idf, "v", 3, bins=16, threshold=50) == 1.0
    assert exact_kth(idf, "v", 1002, bins=16, threshold=50) == 1000.0
    assert exact_kth(idf, "v", 2003, bins=16, threshold=50) == inf
    # bin-width underflow: values one ulp apart with threshold 0 so the
    # sorted-collect shortcut can't hide the degenerate-range path
    lo = 1.0
    hi = math.nextafter(lo, 2.0)
    ddf = spark.createDataFrame([(lo,)] * 6 + [(hi,)] * 6, "v double")
    assert exact_kth(ddf, "v", 3, bins=16, threshold=0) == lo
    assert exact_kth(ddf, "v", 9, bins=16, threshold=0) == hi


def test_bellman_ford_known_graph(spark):
    """Diamond with a shortcut: 0->1 (w=10), 0->2 (w=1), 2->1 (w=2),
    1->3 (w=1), 2->3 (w=100). Shortest: d(1)=3 via 0->2->1 (beats the
    direct 10), d(2)=1, d(3)=4 via 0->2->1->3 (needs all 3 rounds to beat
    round-2's 0->2->3=101 and 0->1->3=11 — proves later rounds IMPROVE
    earlier answers, not just extend reach)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        bellman_ford,
    )

    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 1), (2, 3, 100)],
        "src long, dst long, w long",
    ).localCheckpoint()
    seeds = spark.createDataFrame([(0, 0)], "node long, dist long")
    got = {
        r["node"]: r["dist"]
        for r in bellman_ford(edges, seeds, rounds=3).collect()
    }
    assert got == {0: 0, 1: 3, 2: 1, 3: 4}


def test_bellman_ford_fewer_rounds_is_bounded_hop(spark):
    """rounds=2 must report the best ≤2-edge distance (d(3)=11 via
    0->1->3), NOT the true 3-edge optimum — the bound is a contract."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        bellman_ford,
    )

    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 1), (2, 3, 100)],
        "src long, dst long, w long",
    ).localCheckpoint()
    seeds = spark.createDataFrame([(0, 0)], "node long, dist long")
    got = {
        r["node"]: r["dist"]
        for r in bellman_ford(edges, seeds, rounds=2).collect()
    }
    assert got == {0: 0, 1: 3, 2: 1, 3: 11}


def test_bellman_ford_max_frontier_hint_paths_agree(spark):
    """`max_frontier` (the caller-known bound that skips the per-round
    frontier count() driver job — round-4 advice) must produce the same
    distances on BOTH sides of the broadcast gate: a tiny bound pins the
    broadcast path, a huge bound pins the shuffle path, and both must
    match the unhinted per-round-count result."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        bellman_ford,
    )

    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 1), (2, 3, 100)],
        "src long, dst long, w long",
    ).localCheckpoint()
    seeds = spark.createDataFrame([(0, 0)], "node long, dist long")
    expect = {
        r["node"]: r["dist"]
        for r in bellman_ford(edges, seeds, rounds=3).collect()
    }
    for bound in (4, 10**12):  # broadcast side / shuffle side of the gate
        got = {
            r["node"]: r["dist"]
            for r in bellman_ford(edges, seeds, rounds=3, max_frontier=bound).collect()
        }
        assert got == expect, f"max_frontier={bound}"


def test_lsh_bucket_cap_rejects_degenerate_values(spark):
    """bucket_cap < 2 must raise, not silently emit zero pairs (cap 0 made
    every bucket fail the small-path filter AND NULL'd the big path's chunk
    counts — empty output with no error)."""
    import pytest

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import banded_bucket_pairs

    empty = spark.createDataFrame(
        [], "band_id int, band_hash string, ms array<struct<id:long>>"
    )
    for bad in (0, -1, 1):
        with pytest.raises(ValueError):
            banded_bucket_pairs(empty, bucket_cap=bad)
    banded_bucket_pairs(empty, bucket_cap=None)
    banded_bucket_pairs(empty, bucket_cap=2)


def test_pq_topk_ignores_element_nulls_and_short_vectors(spark):
    """A NULL element inside a seed vector must not crash the driver-side
    codebook build, and NULL-element / short corpus vectors are excluded
    (not silently NULL'd through element_at)."""
    import random

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import pq_topk

    rng = random.Random(7)
    rows = []
    for i in range(40):
        v = [float(rng.randint(0, 9)) for _ in range(64)]
        if i == 0:
            v[3] = None  # poisoned seed candidate
        if i == 5:
            v = v[:10]  # short vector
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_topk(df, k=3, query_filter=None).collect()
    bad = {0, 5}
    assert out, "non-empty corpus must produce neighbours"
    assert not any(r.query_id in bad or r.nbr_id in bad for r in out)


def test_lsh_bucket_cap_output_identical_on_planted_megabucket(spark):
    """300 near-identical docs (50 shared tokens + 1 unique each) collapse
    into one mega-bucket per band; the capped triangle-block decomposition
    must emit EXACTLY the uncapped pair set, across cap values that do and
    don't divide the bucket size — including cap > size (pure small path)."""
    shared = " ".join(f"w{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(i, f"{shared} u{i}") for i in range(300)], ["doc_id", "text"]
    )

    def pairs(cap):
        return sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(
                docs, threshold=0.8, bucket_cap=cap
            ).collect()
        )

    baseline = pairs(None)
    # J = 50/52 ≈ 0.96 → banding recall ≈ 1 (a stray pair may miss every
    # band); the point here is capped == uncapped, not absolute recall.
    assert len(baseline) >= 0.999 * (300 * 299 // 2)
    for cap in (32, 77, 300, 4096):
        assert pairs(cap) == baseline, f"cap={cap} diverged"


def test_lsh_bucket_cap_default_no_change_on_testdata(spark):
    """On the real documents table (no mega-buckets) the default cap is
    byte-identical to the uncapped plan's output."""
    docs = load_table(spark, SF_SMALL, "documents")
    a = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.8, bucket_cap=None).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    )
    assert a == b and len(a) > 0


def test_bpe_merges_sennrich_scan_semantics(spark):
    """The replace-based merge must apply left-to-right non-overlapping
    (Sennrich BPE): 'aaaa' under merge (a,a) becomes [aa, aa], 'aaa'
    becomes [aa, a] — so round 2's top pair is (aa, aa), not (a, aa)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        _bpe_merges_frame,
    )

    docs = spark.createDataFrame(
        [("aaaa " * 10,), ("aaa " * 3,)], ["text"]
    )
    out = sorted(
        (r.round, r.sym_a, r.sym_b, r.pair_count)
        for r in _bpe_merges_frame(docs, rounds=3).collect()
    )
    # round 1: pairs per 'aaaa' = 3, per 'aaa' = 2 → (a,a) count 3+2=5
    # (vocab is DISTINCT words — frequency is word count in corpus: 'aaaa'
    # freq 10, 'aaa' freq 3 → 3*10 + 2*3 = 36)
    assert out[0] == (1, "a", "a", 36)
    # round 2: 'aaaa'→[aa,aa] (1 pair ×10), 'aaa'→[aa,a] → pair (aa,a) ×3
    assert out[1] == (2, "aa", "aa", 10)
    # round 3: 'aaaa'→[aaaa], 'aaa'→[aa,a] → top remaining pair (aa,a) ×3
    assert out[2] == (3, "aa", "a", 3)


def test_bpe_encode_base_case_and_trained(spark):
    """bpe_encode (round-7): with rounds=0 (no merges) every word encodes
    to its per-character base vocabulary; with trained merges the counts
    follow the Sennrich scan — and single-char words, skipped by TRAINING,
    are still ENCODED (1 symbol)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        _bpe_encode_frame,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa aaa"), (2, "ab"), (3, "a xyz")],
        "doc_id long, text string",
    )
    base = {r.doc_id: (r.n_words, r.n_tokens) for r in
            _bpe_encode_frame(docs, rounds=0).collect()}
    # zero merges: n_tokens == summed word lengths (chars)
    assert base == {1: (2, 7), 2: (1, 2), 3: (2, 4)}

    # rounds=2 on this corpus: round 1 merges (a,a) [count 5], round 2's
    # pairs all tie at 1 so the ASC tie-break picks (a,b)
    enc = {r.doc_id: (r.n_words, r.n_tokens) for r in
           _bpe_encode_frame(docs, rounds=2).collect()}
    # doc1: 'aaaa'→[aa,aa] (2), 'aaa'→[aa,a] (2); doc2: 'ab'→[ab] (1);
    # doc3: 'a' (1, untouched single char), 'xyz' (3, no learned merges)
    assert enc == {1: (2, 4), 2: (1, 1), 3: (2, 4)}

    # null text and empty corpus: no abort, empty/absent rows
    nulls = spark.createDataFrame([(9, None)], "doc_id long, text string")
    assert _bpe_encode_frame(nulls, rounds=2).count() == 0


def test_scan_pii_counts_and_redaction(spark):
    """scan_pii (round-7): multiple PII families in one text are each
    counted and redacted; NULL text yields NULL counts (missing ≠ clean);
    clean text counts zero and redacts to itself."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.textops import scan_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io or c.d+x@e-f.org, call 555-0199, from 10.0.0.1 and 192.168.1.255"),
            (2, "perfectly clean text"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scan_pii(df).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 1, 2)
    redacted = (
        "mail [EMAIL] or [EMAIL], call [PHONE], from [IPV4] and [IPV4]"
    )
    assert out[1].redacted_len == len(redacted)
    assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 0, 0)
    assert out[2].redacted_len == len("perfectly clean text")
    assert out[3].n_email is None and out[3].redacted_len is None


def test_containment_pairs_planted_quote(spark):
    """containment_pairs (round-7): a short doc quoted verbatim inside a
    long doc has containment 1.0 short→long (every winnow fingerprint of
    the short doc appears in the long one) but well under the threshold
    long→short; two unrelated docs emit nothing."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.textops import (
        containment_pairs,
    )

    short = " ".join(f"quote{i}" for i in range(12))
    long_doc = (
        " ".join(f"pre{i}" for i in range(40))
        + " " + short + " "
        + " ".join(f"post{i}" for i in range(40))
    )
    other = " ".join(f"noise{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    rows = {
        (r.id_a, r.id_b): r.containment_ppm
        for r in containment_pairs(df, threshold_ppm=600_000).collect()
    }
    assert rows.get((1, 2)) == 1_000_000
    assert (2, 1) not in rows  # directional: long is NOT inside short
    assert all(3 not in pair for pair in rows)


def test_bpe_merges_empty_and_short_corpus(spark):
    """Empty corpus and single-char words (no pairs) stop the loop early
    with the correct schema and zero rows."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        _bpe_merges_frame,
    )

    empty = spark.createDataFrame([], "text string")
    out = _bpe_merges_frame(empty, rounds=2)
    assert out.count() == 0
    assert out.columns == ["round", "sym_a", "sym_b", "pair_count"]
    shorts = spark.createDataFrame([("a b c",)], ["text"])
    assert _bpe_merges_frame(shorts, rounds=2).count() == 0


def test_pq_topk_recall_and_contract(spark):
    """PQ/ADC top-3 vs exact cosine top-3: quantized distances must find a
    non-trivial fraction of true neighbors on random vectors, every query
    gets exactly k ranked rows (rank 1..k, adc ascending), and the corpus
    never pairs a query with itself."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        pq_topk,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    flt = F.col("vec_id") < 50
    exact = {
        (r.query_id, r.nbr_id)
        for r in brute_force_topk(emb, k=3, query_filter=flt).collect()
    }
    rows = pq_topk(emb, k=3, query_filter=flt).collect()
    approx = {(r.query_id, r.nbr_id) for r in rows}
    per_q = {}
    for r in rows:
        assert r.query_id != r.nbr_id
        per_q.setdefault(r.query_id, []).append((r.rank, r.adc_micro))
    for q, rs in per_q.items():
        rs.sort()
        assert [rk for rk, _ in rs] == [1, 2, 3]
        assert [d for _, d in rs] == sorted(d for _, d in rs)
    # 8-byte codes on 64-dim random vectors: recall is modest by design,
    # but must beat noise (random top-3 of ~200 would match ~1.5%)
    recall = len(exact & approx) / len(exact)
    assert recall > 0.05, f"PQ recall suspiciously low: {recall:.2f}"


def test_pq_topk_trained_beats_literal_seeding(spark):
    """Lloyd-trained codebooks (round-7) must recall at least as many exact
    L2 top-3 neighbors as pq_topk's first-16 literal seeding — the whole
    point of training. Ground truth is exact squared-L2 via numpy; measured
    margins at sf0.001: literal 0.110, trained(2 rounds) 0.173."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        pq_topk,
        pq_topk_trained,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    exact = set()
    for qi in np.where(ids < 100)[0]:
        d = ((V - V[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        for j in np.lexsort((ids, d))[:3]:
            exact.add((int(ids[qi]), int(ids[j])))

    flt = F.col("vec_id") < 100
    lit = {
        (r.query_id, r.nbr_id)
        for r in pq_topk(emb, k=3, query_filter=flt).collect()
    }
    tr_rows = pq_topk_trained(emb, k=3, rounds=2, query_filter=flt).collect()
    tr = {(r.query_id, r.nbr_id) for r in tr_rows}
    r_lit = len(exact & lit) / len(exact)
    r_tr = len(exact & tr) / len(exact)
    assert r_tr >= r_lit, f"trained recall {r_tr:.3f} < literal {r_lit:.3f}"
    # same output contract as pq_topk: exactly k ranked rows per query,
    # ascending integer distance, no self-pairs
    per_q = {}
    for r in tr_rows:
        assert r.query_id != r.nbr_id
        per_q.setdefault(r.query_id, []).append((r.rank, r.adc_micro2))
    for rs in per_q.values():
        rs.sort()
        assert [rk for rk, _ in rs] == [1, 2, 3]
        assert [d for _, d in rs] == sorted(d for _, d in rs)


def test_ivfpq_topk_contract_and_cell_consistency(spark):
    """IVF-PQ (round-7): every emitted neighbor shares the query's coarse
    cell (candidates never cross cells), per-query ranks are a dense 1..n
    prefix with ascending ADC (n may be < k — a sparse cell is allowed),
    no self-pairs, and the neighbor set is a subset of what PQ-exhaustive
    would emit for pairs within the same cell."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivf_assign,
        ivfpq_topk,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    flt = F.col("vec_id") < 50
    rows = ivfpq_topk(emb, k=3, query_filter=flt).collect()
    assert rows
    cells = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(
            emb.filter(F.col("embedding").isNotNull()), "vec_id", "embedding", 16
        ).collect()
    }
    per_q = {}
    for r in rows:
        assert r.query_id != r.nbr_id
        assert cells[r.query_id] == cells[r.nbr_id]
        per_q.setdefault(r.query_id, []).append((r.rank, r.adc_micro))
    for rs in per_q.values():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, len(rs) + 1))
        assert [d for _, d in rs] == sorted(d for _, d in rs)


def test_srp_bucket_cap_output_identical_on_planted_megacluster(spark):
    """300 near-identical embeddings share every SRP band key (one
    mega-bucket per band); the shared triangle-block cap must emit EXACTLY
    the uncapped pair set."""
    import math

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        srp_lsh_dup_pairs,
    )

    base = [math.sin(d + 1) + 1.5 for d in range(64)]
    rows = []
    for i in range(300):
        v = list(base)
        v[i % 64] += 0.001 * ((i // 64) + 1)
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(cap):
        return sorted(
            (r.id_a, r.id_b, r.cosine)
            for r in srp_lsh_dup_pairs(
                emb, threshold=0.99, bucket_cap=cap
            ).collect()
        )

    baseline = pairs(None)
    assert len(baseline) == 300 * 299 // 2  # all near-identical: every pair
    for cap in (16, 77, 4096):
        assert pairs(cap) == baseline, f"cap={cap} diverged"

def _lpa_reference(edges, rounds):
    """Hand-rolled python replica of the deterministic LPA update rule:
    adopt the most frequent in-neighbor label, ties to the smallest."""
    nodes = sorted({s for s, _ in edges})
    lab = {v: v for v in nodes}
    for _ in range(rounds):
        cnt = {}
        for s, d in edges:
            cnt.setdefault(d, {}).setdefault(lab[s], 0)
            cnt[d][lab[s]] += 1
        lab = {
            v: min(l for l, c in cs.items() if c == max(cs.values()))
            for v, cs in cnt.items()
        }
    return lab


def test_label_propagation_two_planted_communities(spark):
    """Two 4-cliques joined by a single bridge edge: after 3 rounds every
    member of each clique must carry that clique's minimum node id, the
    bridge notwithstanding — and the whole labeling must equal the
    hand-rolled reference exactly (deterministic min-label tie rule)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        label_propagation,
    )

    a, b = [0, 1, 2, 3], [10, 11, 12, 13]
    half = [(x, y) for grp in (a, b) for x in grp for y in grp if x < y]
    half.append((3, 10))  # bridge
    e = half + [(y, x) for x, y in half]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(edges, rounds=3).collect()}
    assert got == _lpa_reference(e, 3)
    assert {got[v] for v in a} == {0}
    assert {got[v] for v in b} == {10}


def test_label_propagation_tie_breaks_to_min_label(spark):
    """Path 1-2-3 after one round: node 2 sees labels {1, 3} at equal
    count and must adopt 1 (the smallest), never 3."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        label_propagation,
    )

    half = [(1, 2), (2, 3)]
    e = half + [(y, x) for x, y in half]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(edges, rounds=1).collect()}
    assert got[2] == 1
    assert got == _lpa_reference(e, 1)


def test_label_propagation_zero_rounds_is_identity(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        label_propagation,
    )

    e = [(1, 2), (2, 1)]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(edges, rounds=0).collect()}
    assert got == {1: 1, 2: 2}


def test_label_propagation_negative_rounds_raises(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        label_propagation(edges, rounds=-1)

def test_brute_force_topk_exclude_group_mines_hard_negatives(spark):
    """Anchor 0 (label A) sits next to a near-identical same-label vector 1
    and a slightly-farther different-label vector 2: with
    exclude_group_col the same-label twin must be invisible and the
    different-label vector must rank first; without it the twin wins."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], "A"),
        (1, [0.999, 0.01, 0.0], "A"),   # same-label twin
        (2, [0.9, 0.1, 0.0], "B"),      # hard negative
        (3, [0.0, 1.0, 0.0], "B"),      # easy negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    hard = brute_force_topk(
        df, k=2, query_filter=F.col("vec_id") == 0,
        exclude_group_col="label",
    ).collect()
    assert [r["nbr_id"] for r in hard] == [2, 3]
    assert all(r["query_group"] == "A" and r["nbr_group"] == "B" for r in hard)
    plain = brute_force_topk(
        df, k=1, query_filter=F.col("vec_id") == 0,
    ).collect()
    assert plain[0]["nbr_id"] == 1

def test_ivf_assign_shared_centroids_match_own_seeding(spark):
    """ivfpq_topk rebuilds the coarse centroids from the collected PQ seed
    rows instead of re-scanning the corpus; the cell assignment must be
    IDENTICAL to ivf_assign's own first-n-by-id seeding (float32 values
    round-trip bit-exactly through Python doubles)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.similarity import (
        ivf_assign,
    )

    rows = [
        (i, [float(((i * 37 + d * 11) % 97) - 48) / 7.0 for d in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    own = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(df, n_centroids=4).collect()}
    seeds = df.orderBy("vec_id").limit(4).select("embedding").collect()
    cent = [(i + 1, [float(x) for x in seeds[i]["embedding"]]) for i in range(4)]
    cent_df = spark.createDataFrame(cent, "centroid_id int, centroid_vec array<double>")
    shared = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(df, n_centroids=4, centroids=cent_df).collect()
    }
    assert shared == own


def test_wav_codec_roundtrip_and_rejection():
    """The vendored WAV codec (round-9 audio modality): encode→parse
    round-trips to the closed-form parameters and exact energy for
    arbitrary ids; the chunk walk skips unknown (odd-length, padded)
    chunks per the RIFF spec; garbage, truncation, non-PCM formats, and
    wrong bit widths yield all-None instead of raising."""
    import struct

    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.audio import (
        _wav_params,
        _wav_samples,
        encode_wav,
        parse_wav,
    )

    for did in (0, 1, 2, 3, 6, 7, 41, 100, 9999, 123456):
        rate, ch, n = _wav_params(did)
        buf = encode_wav(did)
        assert len(buf) == 44 + n * ch * 2
        s = _wav_samples(did, n * ch).astype(np.int64)
        assert parse_wav(buf) == (rate, ch, n, int((s * s).sum()))

    # a LIST metadata chunk with an ODD body length (pad byte per RIFF)
    # between fmt and data must be skipped transparently
    buf = encode_wav(5)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    buf2 = buf[:fmt_end] + extra + buf[fmt_end:]
    buf2 = buf2[:4] + struct.pack("<I", len(buf2) - 8) + buf2[8:]
    assert parse_wav(buf2) == parse_wav(buf)

    good = encode_wav(17)
    for bad in (b"", b"RIFF", good[:40], good[: len(good) - 3],
                b"RIFF" + b"\x00" * 4 + b"WAVE" + b"\x00" * 40):
        assert parse_wav(bad) == (None, None, None, None)
    # non-PCM format code and 8-bit width are out of contract
    b3 = bytearray(good)
    struct.pack_into("<H", b3, 20, 3)  # fmt = IEEE float
    assert parse_wav(bytes(b3)) == (None, None, None, None)
    b4 = bytearray(good)
    struct.pack_into("<H", b4, 34, 8)  # bits = 8
    assert parse_wav(bytes(b4)) == (None, None, None, None)
    # data chunk appearing before fmt is malformed
    hdr, fmtc, datac = good[:12], good[12 : 12 + 24], good[12 + 24 :]
    swapped = hdr + datac + fmtc
    assert parse_wav(swapped) == (None, None, None, None)


def test_audio_window_energy_sums_to_decode_energy(spark):
    """Window boundary arithmetic invariant: per doc, the window energies
    must sum EXACTLY to the decode kernel's total energy and the window
    counts to channels*n_samples — any reduceat offset error breaks it."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.audio import (
        audio_window_energy,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_media_payload,
        decode_media_meta,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 50)
    att = attach_media_payload(docs, formats=("audio/wav",))
    dec = {
        r.doc_id: (r.energy, r.n_samples * r.channels)
        for r in decode_media_meta(att).collect()
    }
    agg = (
        audio_window_energy(att, window=128)
        .groupBy("doc_id")
        .agg(
            F.sum("energy").alias("e"),
            F.sum("n_in_window").alias("n"),
            F.max("n_in_window").alias("mx"),
        )
        .collect()
    )
    assert len(agg) == len(dec) > 0
    for r in agg:
        assert (r.e, r.n) == dec[r.doc_id]
        assert r.mx <= 128
    # partial tail windows must exist somewhere in this id range
    tails = (
        audio_window_energy(att, window=128)
        .filter(F.col("n_in_window") < 128)
        .count()
    )
    assert tails > 0


def test_y4m_codec_roundtrip_and_rejection():
    """The vendored Y4M codec (round-9 video modality): encode→parse
    round-trips the synthetic parameters and the exact total luma sum;
    the header tokenizer accepts reordered tokens and FRAME lines with
    parameters; garbage, truncation, non-420 colorspaces, and odd dims
    yield all-None instead of raising."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        _y4m_params,
        encode_y4m,
        parse_y4m,
    )

    for did in (0, 1, 2, 3, 5, 7, 29, 100, 999999):
        w, h, fps, n = _y4m_params(did)
        buf = encode_y4m(did)
        hdr = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420jpeg\n".encode()
        assert len(buf) == len(hdr) + n * (6 + w * h * 3 // 2)
        i = np.arange(w * h, dtype=np.int64)
        luma = sum(int(((did + 13 * f + 5 * i) % 256).sum()) for f in range(n))
        assert parse_y4m(buf) == (w, h, fps, 1, n, luma)

    buf = encode_y4m(3)
    w, h, fps, n = _y4m_params(3)
    # a FRAME line carrying its own parameters is legal Y4M
    i0 = buf.find(b"FRAME\n")
    assert parse_y4m(buf[:i0] + b"FRAME Ip\n" + buf[i0 + 6 :]) == parse_y4m(buf)
    # header token order is free
    reordered = buf.replace(
        b"YUV4MPEG2 W%d H%d" % (w, h), b"YUV4MPEG2 H%d W%d" % (h, w)
    )
    assert parse_y4m(reordered) == parse_y4m(buf)

    good = encode_y4m(11)
    for bad in (b"", b"YUV4MPEG", good[:20], good[: len(good) - 3],
                good.replace(b"C420jpeg", b"C444")):
        assert parse_y4m(bad) == (None,) * 6
    # odd dims are impossible under C420 subsampling
    assert parse_y4m(b"YUV4MPEG2 W3 H2 F24:1 C420\n" + b"FRAME\n" + b"\x00" * 9) == (None,) * 6


def test_video_frame_sample_matches_decode(spark):
    """Stride arithmetic invariant: sampled frames are exactly indices
    0,2,4,... of each doc's n_frames; per-frame luma_mean is the
    truncating integer mean; and summing ALL frames at stride=1 equals
    the decode kernel's total luma_sum."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_media_payload,
        decode_media_meta,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        sample_video_frames,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 50)
    att = attach_media_payload(docs, formats=("video/y4m",))
    dec = {
        r.doc_id: (r.n_frames, r.luma_sum, r.width * r.height)
        for r in decode_media_meta(att).collect()
    }
    samp = sample_video_frames(att, stride=2).collect()
    by_doc: dict = {}
    for r in samp:
        by_doc.setdefault(r.doc_id, []).append(r)
        assert r.luma_mean == r.luma_sum // dec[r.doc_id][2]
    for d, rows in by_doc.items():
        assert sorted(r.frame_index for r in rows) == list(
            range(0, dec[d][0], 2)
        )
    full = sample_video_frames(att, stride=1)
    agg = {r.doc_id: r.s for r in full.groupBy("doc_id").agg(F.sum("luma_sum").alias("s")).collect()}
    assert agg == {d: v[1] for d, v in dec.items()}


def test_media_decode_routes_all_four_modalities(spark):
    """The unified router (round-9): doc_id % 4 lands BMP/PNG/WAV/Y4M in
    one binary column; every row must decode to its own modality's fields
    with the OTHER modalities' fields NULL, and the per-modality values
    must equal the vendored parsers' outputs. The one corrupt-payload
    rule: a payload no codec parses keeps ``n_bytes`` and NULLs the rest;
    a NULL payload is an all-NULL row."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.audio import (
        parse_wav,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_media_payload,
        decode_media_meta,
        encode_bmp,
        parse_bmp,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        parse_y4m,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 40)
    out = {r.doc_id: r for r in decode_media_meta(attach_media_payload(docs)).collect()}
    assert len(out) == 40
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.audio import (
        encode_wav,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        encode_png,
        parse_png,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        encode_y4m,
    )

    for d, r in out.items():
        m = d % 4
        if m == 0:
            w, h, c, s = parse_bmp(encode_bmp(d))
            assert (r.format, r.width, r.height, r.channels, r.pixel_sum) == (
                "image/bmp", w, h, c, s,
            )
            assert r.sample_rate is None and r.energy is None and r.luma_sum is None
        elif m == 1:
            w, h, c, s = parse_png(encode_png(d))
            assert (r.format, r.width, r.height, r.channels, r.pixel_sum) == (
                "image/png", w, h, c, s,
            )
            assert r.n_samples is None and r.n_frames is None
        elif m == 2:
            rate, ch, ns, e = parse_wav(encode_wav(d))
            assert (r.format, r.sample_rate, r.channels, r.n_samples, r.energy) == (
                "audio/wav", rate, ch, ns, e,
            )
            assert r.width is None and r.pixel_sum is None and r.luma_sum is None
        else:
            w, h, num, den, nf, ls = parse_y4m(encode_y4m(d))
            assert (r.format, r.width, r.height, r.fps_num, r.n_frames, r.luma_sum) == (
                "video/y4m", w, h, num, nf, ls,
            )
            assert r.channels is None and r.energy is None

    # a corrupt payload keeps n_bytes and NULLs the rest, never an abort
    corrupt = spark.createDataFrame(
        [(1, bytearray(b"not a container")), (2, None)],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in decode_media_meta(corrupt).collect()}
    assert rows[2].format is None and rows[2].n_bytes is None
    assert rows[1].n_bytes == len(b"not a container")
    assert all(
        getattr(rows[1], f) is None
        for f in ("format", "width", "sample_rate", "n_frames", "luma_sum")
    )


def test_media_decode_router_fuzz_sniff_pass_parse_fail(spark):
    """ROUTER-level fuzz (round-10): payloads that PASS the magic-byte
    sniff of each of the four containers but then fail to parse —
    magic-only stubs, truncations at every structural boundary, and
    header/size-field corruptions — must land in the NULL-metadata error
    row (``n_bytes`` kept, every decoded field NULL), never throw. The per-codec rejection units cover the parsers in
    isolation; this pins the dispatch path itself: once the router has
    committed to a codec by magic, a downstream parse failure must still
    degrade to NULL metadata (the corpus-scale contract: some fraction
    of blobs is always corrupt)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.audio import (
        encode_wav,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        PNG_SIG,
        decode_media_meta,
        encode_bmp,
        encode_png,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        Y4M_MAGIC,
        encode_y4m,
    )

    valid = {
        "image/bmp": encode_bmp(7),
        "image/png": encode_png(7),
        "audio/wav": encode_wav(7),
        "video/y4m": encode_y4m(7),
    }
    magic_len = {
        "image/bmp": 2,
        "image/png": 8,
        "audio/wav": 12,  # RIFF....WAVE — the router checks both halves
        "video/y4m": len(Y4M_MAGIC),
    }
    cases: list[tuple[int, bytes | None, str]] = []
    did = 0
    for fmt, payload in valid.items():
        m = magic_len[fmt]
        # magic-only stub, then truncations from just-past-magic through
        # every structural region (header / chunk table / payload tail)
        cuts = sorted(
            {m, m + 1, m + 4, 30, 54, 60, len(payload) // 2, len(payload) - 1}
        )
        for cut in cuts:
            if m <= cut < len(payload):
                cases.append((did, payload[:cut], fmt))
                did += 1
        # corrupt one byte in each header/size field region (past the
        # magic so the sniff still routes to this codec)
        for pos in range(m, min(len(payload), m + 40), 4):
            mut = bytearray(payload)
            mut[pos] ^= 0xFF
            cases.append((did, bytes(mut), fmt))
            did += 1
    # sanity: PNG_SIG-routed truncation really is sniffed as PNG
    assert valid["image/png"][:8] == PNG_SIG

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p, _ in cases], "doc_id long, payload binary"
    )
    out = {r.doc_id: r for r in decode_media_meta(df).collect()}
    assert len(out) == len(cases)  # one row per payload — nothing threw
    meta_fields = (
        "width", "height", "channels", "pixel_sum", "sample_rate",
        "n_samples", "energy", "fps_num", "fps_den", "n_frames", "luma_sum",
    )
    n_null = 0
    for i, payload, fmt in cases:
        r = out[i]
        if r.format is None:
            # rejected: every decoded field NULL, not half-parsed; the
            # byte length is known and kept
            assert all(getattr(r, f) is None for f in meta_fields), (fmt, i)
            assert r.n_bytes == len(payload), (fmt, i)
            n_null += 1
        else:
            # a mutation that happens to still parse (e.g. a flipped
            # pixel byte) must at least be internally consistent
            assert r.format == fmt and r.n_bytes == len(payload), (fmt, i)
    # the fuzz set must actually exercise the reject path heavily
    assert n_null >= len(cases) // 2


def _kcore_reference(half_edges, k, rounds):
    """Hand-rolled synchronous k-core peeling over a symmetric edge list."""
    edges = set(half_edges) | {(b, a) for a, b in half_edges}
    alive = {a for a, _ in edges}
    out = {}
    for r in range(1, rounds + 1):
        deg = {n: 0 for n in alive}
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] += 1
        dead = {n for n in alive if deg[n] < k}
        for n in dead:
            out[n] = (r, deg[n])
        alive -= dead
        edges = {(a, b) for a, b in edges if a in alive and b in alive}
        if r == rounds:
            for n in alive:
                out[n] = (0, deg[n])
    return out


def test_kcore_peel_planted_core_vs_reference(spark):
    """A 5-clique (degree 4 inside) with pendant chains hanging off it,
    peeled at k=3: the chains must peel outside-in round by round, the
    clique must survive with degree 4, and the full (peeled_round,
    degree) table must equal the hand-rolled synchronous reference."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    clique = [0, 1, 2, 3, 4]
    half = [(x, y) for x in clique for y in clique if x < y]
    half += [(4, 10), (10, 11), (11, 12)]  # pendant chain
    e = half + [(y, x) for x, y in half]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=3, rounds=3).collect()
    }
    assert got == _kcore_reference(half, 3, 3)
    # the whole chain peels in round 1 (every chain degree < 3), after
    # which node 4 loses its pendant: survivors all report FINAL degree 4
    assert all(got[v] == (0, 4) for v in clique)
    assert {got[v][0] for v in (10, 11, 12)} == {1}
    # at k=2 the same chain cascades outside-in instead: 12 (deg 1) in
    # round 1, 11 in round 2, 10 in round 3
    got2 = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert got2 == _kcore_reference(half, 2, 3)
    assert got2[12][0] == 1 and got2[11][0] == 2 and got2[10][0] == 3


def test_kcore_peel_simultaneous_not_cascading_within_round(spark):
    """Path 1-2-3-4 at k=2, ONE round: the endpoints (degree 1) peel, but
    2 and 3 must survive round 1 with their PRE-peel degree 2 — a
    within-round cascade (recomputing degrees after each removal) would
    wrongly peel them in the same round."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    half = [(1, 2), (2, 3), (3, 4)]
    e = half + [(y, x) for x, y in half]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=1).collect()
    }
    assert got == {1: (1, 1), 4: (1, 1), 2: (0, 2), 3: (0, 2)}
    assert got == _kcore_reference(half, 2, 1)


def test_kcore_peel_invalid_args_raise(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        kcore_peel(edges, k=-1)
    with pytest.raises(ValueError):
        kcore_peel(edges, k=2, rounds=0)


def test_kcore_peel_nonsymmetric_mode_keeps_dst_only_nodes(spark):
    """symmetric=False on a directed (non-symmetrized) edge list: nodes
    appearing only as dst must surface with degree 0 (peeled round 1 for
    k>=1) instead of silently vanishing — the failure mode the default
    symmetric contract would hit on this input."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=1, rounds=2, symmetric=False).collect()
    }
    # node 3 is dst-only: degree 0, peeled round 1. Node 2 then loses its
    # (2,3) edge and peels in round 2; node 1 survives with degree 1.
    assert got == {1: (0, 1), 2: (2, 0), 3: (1, 0)}
    # the symmetric default on the same input drops node 3 entirely (the
    # documented contract violation this parameter exists to avoid)
    sym = {
        r["node"]
        for r in kcore_peel(edges, k=1, rounds=2).collect()
    }
    assert 3 not in sym


def test_kcore_peel_fixpoint_cap_falls_back_to_fixed_semantics(spark):
    """until_fixpoint=True whose cap fires BEFORE convergence must equal
    the fixed-rounds output (survivors = "not yet peeled" approximation):
    a 6-chain at k=2 peels endpoints inward one layer per round, so
    rounds=2 under the cap is still mid-peel (3 and 4 wrongly "survive")
    and both modes must agree on that approximation."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    half = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    e = half + [(y, x) for x, y in half]
    edges = spark.createDataFrame(e, "src long, dst long")
    fixed = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=2).collect()
    }
    capped = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=2, until_fixpoint=True).collect()
    }
    assert capped == fixed
    # the capped approximation leaves 3 and 4 as unpeeled survivors
    assert capped[3][0] == 0 and capped[4][0] == 0
    # and with the cap lifted, fixpoint mode peels the whole chain
    converged = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=10, until_fixpoint=True).collect()
    }
    assert all(pr > 0 for pr, _ in converged.values())


def test_kcore_peel_k_zero_keeps_everything(spark):
    """k=0 peels nothing: every node survives with its true degree."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    half = [(1, 2), (2, 3)]
    e = half + [(y, x) for x, y in half]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {
        r["node"]: (r["peeled_round"], r["degree"])
        for r in kcore_peel(edges, k=0, rounds=2).collect()
    }
    assert got == {1: (0, 1), 2: (0, 2), 3: (0, 1)}


def test_cms_never_undercounts_and_unseen_key_reads_zero_or_collision(spark):
    """The count-min one-sided error contract: for EVERY key in the
    stream, cms_est >= exact count; an unseen key's estimate is >= 0 and
    only ever positive through collisions. Also pins the bounded-state
    claim: the cell table has <= depth*width rows."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    rows = [(f"k{i % 37}",) for i in range(3000)]
    df = spark.createDataFrame(rows, "item string")
    sketch = cms_sketch(df, "item", depth=4, width=256)
    assert sketch.cells.count() <= 4 * 256
    exact = {r.item: r.cnt for r in df.groupBy("item").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    cand = spark.createDataFrame(
        [(k,) for k in exact] + [("never-seen-key",)], "item string"
    )
    est = {r.item: r.cms_est for r in cms_estimate(cand, sketch, "item").collect()}
    for k, n in exact.items():
        assert est[k] >= n, (k, est[k], n)
    assert est["never-seen-key"] >= 0
    # with 37 keys in 4x256 cells, collisions are rare: estimates exact
    assert sum(1 for k, n in exact.items() if est[k] == n) >= 35


def test_cms_sketches_merge_by_cell_sum(spark):
    """Mergeability — THE 100-TB property: summing two shards' cell
    tables yields exactly the sketch of the union stream, so per-shard
    sketches combine in one tiny aggregate."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.sketches import (
        CountMinSketch,
        cms_estimate,
        cms_sketch,
    )

    a = spark.createDataFrame([(f"k{i % 11}",) for i in range(500)], "item string")
    b = spark.createDataFrame([(f"k{i % 7}",) for i in range(300)], "item string")
    sa, sb = cms_sketch(a, "item", width=128), cms_sketch(b, "item", width=128)
    merged_cells = (
        sa.cells.unionByName(sb.cells)
        .groupBy("cms_row", "cms_cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = CountMinSketch(cells=merged_cells, depth=4, width=128)
    whole = cms_sketch(a.unionByName(b), "item", width=128)
    mc = {(r.cms_row, r.cms_cell): r.cnt for r in merged.cells.collect()}
    wc = {(r.cms_row, r.cms_cell): r.cnt for r in whole.cells.collect()}
    assert mc == wc
    cand = spark.createDataFrame([("k0",), ("k5",), ("k9",)], "item string")
    em = {r.item: r.cms_est for r in cms_estimate(cand, merged, "item").collect()}
    ew = {r.item: r.cms_est for r in cms_estimate(cand, whole, "item").collect()}
    assert em == ew


def test_cms_invalid_params_and_null_keys(spark):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.sketches import (
        cms_sketch,
    )

    df = spark.createDataFrame([("a",), (None,)], "item string")
    with pytest.raises(ValueError):
        cms_sketch(df, "item", depth=0)
    with pytest.raises(ValueError):
        cms_sketch(df, "item", depth=32)
    with pytest.raises(ValueError):
        cms_sketch(df, "item", width=8)
    # NULL keys are skipped: the single non-null key fills exactly
    # depth cells with count 1
    cells = cms_sketch(df, "item", depth=3, width=64).cells.collect()
    assert len(cells) == 3 and all(r.cnt == 1 for r in cells)


def test_bloom_no_false_negatives_and_null_fails(spark):
    """Every build key must pass its own bloom (no false negatives —
    the contract pruning correctness rests on); NULL probe keys fail."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.bloom import (
        bloom_build_positions,
        bloom_prune,
    )

    build = spark.createDataFrame([(i,) for i in range(50)], "k long")
    bloom = bloom_build_positions(build, "k", m_bits=1024, k_hashes=3)
    assert (bloom.m_bits, bloom.k_hashes) == (1024, 3)
    assert 0 < len(bloom.positions) <= 150
    assert all(0 <= p < 1024 for p in bloom.positions)
    probe = spark.createDataFrame(
        [(i,) for i in range(50)] + [(None,)], "k long"
    )
    got = {
        r["k"]: r["passes_bloom"]
        for r in bloom_prune(probe, bloom, "k").collect()
    }
    assert all(got[i] for i in range(50))
    assert got[None] is False


def test_bloom_bit63_word_wraparound(spark):
    """A hand-planted position on bit 63 must set the sign bit of its
    int64 word literal and still test positive (the unsigned→signed
    wrap), and positions in other words must not leak across words."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.bloom import (
        bloom_prune,
    )

    # find probe keys whose k=1 position lands on bit 63 / elsewhere
    probe = spark.createDataFrame([(i,) for i in range(3000)], "k long")
    import hashlib

    def p1(key, m):
        return int(hashlib.md5(f"{key}#1".encode()).hexdigest()[:15], 16) % m

    hit63 = next(i for i in range(3000) if p1(i, 128) == 63)
    miss = next(i for i in range(3000) if p1(i, 128) == 62)
    got = {
        r["k"]: r["passes_bloom"]
        for r in bloom_prune(
            probe.filter(F.col("k").isin([hit63, miss])),
            [63],
            "k",
            m_bits=128,
            k_hashes=1,
        ).collect()
    }
    assert got[hit63] is True and got[miss] is False


def test_bloom_fp_rate_sane_and_invalid_args(spark):
    """With 50 keys in 4096 bits the FP rate on 500 disjoint probes must
    be far below saturation; invalid parameters raise."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.bloom import (
        MAX_LITERAL_BITS,
        bloom_build_positions,
        bloom_prune,
    )

    build = spark.createDataFrame([(i,) for i in range(50)], "k long")
    bloom = bloom_build_positions(build, "k", m_bits=4096, k_hashes=2)
    probe = spark.createDataFrame([(i,) for i in range(1000, 1500)], "k long")
    n_fp = (
        bloom_prune(probe, bloom, "k")
        .filter(F.col("passes_bloom"))
        .count()
    )
    assert n_fp < 25  # expected ~0.06% of 500; generous bound
    # redundant overrides are allowed only when they MATCH the build
    bloom_prune(probe, bloom, "k", m_bits=4096, k_hashes=2)
    with pytest.raises(ValueError):
        bloom_build_positions(build, "k", m_bits=100)  # not multiple of 64
    with pytest.raises(ValueError):
        bloom_build_positions(build, "k", m_bits=MAX_LITERAL_BITS * 2)
    with pytest.raises(ValueError):
        bloom_build_positions(build, "k", m_bits=4096, k_hashes=0)
    with pytest.raises(ValueError):
        bloom_prune(probe, [4096], "k", m_bits=4096)  # position out of range
    # the build/probe lockstep contract is now ENFORCED, not documented:
    # a probe-side k_hashes or m_bits differing from the build's raises
    # instead of silently manufacturing false negatives
    with pytest.raises(ValueError, match="k_hashes"):
        bloom_prune(probe, bloom, "k", k_hashes=3)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_prune(probe, bloom, "k", m_bits=8192)


def test_video_scene_cuts_planted_cut_and_corrupt(spark):
    """A hand-assembled 3-frame Y4M — frame 0 ≈ frame 1 (SAD w·h, every
    pixel off by one) and frame 2 a hard cut (|Δ|=200 everywhere) — must
    yield exactly two pair rows with the planted SAD/MAD and only the
    second flagged; corrupt payloads emit zero rows."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        video_scene_cuts,
    )

    w, h = 8, 6
    wh, c = w * h, (w // 2) * (h // 2)

    def frame(yval):
        return (
            b"FRAME\n"
            + bytes([yval]) * wh
            + bytes([10]) * c
            + bytes([20]) * c
        )

    buf = (
        f"YUV4MPEG2 W{w} H{h} F24:1 Ip A1:1 C420jpeg\n".encode()
        + frame(50)
        + frame(51)
        + frame(251)
    )
    df = spark.createDataFrame(
        [(1, bytearray(buf)), (2, bytearray(b"not a video"))],
        "doc_id long, payload binary",
    )
    rows = sorted(
        video_scene_cuts(df, threshold_milli=24700).collect(),
        key=lambda r: r.frame_a,
    )
    assert [r.doc_id for r in rows] == [1, 1]
    assert rows[0].frame_a == 0 and rows[0].sad == wh
    assert rows[0].mad_milli == 1000 and rows[0].is_cut is False
    assert rows[1].frame_a == 1 and rows[1].sad == 200 * wh
    assert rows[1].mad_milli == 200000 and rows[1].is_cut is True


def test_video_scene_cuts_matches_plane_formula(spark):
    """On the synthetic corpus the SAD of pair (f, f+1) equals the
    closed-form 13·|{v≤242}| + 243·|{v≥243}| over frame f's luma values
    — the identity the DuckDB oracle relies on."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_media_payload,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.video import (
        _y4m_params,
        video_scene_cuts,
    )

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 40)
    payloads = attach_media_payload(docs, formats=("video/y4m",))
    got = {
        (r.doc_id, r.frame_a): r.sad
        for r in video_scene_cuts(payloads).collect()
    }
    for did in range(40):
        w, h, _, n = _y4m_params(did)
        i = np.arange(w * h, dtype=np.int64)
        for f in range(n - 1):
            v = (did + 13 * f + 5 * i) % 256
            expect = int(np.where(v <= 242, 13, 243).sum())
            assert got[(did, f)] == expect


def test_embedding_pca_power_invariants_on_corpus(spark):
    """On the (near-isotropic) synthetic corpus the result is still a
    pinned 3-round fixpoint: 64 dims, normalization lands max |component|
    exactly on the 1e6 unit."""
    import numpy as np

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_embedding_pca_power,
    )

    rows = q_embedding_pca_power(spark, SF_SMALL).collect()
    assert len(rows) == 64
    assert sorted(r.dim for r in rows) == list(range(1, 65))
    assert max(abs(r.v_micro) for r in rows) == 1_000_000


def test_embedding_pca_power_converges_on_planted_direction(spark, tmp_path):
    """With a genuine spectral gap (one planted dominant direction over
    small noise), 3 integer power-iteration rounds must recover the true
    top right-singular vector: |cos| > 0.99 against numpy SVD. The
    corpus-level oracle pins exactness; this pins CONVERGENCE."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_embedding_pca_power,
    )

    rng = np.random.default_rng(7)
    d = rng.normal(size=64)
    d /= np.linalg.norm(d)
    t = rng.normal(scale=3.0, size=(200, 1))
    x = (t * d + rng.normal(scale=0.2, size=(200, 64))).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(200), pa.int64()),
            "embedding": pa.array(
                [list(map(float, row)) for row in x], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * 200, pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    rows = q_embedding_pca_power(spark, str(tmp_path)).collect()
    v = np.array(
        [r.v_micro for r in sorted(rows, key=lambda r: r.dim)], dtype=np.float64
    )
    xq = np.floor(x.astype(np.float64) * 1000)
    _, _, vt = np.linalg.svd(xq, full_matrices=False)
    u = vt[0]
    cos = abs(float(v @ u)) / (np.linalg.norm(v) * np.linalg.norm(u))
    assert cos > 0.99, cos


def test_preference_pairs_survives_wide_vocabulary_doc(spark, tmp_path):
    """Regression (round-9 review): 1e6 × size() in 32-bit INT overflows
    at ≥2148 distinct tokens — ANSI Spark threw, non-ANSI silently
    wrapped while the oracle's BIGINT stayed exact. A 2500-distinct-token
    document must score exactly 1_000_000 ppm (all tokens distinct) and
    win its stratum."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        q_preference_pairs,
    )

    wide = " ".join(f"tok{i}" for i in range(2500))
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array([wide, "same same same same"], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["web", "web"], pa.string()),
            "n_chars": pa.array([len(wide), 19], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = q_preference_pairs(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.chosen_doc_id == 1 and r.chosen_ppm == 1_000_000
    assert r.rejected_doc_id == 2 and r.rejected_ppm == 250_000
    assert r.margin_ppm == 750_000
