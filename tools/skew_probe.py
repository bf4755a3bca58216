"""Skew probe: hostile-key stress for the grouping/window/join operators.

Builds a skewed twin of the sf0.1 events/lineitem tables in which HALF of
all rows share one hot key (user_id 0 / one hot orderkey), then times the
operators whose cost concentrates on the hottest key. The point is to show
which formulations stay flat under skew (hash aggregates with map-side
partial combine, AQE skew-split joins, salted joins) and what the
known-pathological shape costs (a per-key window sort funnels the hot
group through one task) — with the engine's skew-safe twin measured
side-by-side.

Usage: python tools/skew_probe.py   (prints a markdown table)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark import (  # noqa: E402
    get_spark,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (  # noqa: E402
    SPARK_QUERIES,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (  # noqa: E402
    load_table,
)

SRC = "/tmp/spark_graft_scale/sf1"  # the 10x replica (gen_scale_data.py)
OUT = "/tmp/spark_graft_scale/skew"

PROBE = [
    "gold_fact_lineitem",  # flagship star fact: hot orderkey hits the big
    #                        SMJ chain AND the order_totals hash aggregate
    #                        (AQE skew-split + map-side combine must hold)
    "window_dedup",       # per-key window sort: the pathological shape
    "window_dedup_agg",   # skew-safe twin: map-side-combined hash agg
    "order_totals",       # hash agg on the hot lineitem key
    "grouped_median",     # per-key window over 5 event types (already coarse)
    "sessionize_batch",
    "sessionize_batch_split",  # skew-safe twin: (user, time-range) pre-split
    #                            + boundary stitch over session summaries
    "date_expr_join",
    "skew_salted_join",   # explicit salting
    "tpch_q18",           # HAVING over the hot order
]


def build() -> None:
    spark = get_spark("skew-gen")
    os.makedirs(OUT, exist_ok=True)
    ev = load_table(spark, SRC, "events")
    # half of all events land on user 0 (deterministic by event_id parity)
    ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    ).write.mode("overwrite").parquet(os.path.join(OUT, "events.parquet"))
    li = load_table(spark, SRC, "lineitem")
    hot = li.agg(F.min("l_orderkey")).first()[0]
    li.withColumn(
        "l_orderkey",
        F.when(F.col("l_linenumber") % 2 == 0, F.lit(hot)).otherwise(
            F.col("l_orderkey")
        ),
    ).write.mode("overwrite").parquet(os.path.join(OUT, "lineitem.parquet"))
    for tbl in ("region", "nation", "customer", "supplier", "part", "orders",
                "documents", "embeddings"):
        load_table(spark, SRC, tbl).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{tbl}.parquet")
        )


from bench import time_noop  # noqa: E402


def _hub_edges(spark, hub_deg: int, chain: int = 500_000):
    """Deterministic hostile graph: one hub adjacent to ``hub_deg`` nodes
    plus a ``chain``-node path as sparse background (so degree ranking has
    a fringe to orient toward)."""
    star = spark.range(1, hub_deg + 1).select(
        F.lit(0).alias("a"), F.col("id").alias("b")
    )
    path = spark.range(hub_deg + 1, hub_deg + chain).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    return star.union(path)


def _triangles_id_oriented(edges):
    """The textbook id-oriented wedge join — O(hub_degree²) wedges at the
    hub; kept here ONLY as the pathological comparison point."""
    e = edges.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
    e1 = e.select(F.col("a").alias("u"), F.col("b").alias("x"))
    e2 = e.select(F.col("a").alias("u"), F.col("b").alias("y"))
    wedges = e1.join(e2, "u").where(F.col("x") < F.col("y"))
    return wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    ).count()


def probe_graph_hub(spark) -> None:
    """Second section: the graph family under a hub vertex. Degree
    orientation (operators/graph.py::count_triangles) must stay flat as
    the hub grows 100×, while id orientation grows with hub², and
    PageRank's hub in-sum must stay flat thanks to map-side combine."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        count_triangles,
        pagerank_integer,
    )

    print()
    print("## Graph-family hub probe (synthetic star + path background)")
    print()
    print("| case | hub degree | wall (s) |")
    print("|---|---|---|")
    for deg in (5_000, 500_000):
        ed = _hub_edges(spark, deg).localCheckpoint()
        t0 = time.perf_counter()
        count_triangles(ed, "a", "b").collect()
        print(f"| triangles degree-oriented | {deg} | {time.perf_counter()-t0:.2f} |", flush=True)
        if deg <= 5_000:  # 12.5M wedges — feasible; 500k would be 1.25e11
            t0 = time.perf_counter()
            _triangles_id_oriented(ed)
            print(f"| triangles id-oriented (pathological) | {deg} | {time.perf_counter()-t0:.2f} |", flush=True)
        both = ed.union(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        t0 = time.perf_counter()
        pagerank_integer(both, "a", "b", iterations=3).count()
        print(f"| pagerank 3 iters (hub in-degree {deg}) | {deg} | {time.perf_counter()-t0:.2f} |", flush=True)
        # LPA at the hub: round-1 messages to the hub carry ``deg`` DISTINCT
        # labels, so the (node, label) count agg hashes them across
        # partitions (composite key spreads the hot node) and the per-node
        # argmax partial-aggregates to one candidate per partition — both
        # halves of the two-aggregate form must stay flat as the hub
        # grows 100×.
        from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
            label_propagation,
        )

        t0 = time.perf_counter()
        # `both` = ed ∪ reversed(ed): symmetric, every node appears as a
        # source — satisfies label_propagation's documented contract.
        label_propagation(both.localCheckpoint(), rounds=3, src="a", dst="b").count()
        print(f"| label propagation 3 rounds (hub in-degree {deg}) | {deg} | {time.perf_counter()-t0:.2f} |", flush=True)
        # Bellman-Ford seeded AT the hub: round 1 relaxes all hub edges in
        # one join — the min-combine's map-side partial must absorb the
        # fan-out (flat as the hub grows 100×, like the pagerank in-sum)
        from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
            bellman_ford,
        )

        w_edges = both.select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            (F.lit(1) + (F.col("a") + F.col("b")) % 7).alias("w"),
        ).localCheckpoint()
        seeds = spark.range(1).select(
            F.lit(0).cast("long").alias("node"), F.lit(0).cast("long").alias("dist")
        )
        t0 = time.perf_counter()
        bellman_ford(w_edges, seeds, rounds=3).count()
        print(f"| bellman-ford 3 rounds (hub-seeded) | {deg} | {time.perf_counter()-t0:.2f} |", flush=True)


def probe_corpus_hot_fingerprint(spark) -> None:
    """Third section: the corpus dedup-survivor decision under a dup-heavy
    corpus (the realistic hostile input for dedup — one boilerplate page
    can be 50% of a web shard). Synthetic isolation of the decision
    itself: 20M (fingerprint, quality, id) rows with HALF on one hot
    fingerprint, so the text-analysis cost shared by both formulations
    doesn't mute the difference. The MV's ROW_NUMBER window funnels the
    hot group through one task's sort; the `corpus_survivors_agg` twin's
    max_by collapses it to one partial per input partition map-side."""
    from pyspark.sql import Window

    print()
    print("## Corpus survivor dedup under a 50%-hot fingerprint (20M rows)")
    print()
    print("| formulation | wall (s) |")
    print("|---|---|")
    n = 20_000_000
    base = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, F.lit("HOT"))
            .otherwise(
                F.concat(F.lit("fp_"), (F.col("id") % 1_000_000).cast("string"))
            )
            .alias("fingerprint"),
            ((F.col("id") * 2654435761) % 1000000).cast("double").alias(
                "quality_score"
            ),
        )
        .localCheckpoint()
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    win = (
        base.select(
            "fingerprint",
            "doc_id",
            "quality_score",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("fingerprint")).alias(
                "n_copies"
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    t0 = time.perf_counter()
    win.write.format("noop").mode("overwrite").save()
    print(f"| ROW_NUMBER window (the MV idiom) | {time.perf_counter()-t0:.2f} |", flush=True)
    agg = base.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.expr(
            "max_by(named_struct('doc_id', doc_id, 'quality_score', quality_score),"
            " named_struct('q', quality_score, 'neg_id', -doc_id))"
        ).alias("best"),
    )
    t0 = time.perf_counter()
    agg.write.format("noop").mode("overwrite").save()
    print(f"| max_by aggregation (corpus_survivors_agg twin) | {time.perf_counter()-t0:.2f} |", flush=True)


def probe_lsh_megabucket(spark) -> None:
    """Fourth section: banded LSH under a planted mega-bucket (the
    boilerplate-heavy-crawl shape — thousands of near-identical docs whose
    signatures share every band hash). Uncapped, each band's O(m²) pair
    stream runs in ONE task; the bucket_cap triangle-block decomposition
    spreads it across ⌈m/cap⌉² independent blocks with identical output."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    print()
    print("## Banded LSH under a planted mega-bucket (4096 near-identical docs)")
    print()
    print("| formulation | pairs | wall (s) |")
    print("|---|---|---|")
    m = 4096
    shared = " ".join(f"w{i}" for i in range(50))
    docs = (
        spark.range(m)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(shared + " u"), F.col("id").cast("string")).alias(
                "text"
            ),
        )
        .localCheckpoint()
    )
    for label, cap in (("uncapped (single-task m² stream)", None),
                       ("bucket_cap=512 (triangle blocks)", 512)):
        t0 = time.perf_counter()
        n = minhash_lsh_pairs(docs, threshold=0.8, bucket_cap=cap).count()
        print(
            f"| {label} | {n} | {time.perf_counter() - t0:.2f} |", flush=True
        )


def probe_round7_hostiles(spark) -> None:
    """Fifth section (round-7 verdict ask #7): the two newest join-shaped
    queries under their worst realistic inputs.

    - bm25_rank under a 50%-hot query term: half the corpus gains repeated
      occurrences of 'hash' (a probed term). The df aggregate must absorb
      the hot term via map-side combine and the per-doc scoring stays
      doc-keyed, so the plan should stay ~flat.
    - budget_select under a single-quality-value corpus (every text
      identical ⇒ every quality_score identical): the two-phase prefix
      scan range-partitions on (__neg_q, doc_id) — under TOTAL first-key
      ties the doc_id component must still spread rows evenly."""
    docs = load_table(spark, SRC, "documents")

    hot_dir = "/tmp/spark_graft_scale/bm25_hot"
    if not os.path.exists(os.path.join(hot_dir, "documents.parquet")):
        os.makedirs(hot_dir, exist_ok=True)
        docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")),
                         F.lit(" hash hash hash hash hash hash hash hash")),
            ).otherwise(F.col("text")),
        ).write.mode("overwrite").parquet(
            os.path.join(hot_dir, "documents.parquet")
        )

    tied_dir = "/tmp/spark_graft_scale/quality_tied"
    if not os.path.exists(os.path.join(tied_dir, "documents.parquet")):
        os.makedirs(tied_dir, exist_ok=True)
        fixed = (
            "the quick brown fox jumps over the lazy dog and then walks "
            "slowly back across the quiet field while the morning light "
            "settles on the grass"
        )
        docs.withColumn("text", F.lit(fixed)).write.mode("overwrite").parquet(
            os.path.join(tied_dir, "documents.parquet")
        )

    print()
    print("## Round-7 join-shaped hostiles (bm25 hot term / budget total ties)")
    print()
    print("| query | uniform sf1 (s) | hostile sf1 (s) | ratio |")
    print("|---|---|---|---|")
    for name, h_dir in (("bm25_rank", hot_dir), ("budget_select", tied_dir)):
        fn = SPARK_QUERIES[name]
        t_u = time_noop(spark, fn, SRC)
        t_s = time_noop(spark, fn, h_dir)
        print(f"| {name} | {t_u:.2f} | {t_s:.2f} | {t_s / t_u:.1f}x |", flush=True)


def _ensure_gram_hot_corpus(spark) -> str:
    """Build (once) the 50%-hot boilerplate corpus shared by the round-8
    and round-9 hostile probes: the SAME 12-token sentence appended to
    half the docs, so one 8-gram window / one adjacency bigram carries
    ~half the corpus. Returns the corpus directory."""
    hot_dir = "/tmp/spark_graft_scale/gram_hot"
    if not os.path.exists(os.path.join(hot_dir, "documents.parquet")):
        os.makedirs(hot_dir, exist_ok=True)
        boiler = (
            " subscribe to our newsletter for the latest updates and offers today"
        )
        load_table(spark, SRC, "documents").withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(boiler)),
            ).otherwise(F.col("text")),
        ).write.mode("overwrite").parquet(
            os.path.join(hot_dir, "documents.parquet")
        )
    return hot_dir


def probe_round8_hostiles(spark) -> None:
    """Sixth section (round-8): substring_dedup under a 50%-hot
    boilerplate gram — half the corpus ends with the SAME 12-token
    boilerplate sentence, so one 8-gram window string carries ~half the
    docs. The window-count aggregate must absorb it via map-side combine
    and the count-back join stays gram-keyed with the hot gram's rows
    spread by doc on the downstream per-doc aggregate — flat is the
    pass."""
    hot_dir = _ensure_gram_hot_corpus(spark)
    print()
    print("## Round-8 hostile (substring_dedup 50%-hot boilerplate gram)")
    print()
    print("| query | uniform sf1 (s) | hostile sf1 (s) | ratio |")
    print("|---|---|---|---|")
    for name in ("substring_dedup", "substring_dedup_hashed"):
        fn = SPARK_QUERIES[name]
        t_u = time_noop(spark, fn, SRC)
        t_s = time_noop(spark, fn, hot_dir)
        print(f"| {name} | {t_u:.2f} | {t_s:.2f} | {t_s / t_u:.1f}x |", flush=True)


def probe_round9_hostiles(spark) -> None:
    """Seventh section (round-9): the second-batch additions under their
    natural hostile shapes.

    - kcore_peel at a HUB vertex (star of degree d + 500k-node chain
      background): the per-round degree aggregate must absorb the hub's
      d rows via map-side combine, and the broadcast semi-joins carry
      the O(V) survivor set regardless of d — flat as d grows 100×.
    - keyword_textrank on the 50%-hot boilerplate corpus: the hot
      bigram collapses into ONE heavy edge row at the weight aggregate
      (map-side combined), so pagerank sees a weighted edge, never a
      row flood — flat is the pass.
    - preference_pairs on a 90%-one-stratum corpus: the struct-argmax
      AGGREGATE combines the mega-stratum map-side where a window
      formulation would funnel 90% of the corpus through one task.
    """
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )

    print()
    print("## Round-9 hostile (hub k-core / hot-bigram textrank /"
          " mega-stratum preference pairs)")
    print()
    print("| case | parameter | wall (s) |")
    print("|---|---|---|")
    for deg in (10_000, 100_000, 1_000_000):
        ed = _hub_edges(spark, deg)
        both = ed.union(
            ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).localCheckpoint()
        t0 = time.perf_counter()
        kcore_peel(both, k=20, rounds=3, src="a", dst="b").count()
        print(
            f"| kcore_peel k=20 3 rounds (hub degree {deg}) | {deg}"
            f" | {time.perf_counter() - t0:.2f} |",
            flush=True,
        )
    hot_dir = _ensure_gram_hot_corpus(spark)
    stratum_dir = "/tmp/spark_graft_scale/stratum_hot"
    if not os.path.exists(os.path.join(stratum_dir, "documents.parquet")):
        os.makedirs(stratum_dir, exist_ok=True)
        load_table(spark, SRC, "documents").withColumn(
            "source",
            F.when(F.col("doc_id") % 10 != 0, F.lit("megacrawl")).otherwise(
                F.col("source")
            ),
        ).withColumn(
            "lang",
            F.when(F.col("doc_id") % 10 != 0, F.lit("en")).otherwise(
                F.col("lang")
            ),
        ).write.mode("overwrite").parquet(
            os.path.join(stratum_dir, "documents.parquet")
        )
    print()
    print("| query | uniform sf1 (s) | hostile sf1 (s) | ratio |")
    print("|---|---|---|---|")
    for name, hdir in (
        ("keyword_textrank", hot_dir),
        ("preference_pairs", stratum_dir),
    ):
        fn = SPARK_QUERIES[name]
        t_u = time_noop(spark, fn, SRC)
        t_s = time_noop(spark, fn, hdir)
        print(
            f"| {name} | {t_u:.2f} | {t_s:.2f} | {t_s / t_u:.1f}x |",
            flush=True,
        )


def probe_round10_hostiles(spark) -> None:
    """Eighth section (round-10): the new operators under their natural
    hostile shapes.

    - jaccard_prefix_join on the 50%-hot boilerplate corpus: the hot
      shingles appear in HALF the corpus, so their doc-frequency ranks
      them LAST in every rare-first prefix — they are excluded from
      candidate generation by construction, and the join must stay
      flat. (The complementary hostile — one giant exact-duplicate
      cluster — is absorbed by the fingerprint collapse: c identical
      docs cost ONE set; only the true c²/2 output pairs are emitted.)
    - cms_topk on the same corpus: the hot tokens concentrate a few
      cells, but cell counts combine map-side — flat is the pass.
    - media_decode under hostile BYTES: payloads truncated to 40 bytes
      (past every container's magic, so the router commits to a codec
      and the parse fails) on half the docs — the NULL-metadata error
      path (``n_bytes`` kept, every decoded field NULL) must cost no
      more than clean decoding and never throw.
    """
    from pyspark.sql import functions as F2

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.multimodal import (
        attach_media_payload,
        decode_media_meta,
    )

    hot_dir = _ensure_gram_hot_corpus(spark)
    print()
    print("## Round-10 hostile (hot-shingle prefix join / hot-token cms /"
          " corrupt-payload media router)")
    print()
    print("| query | uniform sf1 (s) | hostile sf1 (s) | ratio |")
    print("|---|---|---|---|")
    for name in ("jaccard_prefix_join", "cms_topk"):
        fn = SPARK_QUERIES[name]
        t_u = time_noop(spark, fn, SRC)
        t_s = time_noop(spark, fn, hot_dir)
        print(f"| {name} | {t_u:.2f} | {t_s:.2f} | {t_s / t_u:.1f}x |", flush=True)

    docs = load_table(spark, SRC, "documents").select("doc_id")
    clean = attach_media_payload(docs)

    def run(df):
        t0 = time.perf_counter()
        decode_media_meta(df).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    corrupt = clean.withColumn(
        "payload",
        F2.when(
            F2.col("doc_id") % 2 == 0, F2.expr("substring(payload, 1, 40)")
        ).otherwise(F2.col("payload")),
    )
    run(clean)  # warm
    t_u = min(run(clean), run(clean))
    t_s = min(run(corrupt), run(corrupt))
    n_null = (
        decode_media_meta(corrupt).filter(F2.col("format").isNull()).count()
    )
    print(
        f"| media_decode (50% truncated-past-magic payloads; {n_null} "
        f"NULL rows) | {t_u:.2f} | {t_s:.2f} | {t_s / t_u:.1f}x |",
        flush=True,
    )


if __name__ == "__main__":
    if not os.path.exists(os.path.join(OUT, "events.parquet")):
        build()
    spark = get_spark("skew-probe")
    print("| query | uniform sf1 (s) | 50%-hot-key sf1 (s) | ratio |")
    print("|---|---|---|---|")
    for name in PROBE:
        fn = SPARK_QUERIES[name]
        try:
            t_u = time_noop(spark, fn, SRC)
            t_s = time_noop(spark, fn, OUT)
            print(f"| {name} | {t_u:.2f} | {t_s:.2f} | {t_s / t_u:.1f}x |", flush=True)
        except Exception as exc:
            print(f"| {name} | — | — | ERROR {type(exc).__name__} |", flush=True)
    probe_graph_hub(spark)
    probe_corpus_hot_fingerprint(spark)
    probe_lsh_megabucket(spark)
    probe_round7_hostiles(spark)
    probe_round8_hostiles(spark)
    probe_round9_hostiles(spark)
    probe_round10_hostiles(spark)
