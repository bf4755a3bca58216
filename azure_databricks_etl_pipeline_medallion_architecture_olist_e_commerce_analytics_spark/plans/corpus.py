"""The corpus medallion pipeline: LLM-training-data prep run through the
declarative engine.

The flagship ``medallion.py`` pipeline re-expresses the reference's Olist
star schema; this sibling pipeline applies the SAME engine surface —
``@table``/``@view`` registration, warn/fail expectations, SQL MVs with
``LIVE.`` references (/root/reference/scripts/bronze/bronze_ingestion.py
:35-53 factory pattern, scripts/gold/*.sql MV idiom) — to the brief's other
north star: a text-corpus pipeline (ingest → quality/dedup → mixture).

Layers:
- bronze: raw document landing (streaming table).
- silver: typed documents + text-analysis columns (token counts, language
  ID, quality score, dedup fingerprint — all JVM expressions from
  operators/textops.py, zero Python row path) with warn expectations.
- gold (SQL MVs in ``corpus_sql/``): ``corpus_survivors`` (fingerprint
  dedup, keep the best-quality doc per group; FAIL constraint on the key)
  and ``corpus_mix`` (per source×language token mixture reading the
  survivors MV — a gold→gold LIVE dependency).

Determinism: every gold column is reproducible; the silver audit column
(``processed_at``) is not selected by gold, and the catalog query drops it
— same discipline as the flagship pipeline.

Scale: silver is a pure projection (one corpus scan, codegen'd); survivors
is one fingerprint exchange shared by both window functions; the mixture's
global-share window runs over aggregated cells only.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .registry import Pipeline, shared_dataframe


def corpus_silver_columns() -> list:
    """The silver text-analysis projection, shared verbatim by the batch
    pipeline table and the true-streaming twin (queries.py::
    q_corpus_streaming_ingest) — one definition, two execution modes."""
    from ..operators.dedup import fingerprint_col
    from ..operators.textops import lang_id_col, quality_score_col, token_count_cols

    ws, bpe = token_count_cols("text")
    return [
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"),
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang_declared"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
        F.col("n_chars").cast("int").alias("n_chars"),
        ws,
        bpe,
        lang_id_col("text").alias("predicted_lang"),
        quality_score_col("text").alias("quality_score"),
        fingerprint_col("text").alias("fingerprint"),
    ]


def build_corpus_pipeline(sf_dir: str) -> Pipeline:
    """Construct the corpus pipeline bound to a testdata directory."""
    from ..sources.loader import load_table

    p = Pipeline("corpus_medallion")

    @p.table(
        name="bronze.corpus_documents",
        comment="Raw document corpus landed from source (incremental at ingest).",
        table_properties={"quality": "bronze"},
    )
    def bronze_corpus_documents(ctx):
        return load_table(ctx.spark_session, sf_dir, "documents")

    @p.table(
        name="silver.corpus_docs",
        comment="Typed documents with language ID, quality score, token "
        "counts and dedup fingerprint (all JVM expressions).",
        table_properties={"quality": "silver"},
    )
    @p.expect_all(
        {
            "doc_id_not_null": "doc_id IS NOT NULL",
            "text_nonempty": "LENGTH(text) > 0",
            "quality_in_unit_range": "quality_score >= 0.0 AND quality_score <= 1.0",
            "has_tokens": "ws_tokens >= 1",
        }
    )
    def corpus_docs(ctx):
        df = ctx.read_stream("bronze.corpus_documents")
        return df.select(*corpus_silver_columns()).withColumn(
            "processed_at", F.current_timestamp()
        )

    # gold: SQL MV files, parsed by the same wrapper parser as the flagship
    # gold layer (plans/sqlmv.py).
    from .sqlmv import register_mv_file

    gold_dir = os.path.join(os.path.dirname(__file__), "corpus_sql")
    for fname in ("corpus_survivors.sql", "corpus_mix.sql"):
        register_mv_file(p, os.path.join(gold_dir, fname))
    return p


def corpus_dataframe(spark, sf_dir: str, dataset: str):
    """Resolve ``dataset`` against the shared per-session corpus-pipeline
    resolution (plans/registry.py ``shared_dataframe`` — the mixture MV
    resolves survivors and silver from the same cache)."""
    return shared_dataframe(spark, build_corpus_pipeline, sf_dir, dataset)


def corpus_silver_expectations() -> list:
    """The silver corpus table's registered expectations (for the
    expectation-metrics catalog query — read from the registry so the
    driver-checked predicates ARE the engine's, not a redefinition)."""
    p = build_corpus_pipeline("/nonexistent")  # registry only; no I/O
    return list(p._defs["silver.corpus_docs"].expectations)
