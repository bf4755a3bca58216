"""The three workloads, one per phase of the medallion pipeline.

Each workload is a closed loop with one client on one driver thread: the
next operation starts when the previous one has returned. A workload times
whole operations (one refresh, one round of the query mix, one landed
batch), keeps running them until ``seconds`` have passed, then checks the
outputs outside the timed path. With a tracer it also derives its own per-layer metrics from
the spans recorded around the package calls.
"""

from __future__ import annotations

import importlib
import itertools
import os
import time
from contextlib import nullcontext
from urllib.parse import urlparse
from dataclasses import dataclass, field

import pandas as pd

from checks import against_oracle, duck_over, ingest_problems, refresh_problems
from inputs import landing_batches, mix_order
from stats import median, process_age_s, tree_cpu_s

PKG = "azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark"

#: Oracle-backed catalog queries of the warm query mix. Catalog queries that
#: write to fixed temp paths (cdc_apply, streaming_incremental_mv) are left
#: out so that runs stay isolated from each other.
MIX = (
    "tpch_q1 tpch_q6 tpch_q9 window_dedup rollup_sales asof_join "
    "gold_dim_customers text_analysis ann_topk dedup_simhash bfs_reach "
    "streaming_window_agg"
).split()

#: query_mix warms up with one round that collects every query, then
#: WARMUP_ROUNDS untimed rounds into the noop sink: the JIT keeps compiling
#: through the first four or so rounds, each faster than the last. It then
#: times at least MIN_ROUNDS rounds and reports their median.
WARMUP_ROUNDS = 1
MIN_ROUNDS = 3

#: incremental_ingest lands up to N_BATCHES CSV files of 500 events each;
#: the first WARMUP_BATCHES are untimed (the first pays JIT warm-up), and at
#: least MIN_BATCHES are timed so that the median has enough samples.
N_BATCHES = 20
WARMUP_BATCHES = 3
MIN_BATCHES = 6
LANDED_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value"]


def pkg(mod: str):
    return importlib.import_module(f"{PKG}.{mod}")


@dataclass
class Ctx:
    """What a workload gets: a session, inputs and a private temp root."""

    spark: object
    data_dir: str
    tmp: str
    seed: int
    seconds: float
    tracer: object | None = None

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw) if self.tracer else nullcontext()


@dataclass
class Outcome:
    """What a workload returns."""

    items: list = field(default_factory=list)  # per timed op: its name
    samples: list[float] = field(default_factory=list)  # per timed op: seconds
    cpu: list[float] = field(default_factory=list)  # per timed op: CPU seconds
    ok: list[bool] = field(default_factory=list)  # per timed op: ran and checked
    tail_samples: list[float] = field(default_factory=list)  # the tail's samples
    setup_s: float = 0.0  # process start to the first timed op
    elapsed: float = 0.0  # wall time of the timed loop
    rows: int = 0  # rows the timed ops landed (incremental_ingest)
    warmup_s: float = 0.0
    check_s: float = 0.0  # wall time of the output checks
    problems: list[str] = field(default_factory=list)
    per_layer: dict[str, float] = field(default_factory=dict)
    names: dict[str, float] = field(default_factory=dict)  # workload-named metrics


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def timed_loop(ctx: Ctx, out: Outcome, items, op, min_ops=1) -> None:
    """Run ``op(item)`` for each item, one timed op each, until
    ``ctx.seconds`` have passed and at least ``min_ops`` have run. A failing
    op is recorded and the loop goes on. Set-up ends where the loop starts."""
    if ctx.tracer:
        ctx.tracer.reset()  # drop warm-up spans
    out.setup_s = process_age_s()
    t_start = time.perf_counter()
    for done, item in enumerate(items):
        if done >= min_ops and time.perf_counter() - t_start >= ctx.seconds:
            break
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with ctx.span("op", store_diff=True, item=item):
                op(item)
            out.ok.append(True)
        except Exception as exc:  # counted in fail_frac
            out.ok.append(False)
            out.problems.append(f"{item}: {type(exc).__name__}: {exc}"[:400])
        out.samples.append(time.perf_counter() - t0)
        out.cpu.append(tree_cpu_s() - c0)
        out.items.append(item)
    out.elapsed = time.perf_counter() - t_start
    if ctx.tracer:
        ctx.tracer.active = False  # the output checks are not traced


def _fail_items(out: Outcome, bad) -> None:
    out.ok = [ok and not bad(item) for ok, item in zip(out.ok, out.items)]


# ---------------------------------------------------------------------------
def medallion_refresh(ctx: Ctx) -> Outcome:
    """Cold full refresh: build_pipeline + Pipeline.run into a private
    warehouse, on a session that has run no query before."""
    medallion = pkg("plans.medallion")
    out = Outcome()
    warehouse = os.path.join(ctx.tmp, "warehouse")
    reports = {}

    def refresh(item):
        with ctx.span("plans.build"):
            pipeline = medallion.build_pipeline(ctx.data_dir)
        reports[item] = pipeline.run(ctx.spark, warehouse=warehouse)

    timed_loop(ctx, out, (f"refresh{i}" for i in itertools.count()), refresh)
    out.names["refresh_s"] = median(out.samples)
    if ctx.tracer:
        out.per_layer.update(_refresh_layers(ctx, warehouse))

    t0 = time.perf_counter()
    con = duck_over(ctx.data_dir)
    try:
        last = out.items[-1]
        for item, report in reports.items():
            # the warehouse holds the last refresh only
            found = refresh_problems(
                ctx.spark, con, report, warehouse, pkg("queries").ORACLES,
                medallion.BRONZE_TABLES, gold=item == last,
            )
            out.problems += found
            if found:
                _fail_items(out, lambda i, bad=item: i == bad)
    finally:
        con.close()
    out.check_s = time.perf_counter() - t0
    return out


def _refresh_layers(ctx: Ctx, warehouse: str) -> dict[str, float]:
    """Per-layer split of one refresh. A dataset's time is its top-level
    resolve, its fail gate and its write; with the build these cover the
    whole of Pipeline.run."""
    tr = ctx.tracer
    n = max(len(tr.named("op")), 1)
    by_id = {s.id: s for s in tr.spans}
    layer_s = {"bronze": 0.0, "silver": 0.0, "gold": 0.0}
    resolve_s = 0.0
    for s in tr.spans:
        parent = by_id.get(s.parent)
        top_resolve = s.name == "plans.resolve" and parent is not None and parent.name == "op"
        if top_resolve:
            resolve_s += s.seconds
        if top_resolve or s.name in ("plans.fail_gate", "sources.sinks.write_table"):
            layer = s.attrs.get("dataset", "").split(".")[0]
            if layer in layer_s:
                layer_s[layer] += s.seconds
    written, files = dir_bytes(warehouse)
    input_bytes = sum(
        os.path.getsize(os.path.join(ctx.data_dir, f"{t}.parquet"))
        for t in pkg("plans.medallion").BRONZE_TABLES
    )
    return {
        "plans.build_s": tr.total("plans.build") / n,
        "plans.resolve_s": resolve_s / n,
        "plans.fail_gate_s": tr.total("plans.fail_gate") / n,
        "plans.fail_gate_jobs": tr.spark_sum("plans.fail_gate").get("jobs", 0.0) / n,
        "plans.bronze_s": layer_s["bronze"] / n,
        "plans.silver_s": layer_s["silver"] / n,
        "plans.gold_s": layer_s["gold"] / n,
        "sources.sinks.write_s": tr.total("sources.sinks.write_table") / n,
        "sources.sinks.bytes_written": float(written),
        "sources.sinks.files_written": float(files),
        "sources.sinks.write_amp": written / input_bytes,
    }


# ---------------------------------------------------------------------------
def query_mix(ctx: Ctx) -> Outcome:
    """Warm session cycling a seeded shuffle of the mix through the noop
    sink. One op is one round: every query of the mix once, in the seeded
    order, each followed by ``bench.release_cached_state`` as the
    repository's harness does between queries. The first warm-up round
    collects each query; after the timed rounds those results are checked
    against their oracles, and a mismatch fails every round."""
    import bench  # the repository harness: release_cached_state

    queries = pkg("queries")
    out = Outcome()
    order = mix_order(MIX, ctx.seed)

    t0 = time.perf_counter()
    collected = {}
    for name in order:
        try:
            collected[name] = queries.SPARK_QUERIES[name](ctx.spark, ctx.data_dir).toPandas()
        except Exception as exc:  # an erroring query is a failed check
            collected[name] = exc
        bench.release_cached_state(ctx.spark)

    per_query: dict[str, list[float]] = {name: [] for name in order}

    def run_round(_):
        errors = []
        for name in order:
            t = time.perf_counter()
            try:
                with ctx.span("queries.construct", store_diff=True, query=name):
                    df = queries.SPARK_QUERIES[name](ctx.spark, ctx.data_dir)
                with ctx.span("queries.execute", query=name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # the round goes on; it fails at the end
                errors.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
            per_query[name].append(time.perf_counter() - t)
            bench.release_cached_state(ctx.spark)
        if errors:
            raise RuntimeError("; ".join(errors))

    for i in range(WARMUP_ROUNDS):
        try:
            run_round(i)
        except RuntimeError as exc:
            out.problems.append(f"warm-up: {exc}"[:400])
    out.warmup_s = time.perf_counter() - t0
    for times in per_query.values():
        times.clear()

    timed_loop(ctx, out, (f"round{i}" for i in itertools.count()), run_round,
               min_ops=MIN_ROUNDS)
    out.tail_samples = [x for name in order for x in per_query[name]]
    out.names["query_p50_s"] = median(out.tail_samples)
    out.names["queries_per_s"] = len(out.tail_samples) / out.elapsed
    if ctx.tracer:
        out.per_layer.update(_query_layers(ctx, per_query))

    t0 = time.perf_counter()
    con = duck_over(ctx.data_dir)
    try:
        for name in order:
            pdf = collected[name]
            try:
                if isinstance(pdf, Exception):
                    raise pdf
                found = against_oracle(pdf, con, queries.ORACLES[name], name)
            except Exception as exc:  # an erroring check is a failed check
                found = [f"{name}: {type(exc).__name__}: {exc}"[:400]]
            if found:
                out.problems += found
                out.ok = [False] * len(out.ok)
    finally:
        con.close()
    out.check_s = time.perf_counter() - t0
    return out


def _query_layers(ctx: Ctx, per_query: dict[str, list[float]]) -> dict[str, float]:
    """Per-query means of construction, execution and eager jobs, and each
    query's median time."""
    tr = ctx.tracer
    n = max(sum(len(v) for v in per_query.values()), 1)
    layers = {
        "queries.construct_s": tr.total("queries.construct") / n,
        "queries.execute_s": tr.total("queries.execute") / n,
        "queries.eager_jobs": tr.spark_sum("queries.construct").get("jobs", 0.0) / n,
    }
    for name in MIX:
        layers[f"queries.{name}_s"] = median(per_query.get(name, []))
    return layers


# ---------------------------------------------------------------------------
def incremental_ingest(ctx: Ctx) -> Outcome:
    """Land one CSV batch at a time. Each op appends it to bronze
    (ingest_csv_append), folds it into the gold MV (maintain_aggregate_mv)
    and upserts it into the silver CDC table (run_cdc_apply)."""
    csv_ingest = pkg("sources.csv_ingest")
    incremental = pkg("streaming.incremental")
    incremental_mv = pkg("streaming.incremental_mv")
    cdc = pkg("streaming.cdc")
    out = Outcome()
    p = {
        k: os.path.join(ctx.tmp, k)
        for k in ("staged", "landing", "ingest_state", "bronze", "mv", "mv_ckpt", "cdc", "cdc_ckpt")
    }
    os.makedirs(p["staged"])
    os.makedirs(p["landing"])
    batches = landing_batches(ctx.seed, N_BATCHES)
    files = [f"batch_{i:05d}.csv" for i in range(N_BATCHES)]
    for f, b in zip(files, batches):
        b.to_csv(os.path.join(p["staged"], f), index=False)
    streams = {}
    landed: list[pd.DataFrame] = []

    def land_and_apply(i):
        os.replace(os.path.join(p["staged"], files[i]), os.path.join(p["landing"], files[i]))
        landed.append(batches[i])
        csv_ingest.ingest_csv_append(ctx.spark, p["landing"], p["ingest_state"], p["bronze"])
        if not streams:
            schema = ctx.spark.read.parquet(p["bronze"]).schema
            streams["mv"] = incremental.stream_source(ctx.spark, p["bronze"], schema=schema)
            streams["cdc"] = streams["mv"].select(*LANDED_COLUMNS)
        incremental_mv.maintain_aggregate_mv(
            streams["mv"], p["mv"], p["mv_ckpt"], ["event_type"], "value"
        )
        cdc.run_cdc_apply(streams["cdc"], p["cdc"], p["cdc_ckpt"], ["user_id"], "event_id")

    t0 = time.perf_counter()
    for i in range(WARMUP_BATCHES):
        land_and_apply(i)
    out.warmup_s = time.perf_counter() - t0

    timed_loop(ctx, out, range(WARMUP_BATCHES, N_BATCHES), land_and_apply,
               min_ops=MIN_BATCHES)
    out.rows = sum(len(batches[i]) for i in out.items)
    out.names["batch_p50_s"] = median(out.samples)
    out.names["ingest_rows_per_s"] = out.rows / out.elapsed
    if ctx.tracer:
        out.per_layer.update(_ingest_layers(ctx, out, p))

    t0 = time.perf_counter()
    mv = incremental_mv.read_mv(ctx.spark, p["mv"])
    snap = cdc.read_current(ctx.spark, p["cdc"])
    found = ingest_problems(
        None if mv is None else mv.toPandas(),
        None if snap is None else snap.select("user_id", "event_id", "event_type", "value").toPandas(),
        pd.concat(landed, ignore_index=True),
    )
    if found:  # the final state reflects every batch
        out.ok = [False] * len(out.ok)
        out.problems += found
    out.check_s = time.perf_counter() - t0
    return out


def _ingest_layers(ctx: Ctx, out: Outcome, p: dict) -> dict[str, float]:
    tr = ctx.tracer
    n = max(len(out.items), 1)
    current = (  # the committed MV state and CDC snapshot
        pkg("streaming.incremental_mv").read_state(ctx.spark, p["mv"]),
        pkg("streaming.cdc").read_current(ctx.spark, p["cdc"]),
    )
    state = sum(
        os.path.getsize(urlparse(f).path)
        for df in current
        if df is not None
        for f in df.inputFiles()
    )
    return {
        "sources.csv_ingest.ingest_s": tr.total("sources.csv_ingest.ingest_csv_append") / n,
        "sources.csv_ingest.files": float(len(out.items)),
        "sources.csv_ingest.rows": float(out.rows),
        "streaming.mv_fold_s": tr.total("streaming.maintain_aggregate_mv") / n,
        "streaming.cdc_apply_s": tr.total("streaming.run_cdc_apply") / n,
        "streaming.state_bytes": float(state),
    }


WORKLOADS = {
    "medallion_refresh": medallion_refresh,
    "query_mix": query_mix,
    "incremental_ingest": incremental_ingest,
}
