"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root (any checkout of it). The run reads its
inputs from ``perfbench/data`` (the seed chooses the query order and the
ingest batch split), keeps everything it writes under a private temp root
inside the checkout, starts Spark on ``local[4]``, measures the workload for
``--seconds``, checks the outputs, stops Spark and its JVM, and removes the
temp root. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``), whose spans also go to
``.perfbench_out/trace-<workload>-seed<seed>.jsonl`` and whose end-to-end
metrics go to ``.perfbench_out/e2e-<workload>-seed<seed>.json``. Lines before it are
for people. The run exits non-zero without a result line when the program
cannot be imported or the run fails.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
import warnings  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402
from inputs import DATA_DIR  # noqa: E402
from stats import cpu_times, fail_frac, median, steal_share, tail  # noqa: E402

CPUS = 4
DRIVER_MEMORY = "2g"
#: Hard stop for one run, below the 180 s a run may take.
RUN_LIMIT_S = 170
TMP_DIRNAME = ".perfbench_tmp"
OUT_DIRNAME = ".perfbench_out"
#: Directories the isolation check ignores: the run's own temp root and
#: trace output, and the build directory the driver may set.
UNTRACKED = {".git", TMP_DIRNAME, OUT_DIRNAME, ".bench_build"}


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file in the checkout outside UNTRACKED."""
    state = {}
    for dirpath, dirs, files in os.walk(root):
        if dirpath == root:
            dirs[:] = [d for d in dirs if d not in UNTRACKED]
        for f in files:
            path = os.path.join(dirpath, f)
            try:
                st = os.lstat(path)
            except FileNotFoundError:
                continue
            state[os.path.relpath(path, root)] = (st.st_size, st.st_mtime_ns)
    return state


def isolate(tmp: str) -> None:
    """Point every scratch location of Python, Spark and the JVM at ``tmp``
    (must run before the JVM starts)."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": os.path.join(tmp, "tmp"),
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYSPARK_PYTHON": sys.executable,
            # -XX:-UsePerfData: no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": (
                os.environ.get("JAVA_TOOL_OPTIONS", "")
                + f" -Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData"
            ).strip(),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(tmp: str):
    get_spark = __import__(workloads.PKG, fromlist=["get_spark"]).get_spark
    spark = get_spark(
        "perfbench",
        {
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                kids.append(int(entry))
    return kids


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_jvm() -> None:
    """Stop Spark, then the JVM it runs in and the Python workers the JVM
    started, and wait until each has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.1)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except ProcessLookupError:
            pass


def trace_package(tracer) -> None:
    """The package calls a traced run records spans around."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    pkg = workloads.pkg
    registry = pkg("plans.registry")
    tracer.wrap(registry._Resolver, "read", "plans.resolve",
                attrs_of=lambda _self, name: {"dataset": name})
    tracer.wrap(registry, "enforce_fail", "plans.fail_gate", store_diff=True,
                attrs_of=lambda dataset, *a, **k: {"dataset": dataset})
    tracer.wrap(pkg("sources.sinks"), "write_table", "sources.sinks.write_table",
                attrs_of=lambda _s, _df, dataset, *a, **k: {"dataset": dataset.name})
    loader = pkg("sources.loader")
    tracer.wrap(loader, "load_table", "sources.loader.load_table")
    tracer.wrap(loader, "spread_partitions", "sources.loader.spread_partitions")
    tracer.wrap(pkg("sources.csv_ingest"), "ingest_csv_append",
                "sources.csv_ingest.ingest_csv_append")
    tracer.wrap(pkg("streaming.incremental_mv"), "maintain_aggregate_mv",
                "streaming.maintain_aggregate_mv")
    tracer.wrap(pkg("streaming.cdc"), "run_cdc_apply", "streaming.run_cdc_apply")
    tracer.wrap(DataStreamWriter, "start", "streaming.query_start", keep=tracer.stream_queries)


def common_layers(tracer, out) -> dict[str, float]:
    """Per-layer metrics every workload has: Spark store diffs of the timed
    ops, loader calls and streaming microbatches, as means per op."""
    n = max(len(out.items), 1)
    spark = tracer.spark_sum("op")
    layers = {f"spark.{k}": v / n for k, v in spark.items()}
    busy = sum(s.seconds for s in tracer.named("op"))
    layers["spark.slot_util"] = spark.get("executor_run_s", 0.0) / (busy * CPUS) if busy else 0.0
    progress = [p for q in tracer.stream_queries for p in q.recentProgress]
    layers.update(
        {
            "sources.loader.load_table_calls": len(tracer.named("sources.loader.load_table")) / n,
            "sources.loader.load_table_s": tracer.total("sources.loader.load_table") / n,
            "sources.loader.spread_calls": len(tracer.named("sources.loader.spread_partitions")) / n,
            "streaming.microbatches": len(progress) / n,
            "streaming.empty_batch_share": (
                sum(1 for p in progress if not p.numInputRows) / len(progress) if progress else 0.0
            ),
        }
    )
    return layers


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, workloads.PKG, "__init__.py")):
        print(f"no {workloads.PKG} package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    spec = load_spec()

    def over_time(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, over_time)
    signal.alarm(RUN_LIMIT_S)
    warnings.filterwarnings("ignore")

    before = tree_state(ROOT)
    tmp = os.path.join(ROOT, TMP_DIRNAME, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    isolate(tmp)
    host_probes, probe_s = [], 0.0
    try:
        if args.trace:
            import bench

            t0 = time.perf_counter()
            host_probes.append(bench.cpu_calibration())
            probe_s = time.perf_counter() - t0  # not part of set-up

        t0 = time.perf_counter()
        spark = start_session(tmp)  # launches the JVM
        get_spark_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            trace_package(tracer)
        ctx = workloads.Ctx(spark, DATA_DIR, tmp, args.seed, args.seconds, tracer)
        cpu_before = cpu_times()
        out = workloads.WORKLOADS[args.workload](ctx)
        steal = steal_share(cpu_before, cpu_times())
        if tracer is not None:
            tracer.unwrap_all()
            layers = common_layers(tracer, out)
            layers.update(out.per_layer)
            layers["session.get_spark_s"] = get_spark_s
            layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
        stop_jvm()
        if tracer is not None:
            host_probes.append(bench.cpu_calibration())
            layers["session.py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            layers["host.blas_probe_s"] = max(p["calibration_blas_sec"] for p in host_probes)
            layers["host.python_probe_s"] = max(p["calibration_python_sec"] for p in host_probes)
            layers["host.steal_share"] = steal
            os.makedirs(os.path.join(ROOT, OUT_DIRNAME), exist_ok=True)
            run_id = f"{args.workload}-seed{args.seed}"
            tracer.write_jsonl(os.path.join(ROOT, OUT_DIRNAME, f"trace-{run_id}.jsonl"), run_id)
    finally:
        signal.alarm(0)
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, TMP_DIRNAME))
        except OSError:
            pass

    after = tree_state(ROOT)
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))

    problems = list(out.problems)
    if changed:
        problems.append(f"run changed files in the checkout: {changed[:10]}")
    tail_s, tail_pct, n_tail = tail(out.tail_samples or out.samples)
    e2e = {
        "setup_s": out.setup_s - probe_s,
        "op_p50_s": median(out.samples),
        "op_cpu_s": median(out.cpu),
        "ops_per_s": len(out.samples) / out.elapsed,
    }
    failed = len(out.ok) - sum(out.ok)

    print(f"workload {args.workload} seed {args.seed} cpus {CPUS} trace {args.trace}")
    print(f"  ops {len(out.samples)}  measured {out.elapsed:.3f} s  "
          f"session start {get_spark_s:.3f} s  warm-up {out.warmup_s:.3f} s")
    print(f"  cpu steal during the workload {steal:.1%}")
    print(f"  op samples {[round(x, 3) for x in out.samples]} s, "
          f"cpu {[round(x, 2) for x in out.cpu]} s")
    print(f"  tail = {tail_s:.6g} s, p{tail_pct:.1f} of {n_tail} samples")
    print(f"  output checks {out.check_s:.3f} s")
    for k, v in out.names.items():
        print(f"  {k} = {v:.6g}")
    print(f"  fail_frac = {fail_frac(out.ok):.6g} ({failed}/{len(out.ok)})")
    for p in problems:
        print(f"  PROBLEM {p}")

    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {k: layers.get(k, 0.0) for k in units}
        if args.workload == "medallion_refresh":
            covered = sum(values[f"plans.{k}_s"] for k in ("build", "bronze", "silver", "gold"))
            print(f"  plans build+bronze+silver+gold = {covered:.3f} s "
                  f"of refresh {e2e['op_p50_s']:.3f} s ({covered / e2e['op_p50_s']:.1%})")
        for k, v in e2e.items():
            print(f"  traced {k} = {v:.6g}")
        with open(os.path.join(ROOT, OUT_DIRNAME, f"e2e-{run_id}.json"), "w") as fh:
            json.dump(e2e, fh)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = e2e
    for k, v in values.items():
        print(f"  {k:42s} {v:14.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": len(out.ok),
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
