"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|ingest --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One run:

1. pins the environment (cores, driver memory, scratch dirs inside the
   checkout, Python workers able to import the engine);
2. sets the workload up three times -- Spark session, function
   registration, seeded input generation -- and reports the median as
   ``setup_s`` (the first set-up also starts the JVM);
3. runs whole cycles until ``--seconds`` have passed (at least one); the
   first cycle is the first use of the engine after set-up, so it pays
   plan compilation and JIT warm-up as a fresh session does;
4. checks every answer, inside each cycle and after the last;
5. prints the metrics by name, then one JSON line: with ``--trace 0``
   the end-to-end metrics, with ``--trace 1`` the per-layer ones.

A traced run makes three cycles: untraced, traced, untraced. The
per-layer numbers come from the traced cycle and ``trace.overhead_ms``
is the traced minus the last untraced cycle time. Spans are written to
``.perfbench_out/`` at exit. Scratch files go to ``.perfbench_work/``
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
INGEST_ROWS = 2_000
INGEST_BATCHES = 4  # a traced run uses three


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# -- environment ---------------------------------------------------------------


def pin_environment(work: str) -> dict:
    """Environment and Spark conf for a run confined to ``work``."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            # the session default (16g) can exceed a small machine
            "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(ram_gb // 4)))}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    sys.path.insert(0, ROOT)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    @staticmethod
    def tree_rss() -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * os.sysconf("SC_PAGE_SIZE")

    def run(self):
        while not self._done.wait(0.2):
            self.peak = max(self.peak, self.tree_rss())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return max(self.peak, self.tree_rss()) / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -- statistics ----------------------------------------------------------------


def tail(prefix: str, values: list[float], unit: str) -> tuple:
    """``<prefix>_pNN_<unit>`` at the highest of p95/p90/p80/p75/p60 that
    has at least ten samples beyond it, or a note that none has."""
    n = len(values)
    q = next((q for q in (95, 90, 80, 75, 60) if n * (100 - q) >= 1000), None)
    if q is None:
        return (f"{prefix}_tail_{unit}", float("nan"), unit, f"n={n}, too few for a tail")
    value = statistics.quantiles(values, n=100, method="inclusive")[q - 1]
    return (f"{prefix}_p{q}_{unit}", value, unit, f"n={n}")


def mean_layers(ops, keys) -> dict[str, float]:
    """Per-operation mean of each per-layer number over ``ops``."""
    return {
        k: (sum(op.layers.get(k, 0.0) for op in ops) / len(ops) if ops else 0.0)
        for k in keys
    }


# -- the run -------------------------------------------------------------------


def make_workload(name: str, spark, tracer, data_dir: str, seed: int, small: bool):
    import workloads

    if name == "dashboard":
        # small: the sf0.001 fixture sizes
        return workloads.Dashboard(spark, tracer, data_dir, seed, 0.01 if small else 1.0)
    rows, batches = (500, 3) if small else (INGEST_ROWS, INGEST_BATCHES)
    return workloads.Ingest(spark, tracer, data_dir, seed, batches, rows)


def set_up(args, work: str, conf: dict, tracer):
    """Set the workload up ``SETUPS`` times on one Spark session; return
    the last workload and every set-up time. The first set-up launches
    the JVM and registers the engine's SQL functions; every set-up
    builds the workload afresh: engine objects, provisioning DDL and
    seeded inputs in a new directory."""
    from ed_clickhouse_spark.session import get_spark

    times, wl = [], None
    for k in range(SETUPS):
        if wl is not None:
            shutil.rmtree(os.path.join(work, f"setup{k - 1}"))
        start = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        wl = make_workload(
            args.workload, spark, tracer, os.path.join(work, f"setup{k}"), args.seed, args.small
        )
        times.append(time.perf_counter() - start)
    return spark, wl, times


def measure(args, wl, tracer) -> dict:
    """Whole cycles until ``args.seconds`` have passed, then the
    workload's own checks. A traced run makes three cycles -- untraced,
    traced, untraced -- and compares the last two."""
    cycles = []  # (traced, seconds, ops)
    start = time.perf_counter()
    while True:
        traced = bool(args.trace) and len(cycles) == 1
        tracer.enabled = traced
        seconds, ops = wl.cycle()
        tracer.enabled = False
        cycles.append((traced, seconds, ops))
        enough = time.perf_counter() - start >= args.seconds
        if args.trace:
            enough = len(cycles) == 3
        if enough or wl.exhausted():
            break
    return {"checked": wl.check(), "cycles": cycles}


def end_to_end(wl, setup_times, result, peak_rss) -> tuple[dict, list[str], int, int]:
    cycles = [c for c in result["cycles"] if not c[0]]
    ops = [op for c in cycles for op in c[2]]
    reads = [op.seconds * 1000.0 for op in ops if op.kind == "read"]
    pass_s = [c[1] for c in cycles]
    metrics = {
        "setup_s": (statistics.median(setup_times), "s"),
        "cycle_s": (statistics.median(pass_s), "s"),
        "read_p50_ms": (statistics.median(reads), "ms"),
    }
    all_ops = result["checked"] + [op for c in result["cycles"] for op in c[2]]
    failed = sum(not op.ok for op in all_ops)
    lines = [f"# set-up times: {', '.join(f'{t:.3f}' for t in setup_times)} s"]
    n = f"n={len(reads)}"
    if wl.name == "dashboard":
        named = [
            ("dashboard_refresh_s", statistics.median(pass_s), "s", f"n={len(pass_s)} passes"),
            ("dashboard_panel_p50_ms", statistics.median(reads), "ms", n),
            tail("dashboard_panel", reads, "ms"),
        ]
    else:
        rows = wl.rows * len(pass_s)
        named = [
            ("ingest_rows_per_s", rows / sum(pass_s), "rows/s", f"{rows} rows"),
            ("ingest_batch_p50_s", statistics.median(pass_s), "s", f"n={len(pass_s)}"),
            tail("ingest_batch", pass_s, "s"),
            ("fresh_query_p50_ms", statistics.median(reads), "ms", n),
            tail("fresh_query", reads, "ms"),
        ]
    named += [
        ("setup_s", metrics["setup_s"][0], "s", f"median of {len(setup_times)}"),
        ("failed_ops_ratio", failed / len(all_ops), "ratio", f"{failed}/{len(all_ops)} ops"),
        ("peak_rss_mb", peak_rss, "MB", "process tree"),
    ]
    lines += [f"# {name} = {value:.4f} {unit} ({note})" for name, value, unit, note in named]
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, lines, len(all_ops), failed


# layer -> (span, its self or total time, kind of operation it runs in);
# each gives ``<layer>_ms`` per operation and ``<layer>_pct`` of the
# operation's wall time
LAYER_SPANS = {
    "chsql.translate": ("chsql.translate", "total", "read"),
    "exec.run": ("exec.collect", "total", "read"),
    "engine.ch_sql": ("engine.ch_sql", "total", "read"),
    "pipeline.self": ("pipeline.process_batch", "self", "write"),
    "writer.append_events": ("writer.append_events", "total", "write"),
    "writer.append_dlq": ("writer.append_dlq", "total", "write"),
    "matview.on_batch": ("matview.on_batch", "total", "write"),
    "engine.refresh_views": ("engine.refresh_views", "total", "write"),
}
READ_LAYERS = (
    "chsql.translate_py_calls", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.single_task_stages", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.scan_files", "exec.scan_bytes", "exec.result_rows", "pyudf.python_ms",
    "pyudf.bytes_sent", "pyudf.bytes_received",
)
WRITE_LAYERS = (
    "pipeline.jobs_per_batch", "pipeline.decode_passes", "writer.files_per_batch",
    "writer.bytes_per_input_byte",
)
ALL_LAYERS = ("cache.storage_bytes", "cache.blocks")


def per_layer(wl, tracer, setup_times, result, peak_rss, declared) -> tuple[dict, list[str]]:
    """The per-layer metrics ``declared`` in BENCHMARK.json, from the
    traced cycle; every other per-layer number is only printed."""
    traced = [c for c in result["cycles"] if c[0]]
    plain = [c for c in result["cycles"] if not c[0]]
    ops = [op for c in traced for op in c[2]]
    by_kind = {k: [op for op in ops if op.kind == k] for k in ("read", "write")}
    self_ms, total_ms = tracer.self_ms(), tracer.total_ms()
    values: dict[str, float] = {}
    for layer, (span, how, kind) in LAYER_SPANS.items():
        src = self_ms if how == "self" else total_ms
        ms = [src.get(op.op_id, {}).get(span, 0.0) for op in by_kind[kind]]
        shares = [100.0 * t / (op.seconds * 1000.0) for t, op in zip(ms, by_kind[kind])]
        values[f"{layer}_ms"] = statistics.fmean(ms) if ms else 0.0
        values[f"{layer}_pct"] = statistics.fmean(shares) if shares else 0.0
    values.update(mean_layers(by_kind["read"], READ_LAYERS))
    values.update(mean_layers(by_kind["write"], WRITE_LAYERS))
    values.update(mean_layers(ops, ALL_LAYERS))
    values["warehouse.files"], values["warehouse.bytes"] = map(float, wl.storage())
    dlq = wl.dlq_rows()
    values["dlq.rows.unroutable_subject"] = float(dlq.get("unroutable_subject", 0))
    values["dlq.rows.decode_error"] = float(dlq.get("decode_error", 0))
    values["setup.cold_s"] = setup_times[0]
    values["process.peak_rss_mb"] = peak_rss
    values["trace.overhead_ms"] = (traced[0][1] - plain[-1][1]) * 1000.0
    lines = [f"# layer {k} = {v:.4f}" for k, v in sorted(values.items())]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    return metrics, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("dashboard", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run the self-test")
    ap.add_argument("--small", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument(
        "--wrong-expectation", action="store_true",
        help="corrupt one expected answer, so the gate must fail (self-test)",
    )
    args = ap.parse_args(argv)
    if args.smoke:
        import smoke

        return smoke.main(HERE)
    if args.workload is None:
        ap.error("--workload is required")

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    sampler = spark = tracer = None
    try:
        conf = pin_environment(work)
        try:
            import pyspark  # noqa: F401

            import ed_clickhouse_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
            return 2
        import spans

        tracer = spans.Tracer(enabled=False)
        spark, wl, setup_times = set_up(args, work, conf, tracer)
        log("set-up done")
        sampler = RssSampler()
        sampler.start()
        if args.wrong_expectation:
            wl.corrupt_expectation()
        if args.trace:
            wl.trace_layers()
        result = measure(args, wl, tracer)
        log("measured")
        peak = sampler.stop()
        sampler = None
        if args.trace:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                declared = json.load(f)["per_layer"]
            metrics, lines = per_layer(wl, tracer, setup_times, result, peak, declared)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"))
        e2e, e2e_lines, attempted, failed = end_to_end(wl, setup_times, result, peak)
        if not args.trace:
            metrics, lines = e2e, []
        for line in e2e_lines + lines:
            print(line)
        tracer.unwrap()
        stop_spark(spark)
        spark = None
        log("stopped")
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if sampler is not None:
            sampler.stop()
        if tracer is not None:
            tracer.unwrap()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it


if __name__ == "__main__":
    sys.exit(main())
