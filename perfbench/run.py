"""Layered benchmark for the CDC lifecycle and the query corpus.

    python3 perfbench/run.py --workload cdc_lifecycle --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads: ``cdc_lifecycle`` and ``corpus``
(see BENCHMARK.json for why each exists, and ``perfbench/layers.json`` for
the layer map). One client thread drives one Spark driver on
``local[<cores>]`` in a closed loop.

Per invocation: build the inputs from the seed three times (``setup_s`` is
the median), start Spark, warm up and check every output against its
oracle outside the timed region, then run whole passes over the
workload's operation list until ``--seconds`` is used up (at least one).

Output: a human-readable report on stderr, one JSON line with every named
metric of the workload (``"report"``), and as the last line the result
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs each operation under
its own Spark job group and reports the per-layer metrics instead, and
writes the spans to ``.perfbench_out/``. Scratch data lives in
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Outcome:
    """What one workload run measured and checked."""

    def __init__(self, seconds: float, tracer) -> None:
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.latency: dict[str, list[float]] = {}
        self.pass_list: list[str] = []
        self.unit_kinds: list[str] | None = None
        self.pass_walls: list[float] = []
        self.cpu_region_s = 0.0
        self.checks: list[tuple[str, bool, str]] = []
        self.named_metrics: dict[str, dict] = {}
        self.layer_metrics: dict[str, dict] = {}
        self.details: dict[str, float] = {}
        self.timed_first_span = 0
        self.timed_last_span = 0

    def attempt(self, kind: str, fn, record: bool = True) -> None:
        """Run one operation; it returns its own latency in seconds. An
        exception counts the operation as failed, never aborts the run."""
        self.attempted += 1
        try:
            lat = fn()
        except Exception:  # noqa: BLE001 — a failed operation is data
            self.failed += 1
            _log(f"operation {kind} failed:\n{traceback.format_exc()}")
            return
        if record:
            self.latency.setdefault(kind, []).append(lat)

    def timed_passes(self, one_pass, max_passes: int | None = None) -> None:
        from perfbench.trace import tree_cpu_s

        self.timed_first_span = len(self.tracer.spans)
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        while True:
            t = time.perf_counter()
            one_pass(len(self.pass_walls))
            self.pass_walls.append(time.perf_counter() - t)
            self.tracer.collect()
            used = time.perf_counter() - t0
            if (max_passes is not None and len(self.pass_walls) >= max_passes) \
                    or used + statistics.median(self.pass_walls) > self.seconds:
                break
        self.cpu_region_s = tree_cpu_s() - cpu0
        self.region = (t0, time.perf_counter())
        self.timed_last_span = len(self.tracer.spans)

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.checks.append((name, bool(ok), "" if ok else detail))

    def named(self, name: str, value, unit: str) -> None:
        self.named_metrics[name] = {"value": value, "unit": unit}

    def layer(self, name: str, value, unit: str) -> None:
        self.layer_metrics[name] = {"value": value, "unit": unit}

    def detail(self, name: str, value) -> None:
        self.details[name] = value

    def kind_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.latency.items() if v}


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


class Context:
    def __init__(self, **kw) -> None:
        self.__dict__.update(kw)


def _workloads():
    from perfbench import cdc, corpus

    return {
        "cdc_lifecycle": (cdc.setup, cdc.CdcLifecycle),
        "corpus": (corpus.setup, corpus.Corpus),
    }


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM, DuckDB and Python write inside the
    checkout, and let Spark's Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def _start_spark(cores: int, work: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from cdc_init_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job of a traced pass in the status store until read
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _host_stamp() -> dict:
    """bench.py's host-noise record: load averages and the fixed-work
    calibration probe, taken before any Spark work."""
    sys.path.insert(0, ROOT)
    from bench import _calibration_probe, _loadavg

    return {"loadavg": _loadavg(), "calibration_probe_s": _calibration_probe()}


def _end_to_end(out: Outcome, setup_s: float) -> dict:
    meds = out.kind_medians()
    units = out.unit_kinds or out.pass_list
    from perfbench.trace import peak_rss_by_process

    passes = max(1, len(out.pass_walls))
    rss = peak_rss_by_process()

    return {
        "setup_s": setup_s,
        "mix_s": statistics.median(out.pass_walls) if out.pass_walls else 0.0,
        "op_p50_s": statistics.median([x for k in units for x in out.latency.get(k, [])])
        if out.unit_kinds else statistics.median([meds[k] for k in units if k in meds] or [0.0]),
        "op_geomean_s": _geomean([meds[k] for k in out.pass_list if k in meds]),
        "cpu_s": out.cpu_region_s / passes,
        "py_peak_rss_mb": sum(v for k, v in rss.items() if not k.endswith(":java")),
    }


def _jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _spark_layers(out: Outcome, tracer, cores: int) -> None:
    """Session-wide counters over the timed operations, per pass."""
    tops = [s for s in tracer.spans[out.timed_first_span:out.timed_last_span]
            if s.parent is None]
    tot = tracer.sum_counters(tops)
    per = max(1, len(out.pass_walls))
    wall = sum(s.wall for s in tops)
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("shuffle_bytes", "B"), ("spill_bytes", "B")):
        out.layer(f"spark.{k}", tot[k] // per, unit)
    out.layer("spark.executor_cpu_s", tot["executor_cpu_s"] / per, "s")
    out.layer("spark.busy_share",
              tot["executor_cpu_s"] / (wall * cores) if wall else 0.0, "ratio")
    out.layer("trace.overhead_share", tracer.overhead_s / sum(out.pass_walls), "ratio")
    out.detail("trace.collect_s", tracer.collect_s)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] Spark master (default: usable cores)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input size (the smoke test shrinks it)")
    ap.add_argument("--limit", type=int, default=0,
                    help="cap queries per pass / changes per pass (smoke test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cdc_init_spark", "__init__.py")):
        _log(f"perfbench: no engine package next to {HERE}; run it from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        _log(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads)}")
        return 2
    setup_fn, factory = workloads[args.workload]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _environment(work)
    spark = None
    t_begin = time.perf_counter()
    try:
        stamp = _host_stamp()
        inputs_dir = os.path.join(work, "inputs")
        setups = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(inputs_dir, ignore_errors=True)
            t = time.perf_counter()
            setup_fn(args.seed, inputs_dir, args.scale)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        spark = _start_spark(args.cores, work)
        spark_start_s = time.perf_counter() - t

        from perfbench.trace import Tracer, peak_rss_by_process

        tracer = Tracer(spark, bool(args.trace), run_id)
        ctx = Context(spark=spark, tracer=tracer, seed=args.seed, inputs=inputs_dir,
                      work=work, cores=args.cores, limit=args.limit)
        out = Outcome(args.seconds, tracer)
        workload = factory(ctx)
        t_run = time.perf_counter()
        workload.run(out)
        t_done = time.perf_counter()
        out.detail("phases_s", {
            "before_spark": t - t_begin, "spark_start": spark_start_s,
            "warm_and_check": out.region[0] - t_run,
            "timed": out.region[1] - out.region[0],
            "after_timed": t_done - out.region[1]})

        declared = _declared()
        values = _end_to_end(out, statistics.median(setups))
        e2e = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared["end_to_end"]}
        if args.trace:
            _spark_layers(out, tracer, args.cores)
            with open(os.path.join(out_dir, f"spans-{run_id}.json"), "w") as f:
                json.dump(tracer.dump(), f)
        failed_checks = [c for c in out.checks if not c[1]]
        for name, _, detail in failed_checks:
            _log(f"CHECK FAILED {name}: {detail}")
        # every oracle mismatch counts as a failed operation
        attempted = out.attempted + len(out.checks)
        failed = out.failed + len(failed_checks)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": args.cores, "host": stamp, "spark_start_s": spark_start_s,
            "setup_runs_s": setups, "passes": len(out.pass_walls),
            "pass_walls_s": out.pass_walls, "checks": len(out.checks),
            "error_rate": failed / attempted if attempted else 0.0,
            "end_to_end": e2e,
            "named": out.named_metrics, "per_layer": out.layer_metrics,
            "details": out.details,
            "op_medians_s": out.kind_medians(),
            # memory figures the JVM's heap sizing makes too noisy to gate
            "peak_rss_mb": sum(peak_rss_by_process().values()),
            "peak_rss_by_process_mb": peak_rss_by_process(),
            "jvm_live_heap_mb": _jvm_live_heap_mb(spark),
        }
        _log(json.dumps(report, indent=1, default=str))
        print(json.dumps({"report": report}, default=str))
        # a layer this workload never enters reads 0
        metrics = {m["name"]: out.layer_metrics.get(m["name"], {"value": 0, "unit": m["unit"]})
                   for m in declared["per_layer"]} if args.trace else e2e
        print(json.dumps({"correct": not failed_checks and out.failed == 0,
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the last run removes the parent too
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
