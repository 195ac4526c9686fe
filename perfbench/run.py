"""Benchmark of the capture -> KPI -> stream -> forecast dataflow.

    python3 perfbench/run.py --workload capture_kpi --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process runs one workload:

1. set-up: process start to a ready Spark session, seeded inputs
   generated, sources registered;
2. one cold pass, ``--warmup`` untimed passes, then timed passes until
   ``--seconds`` have passed;
3. output checks after every pass and once per run against DuckDB.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The line before it holds host
diagnostics and the raw samples.  See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import probe  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PASS_TIMEOUT_S = 60.0
JVM_EXIT_TIMEOUT_S = 30.0
MIN_TIMED_PASSES = 3
TRACED_PASSES = 2
LAYERED_PASSES = 1
SINGLE_CORE_PASSES = 1
# workload gated end to end -> workload whose layers its traced run adds
SIDE_PROBE = {"capture_kpi": "query_mix", "forecast": "kpi_stream"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2, help="fixed Spark parallelism, local[N]")
    ap.add_argument("--warmup", type=int, default=2, help="untimed passes after the cold pass")
    return ap.parse_args()


def configure_env(work: str, cores: int) -> None:
    """Keep every file Spark and Python write inside the run's work dir
    and pin the parallelism; get_spark reads these at session start."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
            ),
            # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = tmp
    # settings inherited from the caller would change what is measured
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_PARTS"):
        os.environ.pop(k, None)


class Tracer:
    """Job groups and wall clocks around calls into the program."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def group(self, group: str):
        self.set_group(group)
        try:
            yield
        finally:
            self.set_group("bench")

    @contextlib.contextmanager
    def layer(self, group: str, into: dict, key: str):
        t0 = time.perf_counter()
        with self.group(group):
            yield
        into[key] = time.perf_counter() - t0

    @contextlib.contextmanager
    def segments(self, module, marks, first, into: dict):
        """Wrap ``module`` functions so that calling one closes the
        current segment and opens the next: each segment's wall time and
        the jobs started in it go to that segment's group."""
        state = {"group": first[0], "key": first[1], "t0": time.perf_counter()}

        def switch(group: str, key: str) -> None:
            now = time.perf_counter()
            into[state["key"]] = into.get(state["key"], 0.0) + now - state["t0"]
            state.update(group=group, key=key, t0=now)
            self.set_group(group)

        saved = {}
        for attr, group, key in marks:
            fn = getattr(module, attr, None)
            if fn is None:
                into.setdefault(key, 0.0)
                continue
            saved[attr] = fn

            def wrapped(*a, _fn=fn, _g=group, _k=key, **kw):
                switch(_g, _k)
                return _fn(*a, **kw)

            setattr(module, attr, wrapped)
        self.set_group(first[0])
        try:
            yield
        finally:
            switch("bench", "_bench")
            into.pop("_bench", None)
            for attr, fn in saved.items():
                setattr(module, attr, fn)


class Runner:
    """Runs passes of one workload and counts attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.next_pass = 0
        self.cpu_s: list[float] = []

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
        traceback.print_exc()

    def one_pass(self, spark, check_once: bool = False) -> float | None:
        """Wall seconds of one checked pass, or None if it failed."""
        wl, i = self.wl, self.next_pass
        self.next_pass += 1
        self.attempted += 1
        ctx = wl.prepare(i)
        timer = threading.Timer(PASS_TIMEOUT_S, wl.cancel, (spark,))
        timer.start()
        try:
            c0 = probe.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            result = wl.execute(spark, ctx)
            dt = time.perf_counter() - t0
            self.cpu_s.append(probe.tree_cpu_s(os.getpid()) - c0)
            timer.cancel()
            wl.check(spark, ctx, result)
            if check_once:
                wl.check_once(spark, ctx, result)
            return dt
        except Exception as exc:  # a failed pass is counted; the run goes on
            self.fail(f"pass {i}", exc)
            return None
        finally:
            timer.cancel()
            wl.cleanup(ctx)

    def passes(self, spark, n: int) -> list[float]:
        return [t for t in (self.one_pass(spark) for _ in range(n)) if t is not None]


def stop_processes() -> None:
    """Stop Spark and wait until every process this run started has
    ended: the JVM quits when its stdin closes, and whatever is left
    below this process (the JVM's Python workers) is signalled and
    waited for, so nothing outlives the run."""
    started = probe.descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        with contextlib.suppress(Exception):
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            if gateway is not None:
                gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(JVM_EXIT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    left = probe.end_processes(started + probe.descendants(os.getpid()))
    if left:
        print(f"processes that would not end: {left}", file=sys.stderr)


def main() -> int:
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "fiveg_spark")):
        print(f"no program to measure: {ROOT}/fiveg_spark is missing", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    units = per_layer_units() if args.trace else {}
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, args.cores)
    try:
        return measure(args, work, WORKLOADS[args.workload](args.seed, work), units)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))


def measure(args, work, wl, units: dict[str, str]) -> int:
    from fiveg_spark.session import get_spark

    ticks0 = probe.cpu_ticks()
    run = Runner(wl)
    layers: dict[str, float] = {}
    phases: dict[str, float] = {}
    # RSS is sampled only in the traced run, where it is reported; the
    # sampler lists /proc every 0.2 s and would share the driver's CPU
    with probe.PeakRss() if args.trace else contextlib.nullcontext() as rss:
        t_imports = time.perf_counter() - PROCESS_START
        spark = get_spark("perfbench")
        t_session = time.perf_counter() - PROCESS_START
        spark.range(1).count()
        session_start = time.perf_counter() - PROCESS_START
        t0 = time.perf_counter()
        wl.generate(0)
        gen_s = time.perf_counter() - t0
        wl.register(spark)
        setup_s = time.perf_counter() - PROCESS_START
        setup_parts = {
            "imports": t_imports,
            "get_spark": t_session - t_imports,
            "first_job": session_start - t_session,
            "generate": gen_s,
            "register": setup_s - session_start - gen_s,
        }

        cold = run.one_pass(spark)
        warm = run.passes(spark, args.warmup)
        times: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(times) < MIN_TIMED_PASSES:
            dt = run.one_pass(spark, check_once=not times)
            if dt is not None:
                times.append(dt)
            if run.attempted > 200:
                break
        pass_s = statistics.median(times) if times else float("nan")
        wl.stop(spark)
        spark.stop()
        if args.trace:
            phases["untraced"] = time.perf_counter() - PROCESS_START
            layers = traced_phase(args, work, wl, run, pass_s, phases)
    ticks1 = probe.cpu_ticks()

    host = {"steal_frac": probe.steal_fraction(ticks0, ticks1), "load1": probe.load1()}

    def finite(v: float | None) -> float:
        # a run whose passes all failed still prints numbers; correct is false
        return v if v is not None and math.isfinite(v) else 0.0

    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "warmup_passes": args.warmup,
        "timed_passes": len(times),
        "percentiles": f"median only: {len(times)} timed passes are too few for a high percentile",
        "warmup_times_s": warm,
        "pass_times_s": times,
        "pass_cpu_s": run.cpu_s,
        "setup_s": setup_s,
        "setup_parts_s": setup_parts,
        "cold_pass_s": cold,
        "fail_ratio": run.failed / run.attempted,
        "errors": run.errors,
        "host": host,
        "peak_rss_mb": rss.peak / 2**20 if rss else None,
        f"{wl.record_kind}_per_s": finite(wl.records / pass_s),
        "wall_s": time.perf_counter() - PROCESS_START,
        "trace_phases_s": phases,
    }
    print(json.dumps({"diagnostics": diagnostics}))

    ok = run.failed == 0 and bool(times) and cold is not None
    if args.trace:
        layers.update(
            {
                "session.start_s": session_start,
                "inputs.gen_s": gen_s,
                "host.steal_frac": host["steal_frac"],
                "host.load1": host["load1"],
                "mem.peak_rss_mb": rss.peak / 2**20,
                "cold_pass_s": finite(cold),
            }
        )
        undeclared = sorted(set(layers) - set(units))
        if undeclared:
            print(f"per-layer values not declared in BENCHMARK.json: {undeclared}", file=sys.stderr)
            ok = False
        # layers a workload bypasses read 0
        metrics = {n: {"value": finite(float(layers.get(n, 0.0))), "unit": u} for n, u in units.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": finite(pass_s), "unit": "s"},
        }
    print(json.dumps({"correct": ok, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


def traced_phase(args, work, wl, run: Runner, pass_s: float, phases: dict) -> dict[str, float]:
    """A second SparkContext in the same JVM with the event log on, set
    for it alone through JVM system properties (get_spark is unchanged):
    plain passes under one job group, then layered passes with a job
    group per layer, then the log folded by group.  capture_kpi adds a
    local[1] baseline in a third context."""
    from pyspark import SparkContext
    from workloads import WORKLOADS

    from fiveg_spark.session import get_spark

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    props = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    layers: dict[str, float] = {}
    jvm = SparkContext._jvm  # the gateway outlives the stopped context
    for k, v in props.items():
        jvm.java.lang.System.setProperty(k, v)
    try:
        spark = get_spark("perfbench-traced")
    finally:
        for k in props:
            jvm.java.lang.System.clearProperty(k)
    wl.generate(1)
    wl.register(spark)
    tracer = Tracer(spark)

    tracer.set_group("warm")
    run.passes(spark, 1)
    tracer.set_group("pass")
    plain = run.passes(spark, TRACED_PASSES)
    tracer.set_group("bench")
    layered = layered_passes(wl, spark, tracer, run, LAYERED_PASSES)
    pass_groups = wl.pass_groups()
    wl.stop(spark)
    t_side = time.perf_counter()
    phases["traced"] = t_side - PROCESS_START - phases["untraced"]
    # the layers of the workloads too slow to gate end to end, measured
    # inside this traced run (see README.md, "Workloads")
    side = WORKLOADS[SIDE_PROBE[wl.name]](args.seed, os.path.join(work, "side"))
    side.generate(0)
    side.register(spark)
    side_run = Runner(side)
    side_run.one_pass(spark, check_once=True)
    side_layered = layered_passes(side, spark, tracer, side_run, LAYERED_PASSES)
    side.stop(spark)
    run.attempted += side_run.attempted
    run.failed += side_run.failed
    run.errors += side_run.errors
    spark.stop()
    phases["side"] = time.perf_counter() - t_side

    for d in (layered, side_layered):
        for key in {k for x in d for k in x}:
            layers[key] = statistics.median(x[key] for x in d if key in x)
    folded = probe.fold_event_log(log_dir)
    if plain:
        layers["trace.pass_s"] = statistics.median(plain)
        layers["trace.overhead_s"] = layers["trace.pass_s"] - pass_s
        ex = probe.merge_groups(folded, pass_groups)
        for k in ("task_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "tasks_failed"):
            layers[f"exec.{k}"] = ex.get(k, 0.0) / len(plain)
        layers["exec.core_util"] = ex.get("task_s", 0.0) / (sum(plain) * args.cores)
    # event-log counts per layered pass of the workload that owns them
    per_layered = {
        "decode.tasks": ("capture_kpi", ("layer.decode",), "tasks"),
        "kpi.shuffle_bytes": ("capture_kpi", ("layer.kpi",), "shuffle_write_bytes"),
        # the groups of the one hybrid_eval pass, not the separate
        # ml.sequences / ml.forward materialisations
        "ml.jobs": ("forecast", ("ml.features", "ml.var", "ml.residuals", "ml.tail"), "jobs"),
        "mix.jobs": ("query_mix", ("q.",), "jobs"),
        "mix.stages": ("query_mix", ("q.",), "stages"),
        "mix.tasks": ("query_mix", ("q.",), "tasks"),
    }
    for name, (owner, prefixes, field) in per_layered.items():
        n = len(layered) if owner == wl.name else len(side_layered)
        got = probe.merge_groups(folded, list(prefixes)).get(field)
        if got is not None and n:
            layers[name] = got / n

    if wl.name == "capture_kpi":
        t_single = time.perf_counter()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            spark = get_spark("perfbench-1core")
            wl.generate(2)
            wl.register(spark)
            run.passes(spark, 1)
            single = run.passes(spark, SINGLE_CORE_PASSES)
            spark.stop()
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
        phases["single_core"] = time.perf_counter() - t_single
        if single:
            layers["exec.speedup_vs_1core"] = statistics.median(single) / pass_s
    return layers


def layered_passes(wl, spark, tracer, run: Runner, n: int) -> list[dict]:
    out = []
    for j in range(n):
        run.attempted += 1
        try:
            out.append(wl.layered(spark, j, tracer))
        except Exception as exc:  # counted like a failed pass
            run.fail(f"layered pass {j}", exc)
    return out


if __name__ == "__main__":
    sys.exit(main())
