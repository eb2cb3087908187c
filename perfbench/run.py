"""Link-graph benchmark: one command, seeded workloads, checked outputs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

A run starts one Spark session, builds the workload's inputs from
``--seed``, warms up untimed, then repeats the workload's fixed pass as
many whole times as fit in ``--seconds`` (at least once). Every output is checked after the last timed pass.
Human-readable report lines go to stdout; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in ``BENCHMARK.json``.

See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

SETUP_REPEATS = 3
# 2 of the host's 4 cores: on a shared host 4 task threads straggle (README)
CORES = 2
# JVMs otherwise write a perf-data file under /tmp whatever java.io.tmpdir says
NO_PERF_DATA = "-XX:-UsePerfData"

# metric names and units come from BENCHMARK.json, the benchmark's spec
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def environment_record(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = "unknown (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True).stdout.strip()
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "commit": commit,
        "seed": seed,
        "spark_cores": CORES,
    }


def start_spark(work: str):
    """One local session whose every scratch file stays under ``work``."""
    from cassovary_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        cores=CORES,
        shuffle_partitions=CORES,
        extra_conf={
            # the engine's default heap (48g) can exceed the machine's
            # memory; every input here fits in 4g
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA}",
        },
    )
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def report(name: str, value, unit: str, note: str = "") -> None:
    shown = f"{value:.6g}" if isinstance(value, float) else str(value)
    print(f"  {name:<40} {shown:>14} {unit:<6} {note}")


class Run:
    """One workload in this process."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        # untraced wall seconds of named parts of each pass
        self.parts: dict[str, list[float]] = {}

    def checked(self, wl, out: dict) -> bool:
        """Count the pass's operations and failed checks; True if all passed."""
        before = len(self.failures)
        for op, problem in wl.check(out).items():
            self.attempted += 1
            if problem is not None:
                self.failures.append(f"{op}: {problem}")
        return len(self.failures) == before

    def measure(self, wl, spark, traced_too: bool) -> dict:
        """Timed passes that fit in ``--seconds``, then the output checks.
        Returns the walls of the untraced and traced passes that passed
        their checks, the per-layer samples of the traced ones, and the
        peak RSS before the checks ran."""
        from perfbench import tracing, workloads

        tracer = None
        if traced_too:
            tracer = tracing.Tracer(tracing.JobCounter(spark.sparkContext))
        # (traced, wall, outputs, part walls, layer metrics) per pass
        passes: list[tuple] = []
        deadline = time.perf_counter() + self.args.seconds
        # wall of each whole iteration: pass, traced extras and layer metrics
        iterations: list[float] = []
        i = 0
        while True:
            t_iter = time.perf_counter()
            with_trace = traced_too and i % 2 == 1
            t = tracer if with_trace else tracing.Tracer()
            if with_trace:
                tracer.clear()
                workloads.install_engine_wrappers(tracer)
                wl.install_wrappers(tracer)
            try:
                t0 = time.perf_counter()
                out = wl.run_pass(t)
                wall = time.perf_counter() - t0
                if with_trace:
                    wl.traced_extras(out, tracer)
            except Exception as exc:  # noqa: BLE001 — a failed pass is counted
                self.attempted += 1
                self.failures.append(f"pass raised {type(exc).__name__}: {exc}")
                out = None
            finally:
                if with_trace:
                    tracer.unwrap_all()
            if out is not None:
                layer = None
                if with_trace:
                    tracer.jobs.resolve()
                    layer = wl.layer_metrics(tracer, out)
                passes.append((with_trace, wall, out, dict(t.walls), layer))
            i += 1
            iterations.append(time.perf_counter() - t_iter)
            # only whole passes that fit in --seconds, and at least one (one
            # of each kind when traced), so a run's length does not depend on
            # where a long pass happens to end
            if (not traced_too or i >= 2) and (
                    time.perf_counter() + stats.median(iterations) > deadline):
                break
        # the checks pull results and reference data into this process, so
        # the peak is read before them
        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

        res = {"untraced": [], "traced": [], "layers": [], "latencies": [],
               "peak_rss_mb": peak_rss_mb}
        for with_trace, wall, out, walls, layer in passes:
            if not self.checked(wl, out):
                continue
            if with_trace:
                res["traced"].append(wall)
                res["layers"].append(layer)
                continue
            res["untraced"].append(wall)
            if "latency_s" in out:
                res["latencies"].append(out["latency_s"])
            for name, secs in walls.items():
                self.parts.setdefault(name, []).append(secs)
        return res

    def execute(self) -> dict:
        from perfbench import workloads

        spark = start_spark(self.work)
        session_s = time.perf_counter() - T_PROCESS
        wl = workloads.WORKLOADS[self.args.workload](spark, self.work, self.args.seed)
        try:
            setups = []
            # a traced run reports no setup_s, so it sets up once
            for _ in range(1 if self.args.trace else SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.setup_inputs()
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t0
            timed = self.measure(wl, spark, traced_too=bool(self.args.trace))
        finally:
            try:
                wl.close()
            finally:
                stop_spark(spark)
        setup_s = session_s + stats.median(setups) + warm_s
        return {
            "session_s": session_s, "setups": setups, "warm_s": warm_s,
            "setup_s": setup_s, "parts": self.parts, **timed,
        }


def summarize(args, res: dict, env: dict) -> dict:
    """Print the report and return the metrics the JSON line carries."""
    untraced = res["untraced"]
    print(f"# workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print("# env " + json.dumps(env, sort_keys=True))
    report("setup_s", res["setup_s"], "s",
           f"(session {res['session_s']:.3f} + median of {len(res['setups'])} input "
           f"set-ups {stats.median(res['setups']):.3f} + warm-up {res['warm_s']:.3f}; "
           f"set-ups {', '.join(f'{x:.3f}' for x in res['setups'])})")
    rss_mb = res["peak_rss_mb"]
    metrics = {"setup_s": res["setup_s"], "py_peak_rss_mb": rss_mb}
    if untraced:
        metrics["job_s"] = stats.median(untraced)
        report("job_s", metrics["job_s"], "s", f"(median, n={len(untraced)})")
    for name, vals in res["parts"].items():
        report(name, stats.median(vals), "s", f"(median, n={len(vals)})")
    lat = [x * 1e3 for x in res["latencies"]]
    if lat:
        q1, q3 = stats.quartiles(lat)
        report("walk_p50_ms", stats.median(lat), "ms",
               f"(median, n={len(lat)}, quartiles {q1:.1f}-{q3:.1f})")
        t = stats.tail(lat)
        if t is None:
            report("walk_tail_ms", "n/a", "ms", f"(n={len(lat)}: too few for a tail)")
        else:
            report("walk_tail_ms", t[1], "ms", f"(p{t[0]}, n={len(lat)})")
        report("walks_per_s", len(lat) / sum(res["latencies"]), "1/s",
               f"(closed loop, 1 client, n={len(lat)})")
    report("py_peak_rss_mb", rss_mb, "MB", "(set-up, warm-up and timed passes; before the checks)")
    if args.trace:
        unknown = sorted({k for m in res["layers"] for k in m} - set(PER_LAYER))
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        layer = {}
        for name in PER_LAYER:
            vals = [m[name] for m in res["layers"] if name in m]
            layer[name] = float(stats.median(vals)) if vals else 0.0
        if untraced and res["traced"]:
            layer["trace.job_s_untraced"] = stats.median(untraced)
            layer["trace.job_s_traced"] = stats.median(res["traced"])
            layer["trace.overhead_s"] = (
                layer["trace.job_s_traced"] - layer["trace.job_s_untraced"])
        layer["session.start_s"] = res["session_s"]
        print(f"# per-layer (median of {len(res['layers'])} traced passes; "
              "0 = layer not exercised by this workload)")
        for name, unit in PER_LAYER.items():
            report(name, layer[name], unit)
        return layer
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    stats.self_test()
    # a terminated run unwinds like a failed one: Spark stops, scratch goes
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    knobs = sorted(k for k in os.environ if k.startswith("CASSOVARY_"))
    if knobs:
        print("perfbench: refusing to run with engine knobs set (no caller's knob "
              f"may change what is measured): {', '.join(knobs)}", file=sys.stderr)
        return 2

    from perfbench import workloads

    if args.workload == "all":
        return run_all(args, list(workloads.WORKLOADS))
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every file the engine, Spark or its JVMs write stays inside the checkout;
    # this moves the engine's scratch (superstep state, shuffle and spill)
    # off its default /dev/shm onto the checkout's file system (README)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["CASSOVARY_SPARK_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " " + NO_PERF_DATA).strip()
    try:
        try:
            import cassovary_spark  # noqa: F401 — the program under test, from ROOT
        except ImportError as exc:
            print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
                  file=sys.stderr)
            return 3
        env = environment_record(args.seed)
        run = Run(args, work)
        res = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    metrics = summarize(args, res, env)
    units = PER_LAYER if args.trace else END_TO_END
    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    report("failed_frac", failed / attempted, "1", f"({failed} of {attempted} operations)")
    for problem in run.failures[:20]:
        print(f"  FAILED {problem}")
    missing = [k for k in units if k not in metrics]
    correct = failed == 0 and not missing
    if missing:
        print(f"  no samples for: {', '.join(missing)}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0


def run_all(args, names: list[str]) -> int:
    """Each workload in its own process, one after the other."""
    code = 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT)
        code = code or proc.returncode
    return code


if __name__ == "__main__":
    sys.exit(main())
