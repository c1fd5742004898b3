"""Benchmark runner for the OSM->GeoJSON, image-tiling and point-tiling jobs.

    python3 perfbench/run.py --workload osm_planet --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload

Run from the repository root. One run: generate (or reuse) the seeded
inputs, start a ``local[nproc]`` session, set it up again at least five
times, discard two warm-up jobs (tiny inputs, then the run's own), then
either run jobs back to back for at least ``--seconds`` (closed loop, one
job at a time, each into a fresh output directory and checked) or, with
``--trace 1``, run the traced per-layer pass. Samples taken while other
tenants stole CPU time are retaken (see STEAL_MAX). A table goes to
stdout and the last line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics, or per-layer ones when traced).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
# Heap size, well under the host's memory (session.py defaults to 24g). The
# heap is fixed (-Xms = -Xmx): a heap that grows from the JVM's default
# keeps job times drifting down for minutes, so runs of different lengths
# or pace would not agree.
DRIVER_MEM = "2g"
# Other tenants of a shared host take CPU time from this one (steal time),
# in bursts of seconds to minutes; a job during which they took a few
# percent runs up to twice as long. Each timed sample records the steal
# share of the host's CPU time while it ran; a run keeps taking samples
# past --seconds (up to RETAKE times it) until it has enough under
# STEAL_MAX, and reports the median of the least-stolen ones.
STEAL_MAX = 0.02
RETAKE = 2
TIMED_JOBS = 3      # job_s is the median of the 3 least-stolen timed jobs
SETUPS = 5          # setup_s is the median of the 5 least-stolen set-ups


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal(ticks0: list[int]) -> float:
    """Share of the host's CPU time that went to steal since ``ticks0``."""
    d = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    return d[7] / max(1, sum(d))


def _enough(samples: list[tuple], want: int) -> bool:
    """``want`` of the (seconds, steal) samples ran with little steal."""
    return sum(st <= STEAL_MAX for _, st in samples) >= want


def _least_stolen(samples: list[tuple], want: int) -> float:
    """Median seconds of the ``want`` samples with the least steal."""
    return statistics.median(t for t, _ in sorted(samples, key=lambda x: x[1])[:want])


def _env(cores: int) -> dict:
    """Point Spark, the JVM and Python at scratch space inside the
    checkout; returns the session's extra conf."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_LAUNCHER_OPTS=jvm_opts,  # the launcher JVM spark-submit runs first
        TMPDIR=tmp, PYSPARK_PYTHON=sys.executable)
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    return {"spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{heap}",
            "spark.ui.showConsoleProgress": "false"}


def _start(extra_conf: dict):
    """SparkSession start through a tiny warm job; returns (spark, s)."""
    from osm2geojson_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def _shutdown(spark) -> None:
    """Stop the session, end the gateway JVM and wait for its process
    tree (the Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from spans import ProcTree

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = ProcTree(proc.pid).pids() if proc else []
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for p in pids:
        while time.time() < deadline and _alive(p):
            time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _fresh(path: str) -> str:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path


class Runner:
    """One workload, one seed, one process."""

    def __init__(self, wl, meta: dict, out_root: str):
        self.wl, self.meta, self.out_root = wl, meta, out_root
        self.attempted = self.failed = 0
        self.n = 0

    def one_job(self, spark, meta: dict | None = None) -> tuple[float, int]:
        """Run and check one job (on ``meta``'s inputs, the run's own by
        default) in a fresh output directory; returns (seconds, output
        bytes). A job that raises or fails its check counts as failed."""
        meta = meta or self.meta
        from workloads import dir_stats

        spark.catalog.clearCache()
        out = _fresh(os.path.join(self.out_root, f"job{self.n}"))
        self.n += 1
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = self.wl.job(spark, meta, out)
            dt = time.perf_counter() - t0
            errs = self.wl.check(spark, meta, out, res)
        except Exception:  # noqa: BLE001 — a failed job is counted, the run goes on
            dt = time.perf_counter() - t0
            errs = [traceback.format_exc()]
        size = dir_stats(out)[1]
        shutil.rmtree(out)
        if errs:
            self.failed += 1
            print(f"job {self.n - 1} FAILED:\n  " + "\n  ".join(errs), file=sys.stderr)
        return dt, size


def run_one(args) -> int:
    cores = len(os.sched_getaffinity(0))
    extra_conf = _env(cores)
    sys.path.insert(0, ROOT)
    try:
        import osm2geojson_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as ex:
        print(f"error: the program is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    import gen
    from metrics import END_TO_END, PER_LAYER
    from spans import ProcTree, Tracer
    from workloads import WORKLOADS

    load0 = _loadavg()
    phases = {"start": time.perf_counter()}
    cache = os.path.join(WORK, "cache")
    meta = gen.ensure_inputs(cache, args.workload, args.seed, args.size)
    warm_meta = gen.ensure_inputs(cache, args.workload, args.seed, "tiny")
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    out_root = _fresh(os.path.join(WORK, "out", run_id))
    tracer = Tracer(run_id, cores)

    from pyspark import SparkContext

    runner = Runner(wl, meta, out_root)
    spark = None
    try:
        t0 = phases["inputs"] = time.perf_counter()
        spark, cold_s = _start(extra_conf)
        tracer.record("session.start", t0, time.perf_counter())
        setups = []  # (seconds, steal)
        while not args.trace:
            spark.stop()
            ticks = _cpu_ticks()
            spark, s = _start(extra_conf)
            setups.append((s, _steal(ticks)))
            if len(setups) >= SETUPS and (
                    _enough(setups, SETUPS) or len(setups) >= RETAKE * SETUPS):
                break
        phases["session"] = time.perf_counter()
        procs = ProcTree(SparkContext._gateway.proc.pid)
        # warm-up, checked, not timed: the same job on the tiny inputs warms
        # codegen, the JIT and the Python workers at about two thirds of a
        # full first job's cost; the next full-size job still runs ~20%
        # slower than the ones after it, so it is discarded too
        runner.one_job(spark, warm_meta)
        runner.one_job(spark)
        phases["warm-up"] = time.perf_counter()
        ticks0 = _cpu_ticks()
        if args.trace:
            tracer.attach(spark.sparkContext, procs)
            spark.catalog.clearCache()
            runner.attempted += 1
            try:
                metrics, errs = wl.trace(spark, meta, os.path.join(out_root, "trace"), tracer)
                metrics.update(_trace_metrics(tracer))
            except Exception:  # noqa: BLE001 — reported as a failed run
                metrics, errs = {}, [traceback.format_exc()]
            if errs:
                runner.failed += 1
                print("traced run FAILED:\n  " + "\n  ".join(errs), file=sys.stderr)
            values = {k: metrics.get(k, 0) for k in PER_LAYER}
            units = {k: v[0] for k, v in PER_LAYER.items()}
        else:
            times, sizes = [], []  # (seconds, steal), bytes
            t_start = time.perf_counter()
            while True:
                ticks = _cpu_ticks()
                dt, size = runner.one_job(spark)
                times.append((dt, _steal(ticks)))
                sizes.append(size)
                spent = time.perf_counter() - t_start
                if spent >= args.seconds and (
                        _enough(times, TIMED_JOBS) or spent >= RETAKE * args.seconds):
                    break
            job_s = _least_stolen(times, TIMED_JOBS)
            values = {
                "job_s": job_s,
                "rows_per_s": meta["rows"] / job_s,
                "setup_s": _least_stolen(setups, SETUPS),
                "peak_rss_mb": procs.peak_rss_mb(),
                "output_bytes": statistics.median(sizes),
            }
            units = {k: v[0] for k, v in END_TO_END.items()}
        phases["measured"] = time.perf_counter()
        steal = _steal(ticks0)
    finally:
        _shutdown(spark)
        shutil.rmtree(out_root, ignore_errors=True)
    phases["shutdown"] = time.perf_counter()
    load1 = _loadavg()

    print(f"workload {args.workload}  seed {args.seed}  size {args.size}  "
          f"cores {cores}  rows {meta['rows']}  trace {args.trace}")
    for k, v in values.items():
        print(f"  {k:44s} {v:>14.6g} {units[k]}")
    print(f"  {'failed_ratio':44s} {runner.failed / runner.attempted:>14.6g} 1"
          f"  ({runner.failed}/{runner.attempted} jobs, warm-up included)")
    if args.trace:
        path = os.path.join(WORK, "traces", f"{run_id}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                           "size": args.size, "cores": cores, "metrics": values,
                           "loadavg": [load0, load1]})
        print(f"  spans: {path}")
    else:
        print(f"  job samples {len(times)} (s, steal): "
              + " ".join(f"{t:.3f}/{st:.1%}" for t, st in times))
        print(f"  set-ups {len(setups)} (s, steal): "
              + " ".join(f"{t:.3f}/{st:.1%}" for t, st in setups)
              + f"  (cold JVM start {cold_s:.3f} s)")
    marks = list(phases.items())
    print("  run phases: " + ", ".join(
        f"{k} {t - marks[i][1]:.1f} s" for i, (k, t) in enumerate(marks[1:])))
    print(f"  steal time while measuring: {steal:.1%} of the host's CPU time "
          "(other tenants; it slows every figure)")
    print(f"  loadavg start: {load0}\n  loadavg end:   {load1}")
    print(json.dumps({
        "correct": runner.failed == 0, "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0


def _trace_metrics(tr) -> dict:
    """Session, whole-job and overhead figures common to every workload."""
    job = tr.get("job")
    layers = tr.get("layers")
    span_sum = sum(s["dur_s"] for s in tr.spans if s["parent"] == layers["id"])
    return {
        "session.start_s": tr.get("session.start")["dur_s"],
        "job.stages": job["stages"], "job.tasks": job["tasks"],
        "job.failed_tasks": job["failed_tasks"], "job.cpu_util": job["cpu_util"],
        "trace.job_s": job["dur_s"], "trace.span_sum_s": span_sum,
        "trace.overhead_ratio": span_sum / job["dur_s"],
    }


def run_all(args) -> int:
    """Every workload in turn, each in its own process (own JVM)."""
    from gen import WORKLOADS

    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        rc |= subprocess.run(cmd, check=False).returncode
    return rc


def main(argv: list[str] | None = None) -> int:
    from gen import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", choices=("tiny", "bench"))
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
