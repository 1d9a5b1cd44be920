#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The workload runs in this process on
``local[nproc]`` as a closed loop (one caller; the next iteration starts
when the previous one has finished and been checked).  With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of one traced iteration.  The line
before it is the run record: host, versions, seed, samples, failures.
Everything the run writes goes under ``.bench_tmp/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "powerbi_ontology_extractor_spark"


def run_dir(kind: str) -> str:
    """A fresh per-run directory under the checkout, and an environment
    that keeps temp files there and lets Spark's Python workers import
    the package.  Call before the JVM starts."""
    import tempfile

    tmp = os.path.join(ROOT, ".bench_tmp", f"{kind}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return tmp


def remove_run_dir(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:  # another run still uses .bench_tmp
        pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest() -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode())
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def make_session(tmp: str, traced: bool):
    from powerbi_ontology_extractor_spark import get_spark

    # the heap starts at half its cap: G1 otherwise grows it from 1/64
    # of host memory at moments set by GC timing, and VmHWM swung by
    # up to 0.24 of its median between runs of the same inputs
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            " -Xms1g",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(app_name="perfbench", parallelism=nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_iteration(wl, tr=None) -> tuple[float, list[str], float, float]:
    """One timed iteration, then its output check.  Returns the wall
    time, the check's complaints and the iteration's epoch window."""
    from perfbench.workloads import NULL_TRACER

    t0, p0 = time.time(), time.perf_counter()
    try:
        wl.iterate(tr or NULL_TRACER)
        wall = time.perf_counter() - p0
        t1 = time.time()
        bad = wl.check()
    except Exception:  # an iteration that raises is a failed operation
        wall = time.perf_counter() - p0
        t1 = time.time()
        bad = [traceback.format_exc()]
    for b in bad:
        log(f"FAILED {wl.name}: {b}")
    log(f"{wl.name}: iteration {wall:.3f} s, check {time.time() - t1:.3f} s")
    return wall, bad, t0, t1


def run(args, tmp: str) -> tuple[dict, dict]:
    from perfbench.workloads import (
        PER_LAYER,
        WORKLOADS,
        fresh_dir,
        input_digest,
        session_metrics,
    )

    wl = WORKLOADS[args.workload](args.seed, tmp)
    traced = bool(args.trace)
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "nproc": nproc(), "loadavg_start": loadavg()}

    # set-up: process start -> session up -> inputs written and read
    # back -> warm-up done.  The oracle is the benchmark's own work and
    # is left out.
    spark = None
    try:
        spark = make_session(tmp, traced)
        d = wl.write_inputs(fresh_dir(os.path.join(tmp, "inputs")))
        wl.load(spark)
        record["input_sha256"] = input_digest(d)[:16]
        record["input_rows"] = wl.rows
        phase = time.time()
        wl.oracle()
        record["oracle_s"] = round(time.time() - phase, 3)
        # a warm-up is checked like any iteration and counts as attempted
        walls, failed, attempted = [], 0, 0
        phase = time.time()
        for _ in range(wl.warmups):
            _, b, _, _ = run_iteration(wl)
            attempted += 1
            failed += bool(b)
        record["warmup_s"] = round(time.time() - phase, 3)
        setup_s = time.time() - T_PROCESS - record["oracle_s"]

        if not traced:
            t_loop = time.time()
            while True:
                wall, b, _, _ = run_iteration(wl)
                attempted += 1
                failed += bool(b)
                walls.append(wall)
                if len(walls) == 1:
                    # after a fixed amount of work, so that the peak does
                    # not depend on how many iterations fit in --seconds
                    peak_rss = jvm_peak_rss_mb(spark)
                if (len(walls) >= wl.min_samples
                        and time.time() - t_loop >= args.seconds):
                    break
            wall_s = statistics.median(walls)
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall_s, "s"),
                "rows_per_s": (wl.rows / wall_s, "rows/s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
        else:
            from perfbench.tracing import Tracer

            # one traced iteration, in the state the untraced runs time:
            # after the workload's warm-ups, so cold for kg_full.  The
            # untraced reference for the overhead is the traced wall less
            # the tracer's own time: another iteration as the reference
            # took a kg_full run past three minutes on a slow host
            tracer = Tracer(spark, f"{wl.name}-{args.seed}-{os.getpid()}")
            try:
                wall, b, t0, t1 = run_iteration(wl, tracer)
                attempted += 1
                failed += bool(b)
                walls.append(wall)
                spans = {s["name"]: s for s in tracer.spans}
                snap = tracer.snapshot(t0)
                layer = wl.layers(snap, tracer.py4j, spans)
                layer.update(session_metrics(snap, tracer.py4j, t0, t1))
                layer["trace.coverage"] = sum(
                    layer.get(k, 0.0) for k in wl.cover) / wall
                layer["trace.overhead_ratio"] = wall / (
                    wall - tracer.own_time(t0, t1))
                record["spans"] = [
                    {k: (round(v, 4) if isinstance(v, float) else v)
                     for k, v in s.items()} for s in tracer.spans]
            finally:
                tracer.close()
            metrics = {k: (float(layer.get(k, 0)), u)
                       for k, u in PER_LAYER.items()}
    finally:
        if spark is not None:
            phase = time.time()
            stop_jvm(spark)
            record["stop_s"] = round(time.time() - phase, 3)

    record.update(wl.notes)
    record.update({
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted,
        "samples": len(walls),
        "walls_s": [round(w, 4) for w in walls],
        "setup_s": round(setup_s, 4),
        "loadavg_end": loadavg(),
    })
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def main(argv: list[str] | None = None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "kg_oracles.py"))):
        print(f"perfbench: {PACKAGE}/ and kg_oracles.py must be in {ROOT}",
              file=sys.stderr)
        return 2

    tmp = run_dir("run")
    try:
        record, result = run(args, tmp)
    finally:
        remove_run_dir(tmp)
    record.update(versions())
    record["git_commit"] = git_commit()
    record["source_sha256"] = source_digest()
    print(json.dumps({"run": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
