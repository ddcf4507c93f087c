"""Benchmark of the EVM indexing engine: one workload per run.

    python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 18 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``index_lifecycle`` (perfbench/lifecycle.py): backfill, then tip-follow a
  reorging chain served over JSON-RPC by a generator process, with REST
  reads beside the writes;
- ``catalog_analytics`` (perfbench/analytics.py): catalog entries over a
  seeded sf0.1 dataset, each checked against its DuckDB oracle.

Every run prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the engine's public functions
are wrapped in spans and the metrics are the per-layer ones.  The run
writes its Spark scratch, temporary files and stores under ``.perfbench/``
in the checkout and removes them at exit; the engine's own fixture caches
(``.fixture_cache/``) stay, as they do after the engine's tests.  Before it
exits, on every path out (SIGTERM included), the run stops every process it
started and waits for each to end: the JVM and its Python workers, the chain
generator and the REST client processes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = {
    "index_lifecycle": "lifecycle",
    "catalog_analytics": "analytics",
}
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "bulk_job_s": "s"}
STOP_TIMEOUT_S = 60.0


def _descendants() -> dict[int, bool]:
    """Every process below this one, zombies too: pid -> still running."""
    parent: dict[int, tuple[int, bool]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue  # ended meanwhile
            fields = stat[stat.rindex(")") + 2:].split()
            parent[int(d.name)] = (int(fields[1]), fields[0] != "Z")
    out: dict[int, bool] = {}
    todo = [os.getpid()]
    while todo:
        p = todo.pop()
        for c, (pp, running) in parent.items():
            if pp == p and c not in out:
                out[c] = running
                todo.append(c)
    return out


def become_subreaper() -> None:
    """Have processes orphaned below this one (the Python workers and shell
    helpers the JVM leaves) re-parented here rather than to init, so the
    run can wait for them and reap them (Linux only; elsewhere a no-op)."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_processes(spark) -> None:
    """Stop Spark, its JVM (with the Python workers it started) and the
    multiprocessing resource tracker, and wait until every process below
    this one has ended and been reaped; kill what still runs after
    ``STOP_TIMEOUT_S``.  Without this the JVM outlives the run by a second
    or more: it notices only at interpreter exit that its stdin closed."""
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — already stopped or the JVM is gone
            pass
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        left = _descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for p in (p for p, running in left.items() if running):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")  # killed: wait for them to go
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass  # reap our own children
        except ChildProcessError:
            pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()

    base = ROOT / ".perfbench"
    work = base / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    # everything the run, Spark and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))

    from perfbench import common as cm

    ctx = cm.Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work)
    try:
        module = __import__(f"perfbench.{WORKLOADS[args.workload]}", fromlist=["run"])
        e2e, layers = module.run(ctx)
        if args.trace:
            metrics = {k: {"value": layers[k], "unit": u} for k, u in cm.PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    except Exception:  # noqa: BLE001 — top of the run: report and fail
        traceback.print_exc()
        return 1
    finally:
        stop_processes(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in ctx.failures:
        print(f"check failed: {line}", file=sys.stderr)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
