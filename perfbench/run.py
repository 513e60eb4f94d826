"""Repository benchmark.

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see BENCHMARK.json and
perfbench/README.md):

  query-mix      closed loop, one client: relational and LLM-pipeline
                 registry queries on generated tables
  stream-lever   open loop: zipf-keyed event files on a fixed schedule
                 into one Structured Streaming query running the Lever
                 loop and an upsert sink

Inputs are generated into a scratch directory inside the checkout, which
is removed when the run ends: fixed tables for ``query-mix``, events
drawn from ``--seed`` for ``stream-lever``.  With ``--trace 0``
the last stdout line carries the end-to-end metrics, with ``--trace 1``
the per-layer metrics; the line before it carries the host facts and
run details.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # a run must leave the checkout unchanged

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("query-mix", "stream-lever")
WORK_DIR = ".perfbench_work"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM, Python workers and DuckDB write
    inside the run's scratch directory."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    import tempfile

    tempfile.tempdir = str(tmp)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "spark_lever_spark").is_dir() or not (ROOT / "tests" / "oracle.py").is_file():
        print("perfbench: engine sources not found next to perfbench/", file=sys.stderr)
        return 2
    # a terminated run still stops the engine (see the ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / WORK_DIR / str(os.getpid())
    _prepare_env(work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))

    from engine import RunContext, become_subreaper, stop_engine
    from measure import check_metric_name

    become_subreaper()

    ctx = RunContext(args.workload, args.seed, args.seconds, bool(args.trace), nproc, str(work))
    try:
        if args.workload == "stream-lever":
            import streamlever

            res = streamlever.run(ctx)
        else:
            import querymix

            res = querymix.run(ctx)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / WORK_DIR).rmdir()
        except OSError:
            pass

    metrics = {
        check_metric_name(k): {"value": float(v), "unit": u}
        for k, (v, u) in res["metrics"].items()
    }
    print(json.dumps({"details": ctx.details}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
