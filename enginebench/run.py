"""Engine benchmark: one seeded workload per invocation.

    python3 enginebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its corpus and query
streams from ``--seed``, drives the engine through its public entry
points (``build_index``, ``IndexReader``, the Flask app of
``create_app(SearchService)``, ``merge_indexes``, ``delete_documents``,
``compact_index``), checks every answer against the pure-Python oracle
in ``oracle/bm25_ref.py``, and prints one JSON object as the last line
of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Progress and failures go to stderr.

All scratch data (corpus parquet, indexes, ``spark.local.dir``, temp
files) lives under ``.enginebench_work/`` in the current directory and
is removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = ".enginebench_work"


def parse_args(workloads: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python create inside ``work``;
    must run before the first pyspark import starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # 4 GB of driver heap leaves the rest of a 15 GB box to the Python
    # workers and page cache
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = tmp


def main() -> int:
    # the engine lives at the repository root, the benchmark's own
    # modules next to this file
    sys.path[:0] = [HERE, os.getcwd()]
    try:
        import engine  # noqa: F401
        import oracle.bm25_ref  # noqa: F401
        import fixtures.gen_corpus  # noqa: F401
    except ImportError as e:
        print(f"enginebench: cannot import the engine from {os.getcwd()}: {e}",
              file=sys.stderr)
        return 2
    from workload import WORKLOADS, run

    args = parse_args(sorted(WORKLOADS))
    # turn SIGTERM into SystemExit so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.abspath(os.path.join(WORK_ROOT, f"run-{os.getpid()}"))
    prepare_env(work)
    t0 = time.perf_counter()

    def log(msg: str) -> None:
        print(f"[{time.perf_counter() - t0:7.1f}s] {msg}", file=sys.stderr, flush=True)

    try:
        result = run(args.workload, work, args.seed, args.seconds, bool(args.trace), log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
