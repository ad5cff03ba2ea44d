#!/usr/bin/env python3
"""Extraction benchmark. Run from the repo root:

    python3 perfbench/run.py --workload full_cascade --seed 1 --seconds 10 --trace 0

Workloads: full_cascade, header_job (listed in BENCHMARK.json) and
ner_tokens (by hand); README.md says why each.
One closed-loop driver process at local[<cores>] with OMP_NUM_THREADS=1.
The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics with --trace 0, per-layer ones with --trace 1.
Generated corpora are cached under .perfbench_cache/, scratch files go to
.perfbench_work/ and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "grobid_clinical_report_spark", "__init__.py")
WORKLOADS = ("full_cascade", "ner_tokens", "header_job")


def _environment(work: str) -> None:
    """Process environment, set before pyspark starts the JVM: the JVM and
    the Python workers inherit it."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # pyspark hands these to spark-submit when it launches the JVM; the
    # session's own options come from get_spark
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ]
    os.environ.update(
        OMP_NUM_THREADS="1",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
        # every JVM, spark-submit's launcher too, keeps its files in the work
        # directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(ENGINE):
        print(f"perfbench: engine package missing: {ENGINE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _environment(work)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import Bench

    bench = Bench(ROOT, work, os.path.join(ROOT, ".perfbench_cache"))
    try:
        result = bench.run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
