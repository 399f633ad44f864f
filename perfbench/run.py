"""Benchmark of the incremental KG loop (``pipeline.run_incremental``).

    python3 perfbench/run.py --workload small_batches --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  Each workload is a seeded world made
by the program's fixture generator and written to parquet
(``perfbench/worlds.py``).  The benchmark feeds it to ``run_incremental`` at
``local[nproc]`` as a closed loop: one driver, every batch present at the
start, and each batch starting when the previous batch's compute returns.

A run sets up (``get_spark`` with its Python-worker warm-up, the world read
and, in ivf mode, the ANN index build), makes untimed warm-up calls, then
makes a fixed number of timed ``run_incremental`` calls (sized from
``--seconds``) on fresh lakes, each over a batch group no other call uses.
Two more sessions only set up, so set-up time is a median of three.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` prints the
per-layer metrics: it alternates untraced and traced calls, and the traced
ones carry spans and Spark job labels (``perfbench/spans.py``) that fold the
session's event log into layers.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``attempted``/``failed``
count batches.  A batch fails if lineage does not record it or if its call
fails the oracle gate.  Everything the run writes stays under ``.perfbench/``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
BLAS_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def _bootstrap() -> None:
    """Environment the program and its Python workers inherit; must run
    before numpy or pyspark are imported."""
    for v in BLAS_VARS:   # parallelism comes from Spark tasks only
        os.environ[v] = "1"
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _program_check() -> None:
    """The program must come from this checkout, never from elsewhere."""
    try:
        import incremental_entity_extraction_spark as pkg
    except ImportError as e:
        _fail(f"program package not found under {ROOT}: {e}")
    if not os.path.realpath(pkg.__file__).startswith(os.path.realpath(ROOT) + os.sep):
        _fail(f"program package resolved outside the checkout: {pkg.__file__}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _bootstrap()
    _program_check()
    from harness import run_workload, settings  # noqa: E402  (after the environment)

    print(json.dumps({"settings": settings(bool(args.trace))}), flush=True)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), WORK)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
