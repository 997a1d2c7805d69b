"""Command line of the PagesPipeline benchmark (see ``harness.py``).

    python3 perfbench/run.py --workload narrow_cold --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Exits 2 without a result when the
checkout has no ``neo4j_export_tool_spark`` package to measure.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("narrow_cold", "wide_cold")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    args = parser.parse_args(argv)

    if not (ROOT / "neo4j_export_tool_spark").is_dir():
        print(f"perfbench: no neo4j_export_tool_spark package under {ROOT}", file=sys.stderr)
        return 2
    # after this directory, before any installed copy of the package
    sys.path.insert(1, str(ROOT))
    import harness

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return harness.run_benchmark(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
