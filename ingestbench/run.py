"""Entry point: ``python3 ingestbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root (see cli.py)."""

import time

T_START = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

if __name__ == "__main__":
    # the package root instead of this directory: module names here must
    # not shadow others
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from ingestbench.cli import main

    sys.exit(main(sys.argv[1:], T_START))
