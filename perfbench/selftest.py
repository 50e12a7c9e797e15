"""Self-test: both multimodal queries, whose Python workers must import
bdt_spark, run clean in a workload process launched the benchmark's way
(working directory outside the repo root, PYTHONPATH set by run.py).

    python3 perfbench/selftest.py

Exits 1 if a multimodal query errors or returns rows other than
expected.json's.
"""

from __future__ import annotations

import sys

from run import launch
from workload import MULTIMODAL


def main() -> int:
    res = launch("multimodal", seed=0, seconds=0, trace=0)
    if res is None or res["failures"]:
        print("selftest FAILED", file=sys.stderr)
        return 1
    print(f"selftest ok: {MULTIMODAL} ran clean in {res['attempted']} attempts")
    return 0


if __name__ == "__main__":
    sys.exit(main())
