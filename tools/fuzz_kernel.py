"""Long-haul fuzz driver for the kernel property laws.

The committed property tests cap max_examples for CI speed; the test
modules read ``HYP_EXAMPLES_SCALE`` and multiply every budget by it,
so idle machine time can hunt for falsifying examples the short runs
miss (that is exactly how the round-3 quantile-monotonicity and
signed-zero bugs were found).

Usage: python tools/fuzz_kernel.py [scale]      (default 50 → ~50×
       the CI example budget per property)
Exits with pytest's status; on a falsifying example, freeze it as an
``@example`` pin in the source test.
"""

from __future__ import annotations

import os
import subprocess
import sys

TARGETS = [
    "tests/test_property_merge_laws.py",
    "tests/test_property_batch_query.py",
    "tests/test_agg_vectorized.py::TestPartialPathProperty",
    "tests/test_sampling.py::TestBottomKKernel",
]


def main() -> int:
    scale = sys.argv[1] if len(sys.argv) > 1 else "50"
    env = dict(os.environ, HYP_EXAMPLES_SCALE=str(int(scale)))
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
           *TARGETS]
    print(f"fuzzing at {scale}× the CI example budget: {' '.join(cmd)}")
    return subprocess.call(cmd, cwd=repo_root, env=env)


if __name__ == "__main__":
    sys.exit(main())
