"""The benchmark harness at the self-test sizes (``TINY``): the same
workloads on inputs small enough for a test.

Same command line as ``perfbench/run.py``:

    python3 perfbench/tests/tiny_run.py --workload web_kg --seed 1 --seconds 1 --trace 0
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import run, workloads  # noqa: E402

TINY = {
    "align_small": workloads.AlignWorkload(n_ents=80, n_triples=240, n_links=64,
                                           it_rounds=1, k_parts=4,
                                           hits1_csls_floor=0.5),
    "web_kg": workloads.WebKGWorkload(n_pages=200, n_copies=30),
}

if __name__ == "__main__":
    workloads.WORKLOADS.update(TINY)
    sys.exit(run.main())
