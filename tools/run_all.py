"""One-command verification: tests → correctness gate → plan audit → bench.

Usage: python tools/run_all.py
Exit 0 iff everything is green. ~25-30 minutes on local[32]
(475 tests + the 77-query gate + 16 plan audits + bench).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEPS = [
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"]),
    ("correctness gate", [sys.executable, "tools/check_oracle.py"]),
    ("plan audit", [sys.executable, "tools/explain_audit.py"]),
    ("bench", [sys.executable, "bench.py"]),
]


def main() -> int:
    failures = []
    for name, cmd in STEPS:
        t0 = time.time()
        r = subprocess.run(cmd, cwd=REPO)
        status = "OK" if r.returncode == 0 else f"FAIL rc={r.returncode}"
        print(f"== {name}: {status} ({time.time() - t0:.0f}s)", flush=True)
        if r.returncode != 0:
            failures.append(name)
    print("ALL GREEN" if not failures else f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
