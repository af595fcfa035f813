"""One-shot local CI: strict oracle gate → pytest → plan audit.

Usage: python tools/run_all.py [--skip-audit]

Performance is measured separately with perfbench (perfbench/README.md).

Runs each stage as a subprocess (fresh JVM per stage, like the driver
does) and stops at the first failure with a nonzero exit. This is the
exact sequence to run before ending a build session.
"""

from __future__ import annotations

import subprocess
import os
import sys
import time

STAGES = [
    # sf0.001 first: the small-population edge regime (sketches below
    # k, sessions/windows with singleton keys, empty-side joins) where
    # r8 verified the whole registry also holds strict
    (
        "strict oracle gate (sf0.001, small-population edges)",
        [
            sys.executable,
            "tools/check_oracle.py",
            "--strict",
            "/root/testdata/sf0.001",
        ],
    ),
    ("strict oracle gate (sf0.01)", [sys.executable, "tools/check_oracle.py", "--strict"]),
    # Full-registry re-verification at sf0.1 as well (VERDICT r4 item
    # 7): SF-sensitive shapes (ANN recall-bound flags, percentile
    # interpolation branches, band/bucket occupancy) must hold at both
    # scales, not just the driver's sf0.01.
    (
        "strict oracle gate (sf0.1, full registry)",
        [
            sys.executable,
            "tools/check_oracle.py",
            "--strict",
            "/root/testdata/sf0.1",
        ],
    ),
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
    (
        "plan audit",
        [sys.executable, "tools/plan_audit.py", "/root/testdata/sf0.01", "--write", "PLAN_AUDIT.md"],
    ),
]


def main() -> None:
    skip = {"plan audit"} if "--skip-audit" in sys.argv else set()
    for name, cmd in STAGES:
        if name in skip:
            print(f"-- {name}: skipped")
            continue
        t0 = time.monotonic()
        print(f"-- {name} ...", flush=True)
        r = subprocess.run(cmd, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        dt = time.monotonic() - t0
        if r.returncode != 0:
            print(f"-- {name}: FAILED (rc={r.returncode}, {dt:.0f}s)")
            sys.exit(r.returncode)
        print(f"-- {name}: ok ({dt:.0f}s)")
    print("-- all stages green")


if __name__ == "__main__":
    main()
