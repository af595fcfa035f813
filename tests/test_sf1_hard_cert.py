"""Equivalence guard for the staged-replay certificates.

tools/sf1_hard_cert.py re-expresses the graph gate oracles as
stage-materialized DuckDB (the only form evaluable at sf1, where
DuckDB's CTE re-inlining explodes the naive text). The staged form
must stay EQUIVALENT to the decorators as both evolve — this test
runs the tool end-to-end at sf0.001 (subprocess, like the driver:
fresh JVM, ~1 min) and requires strict-ok. The --near-dup leg keeps
the two RETIRED near-dup certificates (r13: the richer sf1 corpus
made their naive oracles replay directly) equivalent too, so they
stay usable against a future adversarial corpus.
"""

import os
import subprocess
import sys


def test_staged_replay_matches_decorators_at_sf0001():
    proc = subprocess.run(
        [
            sys.executable,
            "tools/sf1_hard_cert.py",
            "/root/testdata/sf0.001",
            "--near-dup",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "4/4 strict-ok" in proc.stdout
