#!/usr/bin/env python3
"""Tests of the benchmark's change-log generator and expected-state fold.

    python3 perfbench/test_gen.py

Builds the benchmark (see build.py) and runs graft.perfbench.GenCheck,
which exits non-zero if any check fails.
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

if __name__ == "__main__":
    cp = build.ensure()
    out = os.path.join(build.OUT, "gencheck")
    sys.exit(subprocess.run(["java", "-Xmx2g", "-cp", cp, "graft.perfbench.GenCheck", out]).returncode)
