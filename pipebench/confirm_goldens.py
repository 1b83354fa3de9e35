#!/usr/bin/env python3
"""Confirm the gate goldens against the DuckDB oracle.

Usage (from the repository root):

    python3 pipebench/confirm_goldens.py

Regenerates pipebench/goldens/gates.json (run.py --mode goldens: every
listed gate runs twice over freshly generated tables and must repeat),
then runs tools/check_oracle.py -- the repository's DuckDB compare, with
its float tolerance -- over the gate results and the same tables, and
writes the outcome to pipebench/goldens/confirmation.json. The benchmark
itself only compares against the checked-in goldens.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHECK = os.path.join(HERE, "work", "goldens-check")


def main():
    shutil.rmtree(CHECK, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "gates",
                    "--seed", "0", "--seconds", "1", "--mode", "goldens"], check=True)
    verify = os.path.join(CHECK, "verify")
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                         verify, os.path.join(CHECK, "gates")]).returncode
    with open(os.path.join(verify, "oracle_check.json")) as f:
        check = json.load(f)
    out = {"oracle": "tools/check_oracle.py", "duckdb": duckdb.__version__,
           "n_pass": check["n_pass"], "n_fail": check["n_fail"],
           "passed": check["passed"], "failed": check["failed"]}
    with open(os.path.join(HERE, "goldens", "confirmation.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    sys.exit(rc)


if __name__ == "__main__":
    main()
