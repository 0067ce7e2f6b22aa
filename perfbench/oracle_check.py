#!/usr/bin/env python3
"""Cross-check the analytics mix against DuckDB.

    python3 perfbench/oracle_check.py

Run from the repository root. Builds like run.py, dumps the mix's results
and oracle SQL with the engine's own `graft.Verify` on the benchmark
fixture, and compares them with `tools/check_oracle.py`. Exits non-zero on
any mismatch. Queries without an oracle statement are listed and skipped.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    bdir = run.build_dir()
    classes = run.ensure_build(bdir, run.source_digest(run.source_files()))
    fixture = run.check_fixture()
    work = os.path.join(bdir, f"oracle-{os.getpid()}")
    for sub in ("scratch", "local", "warehouse", "tmp", "derby"):
        os.makedirs(os.path.join(work, sub))
    try:
        out = os.path.join(work, "out")
        cmd = run.java_cmd(classes, work, [fixture, out, ",".join(run.ANALYTICS_MIX)],
                           main="graft.Verify")
        rc = run.run_jvm(cmd, work, run.RUN_TIMEOUT_S)
        if rc != 0:
            return rc
        with open(os.path.join(out, "oracle_sql.json")) as f:
            missing = sorted(set(run.ANALYTICS_MIX) - set(json.load(f)))
        if missing:
            print(f"no oracle SQL (not compared): {', '.join(missing)}")
        return subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"),
                               fixture, out]).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
