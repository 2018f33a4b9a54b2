#!/usr/bin/env python3
"""Record the expected digests of the two query workloads.

Usage, from the root of a checkout:

    python3 perfbench/record.py <full sf0.01 dir> <full sf0.1 dir>

The full dirs are the testdata the bundled tiers under perfbench/data were
copied from; tools/check.py needs all of their tables. For each workload
this runs perfbench.Record over the bundled tier, which writes every
query's output the way graft.Verify does, checks those outputs against
DuckDB with tools/check.py, and only when every query passes writes
perfbench/expected/<workload>.tsv.
"""
import filecmp
import os
import shutil
import subprocess
import sys

import run

TIERS = {"rounds_sf0.01": "sf0.01", "rows_sf0.1": "sf0.1"}


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    full = {"sf0.01": sys.argv[1], "sf0.1": sys.argv[2]}
    run.check_checkout()
    cp = run.build()
    for workload, tier in TIERS.items():
        bundled = os.path.join(run.BENCH, "data", tier)
        for name in sorted(os.listdir(bundled)):
            if not filecmp.cmp(os.path.join(bundled, name), os.path.join(full[tier], name),
                               shallow=False):
                raise SystemExit(f"{bundled}/{name} differs from {full[tier]}/{name}")
        out = os.path.join(run.WORK, "record", workload)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        expected = os.path.join(out, "expected.tsv")
        cmd = run.java_cmd(cp, "perfbench.Record", [workload, bundled, out, expected], out)
        if run.run_group(cmd, 1800, cwd=run.ROOT) != 0:
            raise SystemExit(f"{workload}: perfbench.Record failed")
        shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
        check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                                full[tier], out])
        if check.returncode != 0:
            raise SystemExit(f"{workload}: tools/check.py failed; digests not recorded")
        shutil.copy(expected, os.path.join(run.BENCH, "expected", f"{workload}.tsv"))
        print(f"{workload}: recorded {expected}")


if __name__ == "__main__":
    main()
