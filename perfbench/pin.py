#!/usr/bin/env python3
"""Pin the result digests the benchmark's check pass compares against.

    python3 perfbench/pin.py

For every gate of the gate workloads it (1) computes the harness digest of
the gate's result on the benchmark inputs and (2) cross-checks the result
once against the gate's DuckDB oracle (`SparkEntry.oracleSql`) with the
repository's own `graft.Verify` dump and `scripts/compare.py`. It writes
`perfbench/digests.json` only when no gate fails the oracle; a gate with no
oracle must return rows. Run it from the root of a checkout after a change
that is meant to alter a gate's result.
"""
import json
import os
import shutil
import subprocess
import sys

import run

WORKLOADS = ("relational", "curation", "streaming")


def main():
    cp = run.build()
    data = run.inputs()
    out = os.path.join(run.BUILD, "pin")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    digests = {}
    for w in WORKLOADS:
        work = os.path.join(out, w)
        os.makedirs(work)
        pin = os.path.join(work, "digests.json")
        rc = run.jvm(cp, "perfbench.Harness",
                     ["--workload", w, "--seed", "0", "--seconds", "0",
                      "--trace", "0", "--data", data, "--work", work,
                      "--raw", os.path.join(work, "raw.json"), "--pin", pin], work)
        if rc != 0:
            run.die(f"pinning {w} failed")
        digests.update(json.load(open(pin)))

    dump = os.path.join(out, "verify")
    rc = run.jvm(cp, "graft.Verify", [data, dump] + sorted(digests), out)
    compare = os.path.join(run.ROOT, "scripts", "compare.py")
    r = subprocess.run([sys.executable, compare, data, dump],
                       capture_output=True, text=True)
    print(r.stdout, file=sys.stderr)
    status = {line.split()[1].rstrip(":"): line.split()[0]
              for line in r.stdout.splitlines()
              if line.split() and line.split()[0] in
              ("PASS", "FAIL", "ROWS-ONLY", "ROWS-ONLY-EMPTY!")}
    bad = [g for g in digests if status.get(g) not in ("PASS", "ROWS-ONLY")]
    if rc != 0 or bad:
        run.die(f"oracle cross-check failed for {bad or 'the Verify run'}; "
                "digests not written")
    with open(os.path.join(run.HERE, "digests.json"), "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")
    for g in sorted(digests):
        print(f"{status[g]:9s} {g:24s} {digests[g]}", file=sys.stderr)


if __name__ == "__main__":
    main()
