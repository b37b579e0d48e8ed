#!/usr/bin/env python3
"""Re-anchor perfbench/expected.json on the DuckDB oracle twins.

    python3 perfbench/anchor.py

Run from the root of a graft checkout with duckdb importable (about ten
minutes on 4 cores). For each data set the benchmark reads, it dumps the
queries with graft.Verify (all of them at sf0.01, the headline set at
sf0.1), compares every dump with its DuckDB oracle through
tools/selfcheck.py, and records the digest of each result that passed.
A query that fails its oracle gets no anchor, so the benchmark counts
every invocation of it as failed.
"""
import json
import shutil
import subprocess
import sys

import run as bench


def jvm_run(cp, args):
    proc = subprocess.run(bench.jvm(cp, args), cwd=bench.ROOT,
                          env=bench.jvm_env(), capture_output=True, text=True,
                          timeout=1800)
    if proc.returncode != 0:
        sys.exit(f"anchor: {' '.join(args[:2])} exited {proc.returncode}:\n"
                 + proc.stderr[-3000:])
    return proc.stdout


def main():
    cp = bench.build()
    expected = {}
    for sf, names in (("sf0.01", None), ("sf0.1", bench.HEADLINE)):
        data = str((bench.HERE / "data" / sf).relative_to(bench.ROOT))
        out = bench.BUILD / "anchor" / sf
        shutil.rmtree(out, ignore_errors=True)
        only = [",".join(names)] if names else []
        jvm_run(cp, ["graft.Verify", data, str(out), *only])
        check = subprocess.run(
            [sys.executable, "tools/selfcheck.py", data, str(out), *only],
            cwd=bench.ROOT, capture_output=True, text=True)
        print(check.stdout.splitlines()[-1] if check.stdout else check.stderr)
        passed = {ln.split()[1] for ln in check.stdout.splitlines()
                  if ln.startswith("PASS ")}
        digests = [json.loads(ln) for ln in
                   jvm_run(cp, ["perfbench.Harness", "--digest", str(out)])
                   .splitlines() if ln.startswith("{")]
        expected[sf] = {d["name"]: {k: d[k] for k in ("rows", "h1", "h2", "schema")}
                        for d in digests if d["name"] in passed}
        missing = sorted(set(names or passed) - set(expected[sf]))
        print(f"{sf}: {len(expected[sf])} anchored"
              + (f", not anchored: {', '.join(missing)}" if missing else ""))
    path = bench.HERE / "expected.json"
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
