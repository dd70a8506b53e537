#!/usr/bin/env python3
"""Regenerate perfbench/references.json, the per-query reference checksums.

    python3 perfbench/make_refs.py

Runs every workload's queries without checking, in JVMS fresh JVMs
(each a cold pass plus two warm passes, in a different order), and records
each query's row count and xxhash64 sum. A query whose sum differs between
executions is recorded with the values seen and is checked by row count
only; a query whose row count differs is an error. Only regenerate after
graft.Verify and tools/compare.py are green on the benchmark fixtures.
"""
import json
import os
import sys
import time

import run

JVMS = 3


def main():
    cp = run.build()
    fx = run.fixtures()
    seen = {}
    for w in run.WORKLOADS:
        for i in range(JVMS):
            r = run.jvm(cp, ["--mode", "bench", "--workload", w,
                             "--seed", str(1000 + i), "--seconds", "1",
                             "--trace", "0", "--fixtures", fx],
                        os.path.join(run.BUILD, "out", f"refs-{w}-{i}.json"),
                        time.monotonic() + 900)
            if r["failures"]:
                sys.exit(f"{w}: failures {r['failures']}")
            for c in r["checksums"]:
                seen.setdefault(c["query"], []).append((c["rows"], c["hash"]))
    refs, bad = {}, []
    for q, vals in sorted(seen.items()):
        rows = {v[0] for v in vals}
        hashes = sorted({v[1] for v in vals})
        if len(rows) > 1:
            bad.append(q)
            continue
        ref = {"rows": vals[0][0], "hash": vals[0][1],
               "check": "hash" if len(hashes) == 1 else "rows"}
        if len(hashes) > 1:
            ref["evidence"] = (f"{len(hashes)} distinct sums over "
                               f"{len(vals)} executions: {hashes}")
        refs[q] = ref
    if bad:
        sys.exit(f"row counts vary run to run: {bad}")
    with open(os.path.join(run.BENCH, "references.json"), "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(refs)} references, "
          f"{sum(r['check'] == 'rows' for r in refs.values())} rows-only")


if __name__ == "__main__":
    main()
