#!/usr/bin/env python3
"""Re-pins perfbench/expected/queries.tsv: runs the two full query
suites (all 85 queries) once and records each query's row count and
content hash.

    python3 perfbench/pin.py

Pin only after the generated tables pass the DuckDB oracle; NOTES.md
gives the commands.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    pinned = {}
    for suite in ["warehouse_sql_full", "curation_staged_full"]:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", suite,
                              "--seed", "1", "--seconds", "1", "--trace", "0"],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        meta = json.loads(out.strip().splitlines()[-2])["meta"]
        with open(meta["artifact"]) as f:
            art = json.load(f)
        if not all(op["ok"] for op in art["ops"]):
            sys.exit(f"{suite}: a query failed; nothing pinned")
        pinned.update(art["results"])
    with open(os.path.join(HERE, "expected", "queries.tsv"), "w") as f:
        f.write("# query\trows\tcontent hash (perfbench.BatchSuites.produce)\n")
        for q in sorted(pinned):
            f.write(f"{q}\t{pinned[q]['rows']}\t{pinned[q]['hash']}\n")
    print(f"pinned {len(pinned)} queries")


if __name__ == "__main__":
    main()
