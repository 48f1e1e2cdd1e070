"""Rewrite ``pinned.json``: the row counts and checksums of the input
tables under ``data/``, and the output fingerprint of every workload query that has no
DuckDB oracle.  Run it from the repository root on a commit whose
outputs are known to be right:

    python3 perfbench/pin.py

Queries with an oracle are checked against it here too; the script
fails rather than pin anything if one of them mismatches.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, builders  # noqa: E402


def main() -> int:
    run._prepare_process_env()
    pinned = {"data": {}, "fingerprints": {}}
    for w in WORKLOADS.values():
        pinned["data"][w.data] = checks.manifest(run.data_dir(w))

    spark, _ = run._start_session(run.data_dir(next(iter(WORKLOADS.values()))))
    bad = []
    for wname, w in WORKLOADS.items():
        path = run.data_dir(w)
        fns = builders(w)
        sqls = {n: checks.oracle_sql(n, fn) for n, fn in fns.items()}
        oracles = checks.oracle_results(path, {n: sql for n, sql in sqls.items() if sql})
        prints = pinned["fingerprints"][wname] = {}
        for name, fn in sorted(fns.items()):
            df = fn(spark, path)
            if name in oracles:
                cols = [c.lower() for c in df.columns]
                rows = [tuple(r) for r in df.collect()]
                why = checks.oracle_mismatch(oracles[name], cols, rows)
                if why:
                    bad.append(f"{wname}/{name}: {why}")
                print(f"{wname}/{name}: oracle, {len(rows)} rows", file=sys.stderr)
            else:
                prints[name] = checks.fingerprint(df)
                print(f"{wname}/{name}: {prints[name]['rows']} rows", file=sys.stderr)
    run._shutdown(spark)
    if bad:
        print("oracle mismatches, nothing pinned:\n" + "\n".join(bad), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "pinned.json"), "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
