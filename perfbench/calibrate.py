#!/usr/bin/env python3
"""Re-measures `query_costs.json` and `oracle_counts.json`.

    python3 perfbench/calibrate.py

Runs every query of SparkEntry.queries once over the benchmark's large
tables (after the usual warm-up) and checks each row count against the
DuckDB oracle, which computes every count that is not yet known (up to
two minutes each).

- `query_costs.json`: each query's wall, rounded to milliseconds. The
  sampler only uses it to cut the inventory into equal-cost strata; a query
  missing from it counts as the median. Re-measuring changes every seed's
  sample, so do it only when queries are added or their costs move a lot.
- `oracle_counts.json`: the oracle's row count per query and SQL text, so
  that benchmark runs never wait on DuckDB. A query whose oracle does not
  finish within the limit is recorded as null; runs then only require it
  to return rows.
"""
import json
import os
import sys

import run


def main():
    classpath, packs = run.build()
    run.base_dir(0.1)
    run.base_dir(0.01)
    names = sorted(q for qs in packs.values() for q in qs)
    run.QUERY_PASSES = 1  # one timed pass over the whole inventory
    raw, failures, _, expect = run.run_once(
        "query_mix", 0, 0, 0, classpath, packs, sample=names, timeout=1800,
        oracle_timeout=120)
    errors = [f"{o['name']}: {o['error']}" for o in raw["ops"] if not o["ok"]]
    for msg in errors + failures:
        print(f"FAILED {msg}", file=sys.stderr)
    costs = {o["name"]: round(o["wall_s"], 3) for o in raw["ops"] if o["ok"]}
    known = run.oracle_counts()
    keys = [run.oracle_key(n, sql, expect["data_dir"]) for n, sql in raw["oracle_sql"].items()]
    counts = {k: known.get(k) for k in keys}
    for name, data in (("query_costs.json", costs), ("oracle_counts.json", counts)):
        with open(os.path.join(run.HERE, name), "w") as f:
            json.dump(dict(sorted(data.items())), f, indent=0)
            f.write("\n")
    print(f"{len(costs)} queries timed, {sum(costs.values()):.1f} s total, "
          f"{len(errors)} errors; {sum(v is None for v in counts.values())} of "
          f"{len(counts)} oracle counts unavailable")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
