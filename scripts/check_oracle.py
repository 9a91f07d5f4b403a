#!/usr/bin/env python3
"""Local self-check mimicking the driver's t2 gate.

Usage: python3 scripts/check_oracle.py <verifyOutDir> <sfDir>

Reads <verifyOutDir>/oracle_sql.json, registers each fixture parquet as
a DuckDB view named after the table, runs each oracle SQL, and compares
against the Spark-written parquet in <verifyOutDir>/<name>/.

Compare semantics (mirrors the driver as documented): sort columns by
name, then compare row-by-row values (rows in the order each side
produced — every query must end in a deterministic ORDER BY).

With --only-dumped, only the queries that have an output dir are
checked (after a SPARK_GRAFT_ONLY Verify), and the summary counts only
those. DuckDB's memory and spill are capped from the host's MemTotal,
so an oracle too big to finish fails as one line instead of getting
the whole check killed.

An oracle that reads files a query published under
/tmp/graft_<stage>_stage_<sf> (keyed by the SPARK_GRAFT_ORACLE_SF the
Verify ran with) fails as one line naming that knob when <sf> is not
the name of <sfDir>, instead of as a row mismatch against another
fixture's files.

Dev tooling only — the Scala library has no Python dependency.
"""
import json
import math
import os
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


STAGE = re.compile(r"/tmp/graft_[a-z]+_stage_([^/']+)/")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def mem_total_bytes():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def main(outdir, sfdir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # a quarter of the host's memory in RAM and as much again on disk:
    # past that DuckDB raises instead of growing until the host kills it
    cap_mb = mem_total_bytes() // 4 // 2**20
    con.execute(f"SET memory_limit='{cap_mb}MB'")
    con.execute(f"SET max_temp_directory_size='{cap_mb}MB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)

    only_dumped = "--only-dumped" in sys.argv
    names = [n for n in sorted(oracle)
             if not only_dumped or os.path.isdir(f"{outdir}/{n}")]
    failures = []
    sf = os.path.basename(os.path.normpath(sfdir))
    for name in names:
        sql = oracle[name]
        staged = {m for m in STAGE.findall(sql) if m != sf}
        if staged:
            failures.append((name, f"oracle reads the {min(staged)} stage, check runs on {sf}"
                                   f" — rerun Verify with SPARK_GRAFT_ORACLE_SF={sf}"))
            continue
        try:
            want = con.sql(sql)
            want_cols = sorted(want.columns)
            want_rows = [tuple(norm(v) for _, v in sorted(zip(want.columns, r)))
                         for r in want.fetchall()]
        except Exception as e:
            failures.append((name, f"oracle SQL failed: {e}".splitlines()[0]))
            continue
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
            got_cols = sorted(got.columns)
            got_rows = [tuple(norm(v) for _, v in sorted(zip(got.columns, r)))
                        for r in got.fetchall()]
        except Exception as e:
            failures.append((name, f"spark output unreadable: {e}"))
            continue
        if got_cols != want_cols:
            failures.append(
                (name, f"schema mismatch: spark={got_cols} oracle={want_cols}"))
            continue
        if len(got_rows) != len(want_rows):
            failures.append(
                (name, f"row count: spark={len(got_rows)} oracle={len(want_rows)}"))
            continue
        bad = None
        for i, (g, w) in enumerate(zip(got_rows, want_rows)):
            if g != w:
                bad = (i, g, w)
                break
        if bad:
            failures.append(
                (name, f"first diff at row {bad[0]}: spark={bad[1]} oracle={bad[2]}"))
            continue
        print(f"OK   {name}  ({len(got_rows)} rows)")

    for name, msg in failures:
        print(f"FAIL {name}: {msg}")
    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
