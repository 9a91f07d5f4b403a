#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
`src/main/scala` together with the runner in `perfbench/src` (sbt, offline)
and writes the base tables; both are cached under `.bench_build/`.

Workloads (each one JVM on local[<cores>], one client in a closed loop):

  migrate_bulk  a first-time `IncrementalRunner.run` of a seed-perturbed
                copy of `orders` from embedded Derby into a fresh
                ParquetRangeSink + StateStore, then `validate` (`check`).
  migrate_sync  after migrating a base table, a seed-drawn sequence of small
                appends, each followed by one `run` poll (`sync`), then one
                `validate`.
  query_mix     a cost-stratified, seed-drawn sample of SparkEntry.queries
                covering every pack, each built and forced with `.count()`.

With `--trace 0` the last line of stdout is the end-to-end result; with
`--trace 1` it carries the per-layer metrics of a traced run, plus its
tracing overhead against an untraced run of the same seed. The line before
it holds the details: the workload's own named metrics, sample counts,
the percentile used for each tail, and host-condition probes.

Outputs are checked in the same command: the migrated sink must hold
exactly the source's rows (count and content fingerprint) and `validate`
must find no mismatched range; each sampled query's row count must equal
the DuckDB oracle's, or be positive where the query has no oracle. A
failed operation or check makes the result `correct: false`, is left out
of every latency, and makes the command exit with code 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import duckdb
import pyarrow.parquet as pq

import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data", f"v{gen.TABLES_VERSION}")
RESULTS = os.path.join(BUILD, "results")
BUILD_META = os.path.join(BUILD, "build.json")
BUILD_LIB = os.path.join(BUILD, "lib")
BUILD_LAYOUT = "2"         # bump when what build() writes changes shape
UNTRACED = os.path.join(BUILD, "untraced_totals.json")
ORACLE_CACHE = os.path.join(BUILD, "oracle_counts.json")

WORKLOADS = ("migrate_bulk", "migrate_sync", "query_mix")
BATCH_SIZE = 5000          # the CLI's default batch size
# migrate_bulk migrates the first BULK_KEYS keys of `orders` (six ranges)
# once per pass, each pass into a fresh sink and state: BULK_WARM_PASSES
# untimed, then one timed pass per BULK_PASS_S of --seconds (at least
# three). Its total takes each range's and the check's median over the
# timed passes.
BULK_KEYS = 30000
BULK_WARM_PASSES = 2
BULK_PASS_S = 5.0
BULK_MIN_PASSES = 3
SYNC_BASE_ROWS = 20000     # base table of migrate_sync: four ranges
SYNC_POLL_S = 0.8          # nominal poll wall, sizes the poll count
SYNC_MIN_POLLS = 26        # keeps ten polls beyond the reported tail (p61)
# query_mix runs its sample over the small tables untimed, then
# QUERY_PASSES times over the large ones, each pass through its own path
# to the tables; its total takes each query's median over the passes.
QUERY_PASSES = 3
QUERY_SAMPLE_S = 2.2       # seconds of --seconds per sampled query
QUERY_MIN = 8
# The query sample is drawn once, with this seed, and only its order comes
# from the run's seed: which queries are sampled moves the totals far more
# than run-to-run noise (a sampled consumer of a shared stage pays for
# building it), so a per-seed sample would not hold the metrics' bounds.
QUERY_SAMPLE_SEED = 0
JVM_TIMEOUT_S = 150
RUN_BUDGET_S = 165         # every JVM of one command, after the build
CORES = os.cpu_count() or 4  # local[CORES], as the project's bench sizes it
HEAP = "4g"
ORACLE_TIMEOUT_S = 15      # per oracle query not yet in oracle_counts.json
ORACLE_THREADS = 4
ORACLE_MEMORY = "3GB"

# The gated end-to-end metrics. The rest is on the details line only: over
# query_mix's 13 queries of very different cost the per-operation median
# jumps between neighbouring queries from run to run, and the heap retained
# after a full collection now and then reads 15-40% high on query_mix.
E2E = [("setup_s", "s"), ("total_s", "s")]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    h.update(BUILD_LAYOUT.encode())
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def runner_stamp():
    """Hash of the benchmark's Python files, which set the workloads' size
    and shape without being part of the build."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(HERE, "*.py"))):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def localise_classpath(classpath):
    """Copies the jars that sbt resolved into the user's dependency caches
    to `.bench_build/lib` and points the classpath at the copies. A cache
    path names the repository host the jar came from; the recorded
    classpath then names only the checkout and system-wide jars."""
    home = os.path.realpath(os.path.expanduser("~"))
    os.makedirs(BUILD_LIB, exist_ok=True)
    entries = []
    for entry in classpath.split(os.pathsep):
        real = os.path.realpath(entry)
        in_home = (real.startswith(home + os.sep)
                   and not real.startswith(os.path.realpath(ROOT) + os.sep))
        if in_home and os.path.isfile(real) and real.endswith(".jar"):
            digest = hashlib.sha256(real.encode()).hexdigest()[:12]
            local = os.path.join(BUILD_LIB, f"{digest}-{os.path.basename(real)}")
            if not os.path.exists(local):
                shutil.copyfile(real, local + ".part")
                os.replace(local + ".part", local)
            entry = local
        entries.append(entry)
    return os.pathsep.join(entries)


def build():
    """Compiles program + runner when their sources changed; returns the
    runtime classpath and the query catalog (pack -> query names)."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BenchError(f"program sources not found under {PROGRAM_SRC}")
    stamp = source_stamp()
    meta = gen.load_json(BUILD_META, {})
    if meta.get("stamp") != stamp:
        log("building program + benchmark runner (sbt)")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=800)
        cps = [l for l in out.stdout.splitlines() if "scala-2.13/classes" in l
               and not l.startswith("[")]
        if out.returncode != 0 or not cps:
            sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
            raise BenchError("build failed")
        os.makedirs(BUILD, exist_ok=True)
        classpath = localise_classpath(cps[-1])
        catalog_path = os.path.join(BUILD, "catalog.json")
        jvm(classpath, ["catalog", catalog_path], "2g", BUILD)
        meta = {"stamp": stamp, "classpath": classpath,
                "packs": gen.load_json(catalog_path)["packs"]}
        with open(BUILD_META, "w") as f:
            json.dump(meta, f)
    return meta["classpath"], meta["packs"]


def jvm(classpath, args, heap, tmp, env=None, timeout=JVM_TIMEOUT_S):
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{heap}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graftbench.Main", *args]
    out = subprocess.run(cmd, cwd=tmp, env=env, stdin=subprocess.DEVNULL,
                         capture_output=True, text=True, timeout=timeout)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-6000:])
        raise BenchError(f"JVM exited with {out.returncode}")


# ----------------------------------------------------------------- inputs

def base_dir(sf):
    return gen.write_tables(sf, os.path.join(DATA, f"sf{sf}"))


def prepare(workload, seed, seconds, run_dir, packs):
    """Writes the seed's inputs into `run_dir`; returns (spec, expectations)."""
    spec = {"workload": workload, "cores": CORES, "work_dir": run_dir,
            "batch_size": BATCH_SIZE}
    if workload == "migrate_bulk":
        orders = pq.read_table(os.path.join(base_dir(0.1), "orders.parquet"))
        src = gen.bulk_source(seed, orders, BULK_KEYS)
        path = os.path.join(run_dir, "source.parquet")
        pq.write_table(src, path)
        passes = max(BULK_MIN_PASSES, round(seconds / BULK_PASS_S))
        spec.update(source=path, key_lower=0, key_upper=BULK_KEYS, passes=passes,
                    warm_passes=BULK_WARM_PASSES)
        return spec, {"source": [path]}
    if workload == "migrate_sync":
        polls = max(SYNC_MIN_POLLS, round(seconds / SYNC_POLL_S))
        base, appends, _ = gen.sync_plan(seed, polls, SYNC_BASE_ROWS, 15000)
        src, app = os.path.join(run_dir, "source.parquet"), os.path.join(run_dir, "appends.parquet")
        pq.write_table(base, src)
        pq.write_table(appends, app)
        spec.update(source=src, appends=app, polls=polls, key_lower=0,
                    key_upper=SYNC_BASE_ROWS, setup_reps=3)
        return spec, {"source": [src, app]}
    costs = gen.load_json(os.path.join(HERE, "query_costs.json"), {})
    n = max(QUERY_MIN, round(seconds / QUERY_SAMPLE_S))
    sample = gen.run_order(seed, gen.query_sample(QUERY_SAMPLE_SEED, packs, costs, n))
    # Per-run directory names: the program keys some /tmp stages by the
    # data directory's name, so no run can reuse another's stage.
    tag = os.path.basename(run_dir)
    small = os.path.join(run_dir, f"qs_{tag}")
    bigs = [os.path.join(run_dir, f"qd{i}_{tag}") for i in range(QUERY_PASSES)]
    os.symlink(base_dir(0.01), small)
    for big in bigs:
        os.symlink(base_dir(0.1), big)
    spec.update(sample=sample, warm_dir=small, data_dirs=bigs)
    return spec, {"data_dir": bigs[0],
                  "tmp_tags": [os.path.basename(d) for d in [small] + bigs]}


# ----------------------------------------------------------------- checks

def check_outputs(workload, raw, expect, run_dir, oracle_timeout=ORACLE_TIMEOUT_S):
    """Output checks; returns a list of failure messages (one per check)
    and the number of checks made."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb')}'")
    failures = []
    if workload in ("migrate_bulk", "migrate_sync"):
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        srcs = " UNION ALL ".join(f"SELECT {cols} FROM read_parquet('{p}')" for p in expect["source"])
        want = stats.fingerprint(con, f"({srcs})")
        passes = raw.get("passes", [raw])
        for i, p in enumerate(passes):
            got = stats.fingerprint(con, f"read_parquet('{p['sink_glob']}')")
            if got != want:
                failures.append(f"pass {i}: sink (rows, fingerprint) {got} != source {want}")
            if p["mismatched_ranges"] != 0:
                failures.append(f"pass {i}: validate reported {p['mismatched_ranges']} "
                                "mismatched ranges")
        return failures, 2 * len(passes)
    con.execute(f"SET threads={ORACLE_THREADS}")
    con.execute(f"SET memory_limit='{ORACLE_MEMORY}'")
    data = expect["data_dir"]
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    counts = oracle_counts()
    checks, fresh = 0, {}
    for op in raw["ops"]:
        if not op["ok"]:
            continue
        checks += 1
        name, sql = op["name"], raw["oracle_sql"].get(op["name"])
        if sql is None:
            if op["rows"] <= 0:
                failures.append(f"{name}: no rows (query has no oracle)")
            continue
        key = oracle_key(name, sql, data)
        if key in counts and counts[key] is None:
            # no oracle count at this scale (see oracle_counts.json)
            if op["rows"] <= 0:
                failures.append(f"{name}: no rows")
            continue
        if key not in counts:
            try:
                counts[key] = fresh[key] = oracle_count(con, sql, oracle_timeout)
            except duckdb.Error as e:
                failures.append(f"{name}: oracle failed or ran past {oracle_timeout} s: {e}")
                continue
        if op["rows"] != counts[key]:
            failures.append(f"{name}: {op['rows']} rows, oracle {counts[key]}")
    if fresh:
        cache = gen.load_json(ORACLE_CACHE, {})
        cache.update(fresh)
        with open(ORACLE_CACHE, "w") as f:
            json.dump(cache, f)
    return failures, checks


def oracle_key(name, sql, data_dir):
    """Cache key of one oracle count: the table version and the SQL, with
    the per-run data directory name taken out."""
    sql = sql.replace(os.path.basename(data_dir), "<data>")
    return f"{name}:v{gen.TABLES_VERSION}:" + hashlib.sha256(sql.encode()).hexdigest()[:16]


def oracle_counts():
    """Known oracle counts: the committed ones, then this checkout's cache."""
    counts = gen.load_json(os.path.join(HERE, "oracle_counts.json"), {})
    counts.update(gen.load_json(ORACLE_CACHE, {}))
    return counts


def oracle_count(con, sql, timeout):
    """Row count of one oracle query, interrupted after `timeout` seconds."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    finally:
        timer.cancel()


# ---------------------------------------------------------------- metrics

def summarize(workload, raw, check_failures, checks):
    ops = raw["ops"]
    ok = [o["wall_s"] for o in ops if o["ok"]]
    failed_ops = [o.get("name", "") + " " + o["error"] for o in ops if not o["ok"]]
    setup_failures = raw.get("setup_failures", [])
    attempted = len(ops) + checks + raw.get("setup_ops", 0)
    failed = len(failed_ops) + len(check_failures) + len(setup_failures)
    check_s = raw.get("check_s", 0.0)
    p50 = statistics.median(ok) if ok else 0.0
    tail, pct = stats.tail(ok) if ok else (0.0, 0)
    if workload == "migrate_bulk":
        passes = [p for p in raw["passes"] if p["ok"]]
        check_s = statistics.median(p["check_s"] for p in passes) if passes else 0.0
        total = stats.median_pass_total([p["walls"] for p in passes]) + check_s
    elif workload == "query_mix":
        # A query that failed in any pass leaves every pass's wall of it out.
        bad = {o["name"] for o in ops if not o["ok"]}
        by_pass = {}
        for o in ops:
            if o["name"] not in bad:
                by_pass.setdefault(o["pass"], []).append(o["wall_s"])
        total = stats.median_pass_total(list(by_pass.values()))
    else:
        total = sum(ok) + check_s
    e2e = {"setup_s": statistics.median(raw["setup_s"]), "total_s": total}
    named = {"failed_frac": failed / attempted, "peak_rss_mb": raw["peak_rss_mb"],
             "retained_heap_mb": raw["retained_heap_mb"],
             "setup_s": e2e["setup_s"], "op_p50_s": p50, "op_tail_s": tail, "tail_pct": pct}
    if workload == "migrate_bulk":
        run_s = statistics.median(p["run_s"] for p in passes) if passes else 0.0
        rows = sum(passes[0]["written"]) if passes else 0
        named.update(migrate_rows_per_s=rows / run_s if run_s else 0.0, check_s=check_s,
                     ranges=len(ok), passes=len(passes), pass_total_s=[
                         sum(p["walls"]) + p["check_s"] for p in passes])
    elif workload == "migrate_sync":
        named.update(sync_p50_s=p50, sync_tail_s=tail, sync_tail_pct=pct,
                     polls=len(ok), check_s=check_s)
    else:
        named.update(query_total_s=total, query_p50_s=p50, query_tail_s=tail,
                     query_tail_pct=pct, queries=len(ok))
    details = {"workload": workload, "named": named, "samples": len(ok),
               "setup_samples": raw["setup_s"], "session_s": raw["session_s"],
               "host": raw["host"], "failures": failed_ops + check_failures + setup_failures + raw.get("failures", [])}
    return e2e, details, attempted, failed


def result_line(correct, attempted, failed, metrics, units):
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}})


# ------------------------------------------------------------------- main

def run_once(workload, seed, seconds, trace, classpath, packs,
             sample=None, timeout=JVM_TIMEOUT_S, oracle_timeout=ORACLE_TIMEOUT_S):
    """Prepares inputs, runs one JVM and checks its outputs; returns the raw
    record, the failed checks, the number of checks and the expectations.
    `sample` replaces the seed's query sample (calibration only)."""
    run_id = f"{workload}-{seed}-{trace}-{os.getpid()}-{time.time_ns() % 10**9}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(run_dir)
    os.makedirs(RESULTS, exist_ok=True)
    expect = {}
    try:
        spec, expect = prepare(workload, seed, seconds, run_dir, packs)
        spec["trace"] = str(trace)
        if sample is not None:
            spec["sample"] = sample
        spec_path, out_path = os.path.join(run_dir, "spec.json"), os.path.join(run_dir, "out.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        env = dict(os.environ)
        if "data_dir" in expect:
            # oracle SQL of the staged-file queries names the stage by this
            env["SPARK_GRAFT_ORACLE_SF"] = os.path.basename(expect["data_dir"])
        jvm(classpath, ["run", spec_path, out_path], HEAP, os.path.join(run_dir, "tmp"), env,
            timeout)
        raw = gen.load_json(out_path)
        with open(os.path.join(RESULTS, f"{run_id}.json"), "w") as f:
            json.dump(raw, f)
        check_failures, checks = check_outputs(workload, raw, expect, run_dir, oracle_timeout)
        return raw, check_failures, checks, expect
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # The program stages some query inputs under /tmp, keyed by the
        # data directory's name; remove the ones this run created.
        for tag in expect.get("tmp_tags", []):
            for p in glob.glob(f"/tmp/graft_*{tag}*"):
                if os.path.islink(p):
                    os.unlink(p)
                else:
                    shutil.rmtree(p, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classpath, packs = build()
        base_dir(0.1)
        base_dir(0.01)
        deadline = time.time() + RUN_BUDGET_S

        def once(trace):
            left = min(JVM_TIMEOUT_S, deadline - time.time())
            if left <= 0:
                raise BenchError(f"no time left within {RUN_BUDGET_S} s for the traced run")
            raw, check_failures, checks, _ = run_once(
                args.workload, args.seed, args.seconds, trace, classpath, packs, timeout=left)
            return summarize(args.workload, raw, check_failures, checks), raw

        # Untraced totals by workload, run length, build, runner and seed:
        # the baseline a traced run's overhead is measured against. Without a
        # total for this seed, the median over other seeds stands in; with
        # none at all, an untraced run of this seed follows the traced one
        # when the time left allows (else the overhead reads 0 and the
        # details line says there was no baseline).
        build_stamp = gen.load_json(BUILD_META)["stamp"]
        group = f"{args.workload}:{args.seconds}:{build_stamp}:{runner_stamp()}"
        untraced = gen.load_json(UNTRACED, {})
        seen = untraced.setdefault(group, {})
        if args.trace:
            t0 = time.time()
            (te2e, details, attempted, failed), traw = once(1)
            traced_wall = time.time() - t0
        if not args.trace or (not seen and deadline - time.time() > traced_wall):
            (e2e, plain, plain_attempted, plain_failed), _ = once(0)
            if not args.trace:
                details, attempted, failed = plain, plain_attempted, plain_failed
            if plain_failed == 0:
                seen[str(args.seed)] = e2e["total_s"]
                with open(UNTRACED, "w") as f:
                    json.dump(untraced, f)
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        return 2
    if args.trace:
        layers = dict(traw["layers"])
        base = seen.get(str(args.seed)) or (statistics.median(seen.values()) if seen else None)
        layers["trace.overhead_frac"] = te2e["total_s"] / base - 1 if base else 0.0
        per_layer = layer_map()["per_layer"]
        metrics = {m["name"]: float(layers.get(m["name"], 0)) for m in per_layer}
        units = {m["name"]: m["unit"] for m in per_layer}
        details.update(traced_total_s=te2e["total_s"], untraced_total_s=base,
                       spans=len(traw["spans"]))
    else:
        metrics, units = e2e, dict(E2E)
    correct = failed == 0
    for msg in details["failures"]:
        log(f"FAILED: {msg}")
    print(json.dumps(details))
    print(result_line(correct, attempted, failed, metrics, units))
    return 0 if correct else 1


def layer_map():
    """perfbench/layers.json: what each layer is, why each workload exists,
    and which end-to-end metric each per-layer metric should move."""
    return gen.load_json(os.path.join(HERE, "layers.json"))


if __name__ == "__main__":
    sys.exit(main())
