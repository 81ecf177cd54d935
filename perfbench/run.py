#!/usr/bin/env python3
"""The engine's benchmark: runs one named workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program in `perfbench/` from source (sbt, offline),
generates the seeded inputs, runs the workload in one JVM (closed loop, one
client thread, local[N] with N = SPARK_GRAFT_CPUS or half the usable cores),
checks every output against DuckDB, and prints the metrics. The last stdout
line is one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run (after any build) must end within this many seconds
RUN_LIMIT_S = 170

# Input sizes per workload: (sf, documents, embeddings). hiveql_short reads
# tiny tables so that execution is small next to the front door.
SIZES = {
    "table_writes": (0.01, 150, 150),
    "hiveql_short": (0.001, 150, 150),
}
SETUPS = 3
# passes before measuring: pass times fall for about this many passes while
# the JIT compiles the planner and operator code
WARMUPS = 3
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.*"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles engine + benchmark program once per source state; returns the classpath."""
    for need in ("build.sbt", "src/main/scala/graft/Engine.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine source {need} not found under {ROOT}")
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        classpath = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in classpath.split(":")):
            return classpath
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + f" -Dsbt.offline=true -Xmx3g -Djava.io.tmpdir={tmp}"))
    log("building engine and benchmark program (sbt, offline)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def generate(out, seed, sizes):
    sf, docs, vecs = sizes
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), out, str(seed),
                    str(sf), str(docs), str(vecs)], check=True)


def plan_params(workload, seed):
    """Seeded DML key sets, predicate constants and statement-order seed."""
    rng = random.Random(f"{workload}:{seed}")
    p = {"order_seed": rng.randrange(1 << 31)}

    def mod(name, lo, hi):
        p[f"{name}_m"] = m = rng.randrange(lo, hi)
        p[f"{name}_r"] = rng.randrange(m)

    if workload == "table_writes":
        # narrow modulus ranges: the residues move the key sets, while the
        # share of rows each statement changes stays about the same
        for name, lo, hi in (("a1", 98, 103), ("mc", 48, 53), ("mc2", 195, 206),
                             ("mm", 48, 53), ("mm2", 195, 206), ("up", 7, 8)):
            mod(name, lo, hi)
        p["up_prio"] = rng.randrange(5)
        p["du_hi"] = rng.randrange(489_500, 490_500)
    elif workload == "hiveql_short":
        for name, lo, hi in (("hd", 9, 12), ("hu", 9, 12), ("hi", 19, 22)):
            mod(name, lo, hi)
    return p


# ---------------------------------------------------------------- replays

ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUS_TOTALS = ("SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(o_totalprice "
                 "AS DECIMAL(25,2))) AS DOUBLE) AS total FROM {src} "
                 "GROUP BY o_orderstatus ORDER BY o_orderstatus")


def changed(con, sql):
    """Runs one DML statement; returns the rows it changed."""
    return con.execute(sql).fetchone()[0]


def replay_table_writes(data, p, out):
    """Replays the seeded statements in DuckDB; returns (rows changed per
    statement, oracle SQL per checked output)."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE o AS SELECT {ORDER_COLS} FROM read_parquet('{data}/orders.parquet')")
    con.execute("CREATE TABLE s AS SELECT * FROM o")
    con.execute("CREATE TABLE p AS SELECT * FROM o")

    def sl(name, shift=0, price="o_totalprice"):
        return (f"SELECT o_orderkey + {shift} AS o_orderkey, o_custkey, o_orderstatus, "
                f"{price} AS o_totalprice, o_orderpriority FROM o "
                f"WHERE o_orderkey % {p[name + '_m']} = {p[name + '_r']}")

    def merge(src):
        con.execute(f"CREATE OR REPLACE TEMP TABLE src AS {src}")
        n = con.execute("SELECT count(*) FROM src").fetchone()[0]
        con.execute("UPDATE s SET o_totalprice = src.o_totalprice FROM src "
                    "WHERE s.o_orderkey = src.o_orderkey")
        con.execute("INSERT INTO s SELECT * FROM src WHERE o_orderkey NOT IN "
                    "(SELECT o_orderkey FROM s)")
        return n

    oracles = {}

    def expect(id_, src):
        """Freezes the expected output of read `id_` at this point."""
        path = os.path.join(out, f"expected_{id_}.parquet")
        con.execute(f"COPY ({STATUS_TOTALS.format(src=src)}) TO '{path}' (FORMAT PARQUET)")
        oracles[id_] = f"SELECT * FROM read_parquet('{path}') ORDER BY o_orderstatus"

    rows = {}
    rows["s_append_1"] = changed(con, f"INSERT INTO s {sl('a1', 1_000_000_000)}")
    con.execute("CREATE TABLE v1 AS SELECT * FROM s")
    expect("s_read_pruned", "(SELECT * FROM s WHERE o_orderkey >= 1000000000)")
    rows["s_merge_cow"] = merge(f"{sl('mc', price='o_totalprice + 1.5')} UNION ALL "
                                f"{sl('mc2', 3_000_000_000)}")
    rows["s_merge_mor"] = merge(f"{sl('mm', price='0.5')} UNION ALL {sl('mm2', 4_000_000_000)}")
    expect("s_sql_version", "v1")
    rows["s_compact"] = 0
    rows["p_update_pruned"] = changed(con, (
        f"UPDATE p SET o_totalprice = 9.0 WHERE o_orderpriority = "
        f"'{PRIORITIES[p['up_prio']]}' AND o_orderkey % {p['up_m']} = {p['up_r']}"))
    rows["p_delete_unpruned"] = changed(
        con, f"DELETE FROM p WHERE o_totalprice > {float(p['du_hi'])}")
    for t in ("s", "p"):
        path = os.path.join(out, f"expected_{t}.parquet")
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY o_orderkey) TO '{path}' (FORMAT PARQUET)")
        oracles[f"final_{t}"] = f"SELECT {ORDER_COLS} FROM read_parquet('{path}') ORDER BY o_orderkey"
    oracles["hive_acid_read"] = STATUS_TOTALS.format(src="orders")
    oracles["spj_join"] = (
        "SELECT o_custkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS rev, "
        "sum(l_quantity) AS qty FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY o_custkey ORDER BY o_custkey")
    return rows, oracles


def replay_hiveql(data, p, out):
    """As replay_table_writes, for the SQL DML of hiveql_short."""
    con = duckdb.connect()
    con.execute("CREATE TABLE o AS SELECT o_orderkey, o_orderstatus, o_totalprice "
                f"FROM read_parquet('{data}/orders.parquet')")
    con.execute("CREATE TABLE t AS SELECT * FROM o")
    oracles = {}

    def expect(id_, src):
        path = os.path.join(out, f"expected_{id_}.parquet")
        con.execute(f"COPY ({STATUS_TOTALS.format(src=src)}) TO '{path}' (FORMAT PARQUET)")
        oracles[id_] = f"SELECT * FROM read_parquet('{path}') ORDER BY o_orderstatus"

    rows = {"hq_ctas": con.execute("SELECT count(*) FROM t").fetchone()[0]}
    rows["hq_delete"] = changed(
        con, f"DELETE FROM t WHERE o_orderkey % {p['hd_m']} = {p['hd_r']}")
    expect("hq_read_version",
           "(SELECT cur.* FROM t cur JOIN o v0 ON cur.o_orderkey = v0.o_orderkey)")
    rows["hq_update"] = changed(con, "UPDATE t SET o_totalprice = 1.0 WHERE "
                                f"o_orderkey % {p['hu_m']} = {p['hu_r']}")
    rows["hq_insert"] = changed(con, "INSERT INTO t SELECT o_orderkey + 900000000, o_orderstatus, "
                                f"o_totalprice FROM o WHERE o_orderkey % {p['hi_m']} = {p['hi_r']}")
    expect("hq_read", "t")
    return rows, oracles


# ---------------------------------------------------------------- checks

def check_outputs(res, out, sf_dir, extra_oracles):
    """Compares each dumped output with its DuckDB oracle through
    tools/check.py's comparator; returns the ids that failed."""
    check_dir = os.path.join(out, "check")
    oracles = dict(res["oracles"], **extra_oracles)
    dumped = set(res["dumped"])
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({k: v for k, v in oracles.items() if k in dumped}, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf_dir, check_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = set()
    verdict = {}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0]
        if word in ("PASS", "ROWS", "FAIL", "FAIL(empty)") and name:
            verdict[name] = word
            if word.startswith("FAIL"):
                bad.add(name)
                log(f"check failed: {line}")
    missing = dumped - set(verdict)
    bad |= missing
    for m in missing:
        log(f"check failed: {m}: no verdict")
    return bad


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    """Linear-interpolated percentile; a failed statement ranks as +inf."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    if xs[hi] == float("inf"):
        return float("inf") if k > lo or xs[lo] == float("inf") else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def union_ns(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def latencies(stmts, field):
    """Per read / write statement: its median over the passes, so one slow
    pass on a shared host does not decide the tail. A failure is +inf."""
    runs = {}
    for s in stmts:
        runs.setdefault((s["id"], s["write"]), []).append(s[field] if s["ok"] else float("inf"))
    lat = {False: [], True: []}
    for (_, write), xs in runs.items():
        lat[write].append(statistics.median(xs))
    return lat


def end_to_end(res, rows_changed):
    """(value, unit) per end-to-end metric, the gated ones first."""
    passes = [p for p in res["passes"] if not p["traced"]]
    stmts = [s for s in res["statements"] if not s["traced"]]
    cpu, wall = latencies(stmts, "cpuMs"), latencies(stmts, "ms")
    tables = {t["name"]: t for t in res["tables"]}
    bpr = {n: t["freshBytes"] / t["freshRows"] for n, t in tables.items() if t["freshRows"]}
    written = user = 0.0
    for s in stmts:
        if s["write"] and s["ok"] and s["table"] in bpr:
            written += s["bytesWritten"]
            user += rows_changed[s["id"]] * bpr[s["table"]]
    cap = lambda v: v if v != float("inf") else 1e9
    return {
        "setup_s": (statistics.median(res["setup_s"]) + res["warmup_s"], "s"),
        "pass_cpu_s": (statistics.median(p["cpuS"] for p in passes), "s"),
        "write_amp": (written / user if user else 0.0, "ratio"),
        "space_amp": (sum(t["bytes"] for t in tables.values())
                      / max(1, sum(t["freshBytes"] for t in tables.values())), "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        # printed only: these spread too much from run to run to bound
        "pass_s": (statistics.median(p["wallS"] for p in passes), "s"),
        "read_p50_ms": (cap(pct(wall[False], 0.5)), "ms"),
        "read_p90_ms": (cap(pct(wall[False], 0.9)), "ms"),
        "write_p50_ms": (cap(pct(wall[True], 0.5)), "ms"),
        "write_p90_ms": (cap(pct(wall[True], 0.9)), "ms"),
        "read_cpu_p50_ms": (cap(pct(cpu[False], 0.5)), "ms"),
        "write_cpu_p50_ms": (cap(pct(cpu[True], 0.5)), "ms"),
    }


GATED = ("setup_s", "pass_cpu_s", "write_amp", "space_amp", "peak_rss_mb")


def per_layer(res):
    """Per-layer metrics of the traced passes (median over passes), plus the
    statements whose layer self times exceed their wall time."""
    spans = res["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    self_ns = {s["id"]: (s["endNs"] - s["startNs"]) - union_ns(
        [(c["startNs"], c["endNs"]) for c in children.get(s["id"], [])]) for s in spans}
    by_id = {s["id"]: s for s in spans}
    off = res["epoch_offset_ns"]
    stage = {st["stageId"]: st for st in res["stages"]}
    jobs_by_span = {}
    for j in res["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)

    def stmt_of(span_id):
        while by_id[span_id]["parent"] != -1:
            span_id = by_id[span_id]["parent"]
        return span_id

    per_pass = {}
    violations = 0
    for p in (p for p in res["passes"] if p["traced"]):
        m = {k: 0.0 for k in PASS_METRICS}
        pspans = [s for s in spans if s["pass"] == p["pass"]]
        job_spans = {}
        for s in pspans:
            layer = s["layer"]
            if layer == "stmt":
                continue
            ms = self_ns[s["id"]] / 1e6
            js = jobs_by_span.get(s["id"], [])
            sts = [stage[i] for j in js for i in j["stages"] if i in stage]
            job_spans.setdefault(stmt_of(s["id"]), []).extend(js)
            if layer in ("frontdoor", "plan", "catalog", "build", "exec"):
                m[f"{layer}.ms"] += ms
            if layer == "frontdoor":
                m["frontdoor.calls"] += 1
            if layer == "build":
                m["build.jobs"] += len(js)
            if layer == "exec":
                m["exec.jobs"] += len(js)
                m["exec.stages"] += len(sts)
                m["exec.tasks"] += sum(st["tasks"] for st in sts)
                m["exec.max_stage_tasks"] = max([m["exec.max_stage_tasks"]] + [st["tasks"] for st in sts])
                m["exec.busy_cores"] += sum(st["runMs"] for st in sts)
            if layer.startswith("commit."):
                m[f"{layer}_ms"] += ms
                m["commit.jobs"] += len(js)
            for st in sts:
                m["exec.task_cpu_ms"] += st["cpuNs"] / 1e6
                m["exec.gc_ms"] += st["gcMs"]
                m["exec.input_bytes"] += st["inputBytes"]
                m["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                m["exec.spill_bytes"] += st["spillBytes"]
        m["exec.busy_cores"] = m["exec.busy_cores"] / m["exec.ms"] if m["exec.ms"] else 0.0
        for s in pspans:
            if s["layer"] != "stmt":
                continue
            wall = s["endNs"] - s["startNs"]
            covered = union_ns([(j["startMs"] * 1_000_000 - off, j["endMs"] * 1_000_000 - off)
                                for j in job_spans.get(s["id"], [])])
            m["exec.driver_gap_ms"] += max(0, wall - covered) / 1e6
            if sum(self_ns[c["id"]] for c in children.get(s["id"], [])) > wall:
                violations += 1
        recs = [r for r in res["statements"] if r["pass"] == p["pass"]]
        reads = [r for r in recs if r.get("filesRead") is not None]
        m["scan.files_read"] = sum(r["filesRead"] for r in reads)
        live = [r for r in reads if r.get("liveFiles")]
        m["scan.files_skipped_ratio"] = (
            1 - sum(r["filesRead"] for r in live) / sum(r["liveFiles"] for r in live)) if live else 0.0
        m["commit.files_written"] = sum(r["filesWritten"] for r in recs)
        m["commit.bytes_written"] = sum(r["bytesWritten"] for r in recs)
        per_pass[p["pass"]] = m
    out = {k: statistics.median(m[k] for m in per_pass.values()) for k in PASS_METRICS}
    out["table.files_live"] = sum(t["dataFiles"] for t in res["tables"])
    out["table.versions"] = sum(t["versions"] for t in res["tables"])
    traced = statistics.median(p["wallS"] for p in res["passes"] if p["traced"])
    plain = statistics.median(p["wallS"] for p in res["passes"] if not p["traced"])
    out["trace.overhead"] = traced / plain - 1
    return out, violations


# Per-layer metrics summed over a traced pass (median over traced passes).
PASS_METRICS = {
    "frontdoor.ms": "ms", "frontdoor.calls": "count", "plan.ms": "ms",
    "catalog.ms": "ms", "build.ms": "ms", "build.jobs": "count",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.max_stage_tasks": "count",
    "exec.busy_cores": "cores", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.driver_gap_ms": "ms",
    "scan.files_read": "count", "scan.files_skipped_ratio": "ratio",
    "commit.append_ms": "ms", "commit.merge_ms": "ms", "commit.update_ms": "ms",
    "commit.delete_ms": "ms", "commit.compact_ms": "ms", "commit.jobs": "count",
    "commit.files_written": "count", "commit.bytes_written": "bytes",
}
LAYER_METRICS = dict(PASS_METRICS, **{
    "table.files_live": "count", "table.versions": "count", "trace.overhead": "ratio"})


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir)
    deadline = time.monotonic() + RUN_LIMIT_S
    # half the usable cores: the other half keeps the JIT, the GC and the OS
    # off the measured threads (measured on 4 cores: same pass time, about
    # a third of the run-to-run spread of local[4])
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or max(1, len(os.sched_getaffinity(0)) // 2))

    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work, out = (os.path.join(run_dir, d) for d in ("data", "work", "out"))
    for d in (work, out, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        generate(data, args.seed, SIZES[args.workload])
        params = plan_params(args.workload, args.seed)
        plan = os.path.join(run_dir, "plan.json")
        with open(plan, "w") as f:
            json.dump({"params": params}, f)

        cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:+UseParallelGC",
               *[f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS],
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               f"-Dderby.system.home={work}",
               "-cp", classpath, "perfbench.Main",
               "--workload", args.workload, "--data", data,
               "--work", work, "--out", out, "--plan", plan,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--setups", str(SETUPS), "--warmups", str(WARMUPS), "--cores", str(cores)]
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            p = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=deadline - time.monotonic() - 15)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die("workload timed out")
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"workload JVM exited with {rc}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)

        rows_changed, extra = {}, {}
        if args.workload == "table_writes":
            rows_changed, extra = replay_table_writes(data, params, out)
        elif args.workload == "hiveql_short":
            rows_changed, extra = replay_hiveql(data, params, out)

        bad = check_outputs(res, out, data, extra)

        n_passes = len(res["passes"])
        per_pass = len(res["statements"]) // max(1, n_passes)
        # statements of the warm-up and measured passes, plus the outputs checked
        attempted = per_pass * (n_passes + WARMUPS) + len(res["dumped"])
        failed = len(res["failures"]) + len(bad)
        for f_ in res["failures"]:
            log(f"failure: {f_['id']} pass {f_['pass']}: {f_['exception']}: {f_['cause']}")
        e2e = end_to_end(res, rows_changed)
        e2e["fail_ratio"] = (failed / attempted, "ratio")
        if args.trace:
            layers, violations = per_layer(res)
            failed += violations
            if violations:
                log(f"{violations} statements whose layer self times exceed their wall time")
            metrics = {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
        print(f"workload {args.workload}: seed {args.seed}, local[{cores}], closed loop, "
              f"1 client; {n_passes} passes of {per_pass} statements in "
              f"{res['measured_s']:.1f} s")
        for k, (v, unit) in e2e.items():
            print(f"  {k:<16} {v:12.4f} {unit}")
        print(f"  output checks: {'PASS' if not bad else 'FAIL ' + ','.join(sorted(bad))} "
              f"({len(res['dumped'])} outputs)")
        print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
