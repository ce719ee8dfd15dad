#!/usr/bin/env python3
"""Layered benchmark for pystreamsspark.

Usage (from the repository root):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: dedup-graph, table-rw, streams-x10 (see perfbench/README.md).

The first call in a checkout builds the library and the harness from
source with sbt, amplifies the committed sf0.1 fixtures x10 with
tools/Amplify, and prepares the independent references: the DuckDB
oracle of every query key, the SQL twin of every stream pipeline. Later
calls reuse them while the sources are unchanged.

A run is one JVM on local[nproc] driven from a single thread (one client,
closed loop). It prints the metrics with their units and sample counts,
then, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 1 it also
writes the span trace under perfbench/.work/traces/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
FIXTURES = os.path.join(BENCH, "data")
WORKLOADS = ("dedup-graph", "table-rw", "streams-x10")
# fixture scale each workload reads
DATA_OF = {"dedup-graph": "sf0.01", "table-rw": "sf0.01", "streams-x10": "x10"}
JVM_HEAP = "3g"
BUILD_TIMEOUT = 700
RUN_TIMEOUT = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"# {msg}", flush=True)


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(BENCH, "project", "*.properties"))
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build(src_hash):
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.isfile(cp_file) and read(stamp) == src_hash:
        return read(cp_file)
    log("building library and harness with sbt (first run in this checkout)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT)
    write(os.path.join(WORK, "build.log"), out.stdout)
    cps = [l.strip() for l in out.stdout.splitlines()
           if l.startswith("/") and ".jar" in l and ":" in l]
    if out.returncode != 0 or not cps:
        die(f"build failed (exit {out.returncode}); see {WORK}/build.log")
    write(cp_file, cps[-1])
    write(stamp, src_hash)
    log(f"build took {time.time() - t0:.1f} s")
    return cps[-1]


# ------------------------------------------------------------ helpers

def read(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def java(cp, args, timeout, log_name):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-cp", cp] + args
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", log_name)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=lf,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{args[0]} timed out after {timeout} s; see {log_path}")
    return proc.returncode, stdout, log_path


def data_hash(d):
    """Mirror of perfbench.DataHash.of: parquet files by relative path,
    with Spark's per-write file UUIDs dropped from the names."""
    h = hashlib.sha256()
    files = []
    for dp, _, fs in os.walk(d):
        files += [os.path.join(dp, f) for f in fs if f.endswith(".parquet")]
    for rel, p in sorted((os.path.relpath(p, d), p) for p in files):
        h.update(re.sub(r"part-(\d+)-[0-9a-f-]+", r"part-\1", rel).encode())
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def data_dir(scale):
    return os.path.join(WORK, "data", "x10") if scale == "x10" else os.path.join(FIXTURES, scale)


def duck_tables(con, d):
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(d, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


# ------------------------------------------------------------- prepare

def prepare(cp, src_hash):
    """One-time inputs and references for every workload."""
    stamp = os.path.join(WORK, "prep.stamp")
    if read(stamp) == src_hash:
        return
    t0 = time.time()
    for scale in ("sf0.1", "sf0.01"):
        if not os.path.isdir(data_dir(scale)):
            die(f"missing fixtures {data_dir(scale)}")
    x10 = data_dir("x10")
    amplify_src = os.path.join(ROOT, "src", "main", "scala", "pystreamsspark", "tools", "Amplify.scala")
    made_by = hashlib.sha256(open(amplify_src, "rb").read()).hexdigest()
    if read(os.path.join(WORK, "data", "x10.madeby")) != made_by:
        shutil.rmtree(x10, ignore_errors=True)
        g0 = time.time()
        rc, _, lp = java(cp, ["pystreamsspark.tools.Amplify", data_dir("sf0.1"), x10, "10"],
                         600, "amplify.log")
        if rc != 0:
            die(f"tools/Amplify failed; see {lp}")
        write(os.path.join(WORK, "data", "x10.sha256"), data_hash(x10))
        write(os.path.join(WORK, "data", "x10.madeby"), made_by)
        log(f"generated the x10 copy in {time.time() - g0:.1f} s (one-time, not in setup_s)")
    write(os.path.join(WORK, "data", "sf0.01.sha256"), data_hash(data_dir("sf0.01")))
    prepare_keys(cp, "dedup-graph")
    prepare_streams()
    write(stamp, src_hash)
    log(f"prepared references in {time.time() - t0:.1f} s")


def canon_type(t):
    t = str(t)
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
             "UINTEGER", "UBIGINT"):
        return "INT"
    if t in ("FLOAT", "DOUBLE") or re.fullmatch(r"DECIMAL\(\d+,\d+\)", t):
        return "FLOAT"
    return t.replace("STRING", "VARCHAR").replace("TEXT", "VARCHAR")


def oracle_compare(con, out_path, sql):
    """Spark's written output against the DuckDB oracle: same columns (by
    name), type family, shape and values in order. Returns '' on match."""
    import pandas as pd
    src = f"read_parquet('{out_path}/*.parquet')"
    mine = con.execute(f"SELECT * FROM {src}").fetchdf()
    ref = con.execute(sql).fetchdf()
    mine, ref = mine[sorted(mine.columns)], ref[sorted(ref.columns)]
    if list(mine.columns) != list(ref.columns):
        return f"columns {list(mine.columns)} != {list(ref.columns)}"
    mt = dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {src})").fetchall())
    rt = dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE ({sql}))").fetchall())
    for c in mine.columns:
        if canon_type(mt.get(c)) != canon_type(rt.get(c)):
            return f"type of {c}: spark {mt.get(c)}, oracle {rt.get(c)}"
    if mine.shape != ref.shape:
        return f"shape {mine.shape} != {ref.shape}"
    for c in mine.columns:
        a, b = mine[c], ref[c]
        try:
            eq = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
        except Exception:  # nested values: compare element-wise
            eq = [str(x) == str(y) for x, y in zip(a.values, b.values)]
        if not all(eq):
            return f"column {c} differs"
    return ""


def prepare_keys(cp, workload):
    import duckdb
    out = os.path.join(WORK, "prep", workload)
    shutil.rmtree(out, ignore_errors=True)
    d = data_dir(DATA_OF[workload])
    rc, _, lp = java(cp, ["perfbench.Main", "prepare-keys", "--workload", workload,
                          "--data", d, "--out", out, "--work", WORK, "--cores", str(nproc())],
                     600, f"prepare-{workload}.log")
    if rc != 0:
        die(f"preparing {workload} failed; see {lp}")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    duck_tables(con, d)
    lines = []
    for line in open(os.path.join(out, "fingerprints.tsv")).read().splitlines():
        key, n, h, err = line.split("\t", 3)
        if not err:
            if key not in oracle:
                err = "no oracle SQL"
            else:
                try:
                    err = oracle_compare(con, os.path.join(out, key), oracle[key])
                except Exception as e:  # an oracle that cannot run is a failed check
                    err = f"oracle error: {e}"
        if err:
            log(f"{workload}: {key} has no oracle match: {err}")
        lines.append("\t".join([key, n, h, err.replace("\t", " ").replace("\n", " ")]))
    write(os.path.join(out, "expected.tsv"), "\n".join(lines) + "\n")


# SQL twins of the stream pipelines in Streams.scala, rendered the same way
STREAM_TWINS = {
    "map_filter_sum": (
        "SELECT CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "FROM lineitem WHERE l_discount > 0.05",
        lambda rows: str(rows[0][0])),
    "group_reduce": (
        "SELECT l_returnflag || '|' || l_linestatus AS k, "
        "SUM(CAST(floor(l_quantity * 100) AS BIGINT)), "
        "SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)), COUNT(*) "
        "FROM lineitem GROUP BY k ORDER BY k",
        lambda rows: ";".join(f"{k}:{q}:{p}:{n}" for k, q, p, n in rows)),
    "flatmap_wordcount": (
        "SELECT w, COUNT(*) AS c FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM documents) WHERE w <> '' GROUP BY w ORDER BY c DESC, w DESC LIMIT 10",
        lambda rows: ";".join(f"{w}:{c}" for w, c in rows)),
    "distinct_sorted_take": (
        "SELECT DISTINCT l_partkey FROM lineitem ORDER BY 1 LIMIT 20",
        lambda rows: ",".join(str(r[0]) for r in rows)),
    "zip_takewhile_skip": (
        "SELECT COUNT(*), COALESCE(SUM(k), 0) FROM (SELECT k FROM ("
        "SELECT o_orderkey AS k, row_number() OVER (ORDER BY o_orderkey) - 1 AS idx "
        "FROM orders) WHERE idx % 7 = 0 AND k < 300000 ORDER BY idx OFFSET 100)",
        lambda rows: f"{rows[0][0]}:{rows[0][1]}"),
}


def prepare_streams():
    import duckdb
    con = duckdb.connect()
    duck_tables(con, data_dir("x10"))
    lines = [f"{name}\t{render(con.execute(sql).fetchall())}"
             for name, (sql, render) in STREAM_TWINS.items()]
    write(os.path.join(WORK, "prep", "streams-x10", "expected.tsv"), "\n".join(lines) + "\n")


# ------------------------------------------------------ table-rw replay

def orders_state(con, path):
    rows = con.execute(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "epoch_ms(o_orderdate), o_orderpriority "
        f"FROM read_parquet('{path}')").fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}


def state_fp(items):
    """The sums of TableRwWorkload.FpCols over (key, row) pairs."""
    n = k = c = p = s = r = d = 0
    for key, (cust, status, price, d_ms, prio) in items:
        n += 1
        k += key
        c += cust
        p += math.floor(price * 100)
        s += ord(status[0])
        r += ord(prio[0])
        d += d_ms // 1000
    return [n, k, c, p, s, r, d]


def replay_table_rw(tmp, deferred):
    """Independent replay of the seeded batches. Returns failure strings."""
    import duckdb
    paths = glob.glob(os.path.join(tmp, "table-rw-*", "replay.json"))
    if len(paths) != 1:
        return [f"replay log missing under {tmp}"]
    plan = json.load(open(paths[0]))
    con = duckdb.connect()
    base = orders_state(con, plan["orders"])
    states = {t: {1: base} for t in ("cow", "mor")}
    current = {t: dict(base) for t in ("cow", "mor")}
    for e in plan["commits"]:
        t, st = e["table"], current[e["table"]]
        if e["op"] in ("merge", "append"):
            for line in open(e["batch"]):
                b = json.loads(line)
                st[b["o_orderkey"]] = (b["o_custkey"], b["o_orderstatus"], b["o_totalprice"],
                                       b["o_orderdate_ms"], b["o_orderpriority"])
        elif e["op"] in ("delete", "update"):
            hit = [key for key in st if e["lo"] <= key <= e["hi"] and key % e["mod"] == e["rem"]]
            for key in hit:
                if e["op"] == "delete":
                    del st[key]
                else:
                    cust, status, price, d_ms, _ = st[key]
                    st[key] = (cust, status, price + 1.25, d_ms, "1-URGENT")
        states[t][e["version"]] = dict(st)
    failures = []

    def at(t, v):
        if v not in states[t]:
            raise KeyError(f"{t} version {v} was never committed")
        return states[t][v]

    for rec in deferred:
        t, op = rec["table"], rec["op"]
        try:
            if op == "cdc":
                a, b = at(t, rec["from"]), at(t, rec["to"])
                ins = [kv for kv in b.items() if a.get(kv[0]) != kv[1]]
                dels = [kv for kv in a.items() if b.get(kv[0]) != kv[1]]
                want = {"insert": state_fp(ins), "delete": state_fp(dels)}
                got = {ct: fp for ct, fp in rec["fp"].items()}
                want = {ct: fp for ct, fp in want.items() if fp[0] > 0}
            else:
                items = at(t, rec["version"]).items()
                if op == "range_read":
                    items = [kv for kv in items if rec["lo"] <= kv[0] <= rec["hi"]]
                want, got = state_fp(items), rec["fp"]
            if want != got:
                failures.append(f"{t}.{op} pass {rec['pass']}: fingerprint {got} != replay {want}")
        except KeyError as ex:
            failures.append(f"{t}.{op}: {ex}")
    for s in plan["states"]:
        t = s["table"]
        checks = [("final", s["final"], at(t, s["final_version"])),
                  (f"time travel to v{s['tt_version']}", s["tt"], at(t, s["tt_version"]))]
        for what, path, want in checks:
            got = orders_state(con, os.path.join(path, "*.parquet"))
            if got != want:
                failures.append(f"{t} {what}: {len(got)} rows differ from replay ({len(want)} rows)")
        a, b = at(t, s["cdc_from"]), at(t, s["cdc_to"])
        want = sorted([(k, *v, "insert") for k, v in b.items() if a.get(k) != v] +
                      [(k, *v, "delete") for k, v in a.items() if b.get(k) != v])
        got = sorted(con.execute(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, epoch_ms(o_orderdate), "
            f"o_orderpriority, _change_type FROM read_parquet('{s['cdc']}/*.parquet')").fetchall())
        if got != want:
            failures.append(f"{t} changesBetween({s['cdc_from']}, {s['cdc_to']}): "
                            f"{len(got)} rows differ from replay ({len(want)} rows)")
    return failures


# ------------------------------------------------------------------ run

def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no library sources next to perfbench/ (expected build.sbt and src/main/scala "
            "at the repository root)", 2)
    os.makedirs(WORK, exist_ok=True)
    src_hash = source_hash()
    cp = ensure_build(src_hash)
    prepare(cp, src_hash)

    wl = a.workload
    scale = DATA_OF[wl]
    d = data_dir(scale)
    hashes = [f"{d}={read(os.path.join(WORK, 'data', scale + '.sha256'))}"]
    out = os.path.join(WORK, "runs", f"{wl}-seed{a.seed}-trace{a.trace}.json")
    trace_out = os.path.join(WORK, "traces", f"{wl}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{wl}-", dir=os.path.join(WORK, "tmp"))
    try:
        args = ["perfbench.Main", "run", "--workload", wl, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(nproc()),
                "--work", WORK, "--out", out, "--trace-out", trace_out, "--data", d,
                "--hash", ",".join(hashes), "--tmp", tmp,
                "--expected", os.path.join(WORK, "prep", wl, "expected.tsv")]
        if os.path.exists(out):
            os.remove(out)
        rc, stdout, lp = java(cp, args, RUN_TIMEOUT, f"run-{wl}.log")
        for line in stdout.splitlines():
            if line.startswith("FAILED"):
                print(line)
        if rc != 0 or not os.path.isfile(out):
            die(f"{wl} run failed (exit {rc}); see {lp}")
        rec = json.load(open(out))
        failures = [f"{f['op']} pass {f['pass']} {f['status']}: {f['detail']}" for f in rec["failures"]]
        replay_failed = []
        if wl == "table-rw":
            replay_failed = replay_table_rw(tmp, rec["deferred"])
            for f in replay_failed:
                print(f"FAILED {f}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = rec["attempted"]
    failed = min(attempted, rec["failed"] + len(replay_failed))
    metrics = rec["metrics"]
    log(f"workload={wl} seed={a.seed} trace={a.trace} nproc={rec['cores']} "
        f"spark={rec['spark_version']} jdk={rec['jdk']}")
    log(f"commit={git_commit() or 'none (not a git checkout)'} sources={src_hash[:16]} "
        f"data={rec['data_hash'][:16]}")
    log(f"passes={rec['passes']} ops_attempted={attempted} "
        f"failed={failed} failed_frac={failed / attempted:.4f} (n={attempted})")
    for name, m in metrics.items():
        note = f" [{m['note']}]" if m["note"] else ""
        log(f"{name:24s} {m['value']:14.6f} {m['unit']:6s} n={m['n']}{note}")
    last_pass = os.path.join(WORK, "runs", f"{wl}-last-untraced-pass.json")
    if a.trace == "0":
        write(last_pass, json.dumps({"pass_s": metrics["pass_s"]["value"]}))
    else:
        untraced = read(last_pass)
        traced_pass = sum(rec["pass_secs"]) / max(1, len(rec["pass_secs"]))
        if untraced:
            over = traced_pass - json.loads(untraced)["pass_s"]
            log(f"tracing overhead: traced pass {traced_pass:.3f} s - untraced pass_s "
                f"{json.loads(untraced)['pass_s']:.3f} s = {over:+.3f} s")
        log(f"trace written to {os.path.relpath(trace_out, ROOT)}")
    for f in failures[:20]:
        log(f"failure: {f}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k]["value"], "unit": metrics[k]["unit"]}
                    for k in rec["contract"]},
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
