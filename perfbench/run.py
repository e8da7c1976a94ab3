#!/usr/bin/env python3
"""The engine's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark client from source with sbt (offline) into `perfbench/target`.
Each run then generates its inputs from the seed into an empty work
directory under `perfbench/work`, starts one JVM with one SparkSession on
local[nproc] under the engine's production configuration, lets the client
issue the workload's operations one at a time (closed loop), checks every
output outside the timed window, deletes the work directory, and prints one
report line per metric followed by a final JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
client records a span around every call into an engine layer and the
metrics are the per-layer ones (end-to-end numbers come from untraced runs).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import duckdb
import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOOLS = os.path.join(ROOT, "tools")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_LIMIT_S = 600.0
RUN_LIMIT_S = 165.0
ORACLE_LIMIT_S = 2.0

# name -> fixture sizes. `sf` sizes the star tables (TPC-H scale factor);
# `docs`/`vecs` size documents/embeddings; `events_sf` sizes the events
# table (1M rows per unit), which is the etl workload's base history;
# `arrivals` counts its snapshot arrivals, each a full re-extraction (see
# `gen.arrivals`); the first is merged in set-up as a warm-up. `check_max` caps how many timed queries of the window get
# their output checked.
WORKLOADS = {
    "interactive_sf01": dict(sf=0.1, docs=5000, vecs=2000, check_max=8),
    "etl_refetch": dict(sf=0.001, docs=500, vecs=500, events_sf=0.01, arrivals=21),
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("query_p50_s", "s"), ("queries_per_s", "1/s")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("no Spark install found: set SPARK_HOME")
    return home


def build(deadline):
    """Compile the engine and the client; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    inputs = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project"),
              os.path.join(HERE, "build.sbt")]
    newest = max(newest_mtime(inputs[:3]), os.path.getmtime(inputs[3]))
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(HERE, 'target', 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    out = run_child(cmd, HERE, env, deadline - time.time(), capture=True)
    lines = [ln for ln in out.splitlines()
             if ln.startswith(os.path.join(HERE, "target")) and os.pathsep in ln]
    if not lines:
        sys.exit("build failed:\n" + out[-4000:])
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_child(cmd, cwd, env, timeout, capture=False):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                            stderr=subprocess.STDOUT if capture else subprocess.PIPE,
                            text=True)
    try:
        out, err = proc.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"timed out: {' '.join(cmd[:3])}")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        text = out or err or ""
        sys.exit(f"exit {proc.returncode}: {' '.join(cmd[:3])}\n{text[:3000]}\n...\n{text[-1500:]}")
    return out


# ------------------------------------------------------------------ inputs

def make_inputs(work, workload, seed):
    """Generate the workload's tables (and the etl arrivals) under `work`."""
    w = WORKLOADS[workload]
    data = os.path.join(work, "data", workload)
    gen.tables(data, seed, w["sf"], w["docs"], w["vecs"], w.get("events_sf"))
    arrivals = None
    if "arrivals" in w:
        events = pq.read_table(os.path.join(data, "events.parquet"),
                               columns=["event_id", "user_id", "event_type", "value"])
        arrivals = gen.arrivals(os.path.join(work, "staged"), seed, events, w["arrivals"])
        pq.write_table(arrivals, os.path.join(work, "arrivals.parquet"))
    return data, arrivals


# ------------------------------------------------------------------ checks

def check_query(con, c):
    sys.path.insert(0, TOOLS)
    from check import frame_sig  # the repo's oracle hashing
    got = con.execute(f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')").fetchall()
    got_cols = [d[0] for d in con.description]
    if c["sql"] is None:
        return None if got else "no rows"
    timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
    timer.start()
    try:
        want = con.execute(c["sql"]).fetchall()
    except duckdb.InterruptException:
        # the oracle is too slow at this size: fall back to the rows check
        log(f"oracle of {c['name']} over {ORACLE_LIMIT_S:.0f} s: checked rows only")
        return None if got else "no rows"
    finally:
        timer.cancel()
    want_cols = [d[0] for d in con.description]
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    if frame_sig(got_cols, got) != frame_sig(want_cols, want):
        return "values differ from the DuckDB oracle"
    return None


def latest_sql(upto):
    """Independent latest-per-key over the generated snapshots: the two
    built ones (every event; every third re-extracted at value + 1000) and
    the arrivals up to index `upto`."""
    return f"""
        SELECT id, user_id, event_type, value FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY extracted_at DESC) AS rn
          FROM snaps WHERE arrival <= {upto}) WHERE rn = 1"""


def check_csv(con, c):
    csv = f"""read_csv('{c['dir']}/*.csv', header = true, columns = {{
        'id': 'BIGINT', 'user_id': 'BIGINT', 'event_type': 'VARCHAR', 'value': 'DOUBLE'}})"""
    want = latest_sql(c["upto"])
    n_got, n_want, missing, extra, unordered = con.execute(f"""
        SELECT (SELECT count(*) FROM {csv}), (SELECT count(*) FROM ({want})),
               (SELECT count(*) FROM ({want} EXCEPT ALL SELECT * FROM {csv})),
               (SELECT count(*) FROM (SELECT * FROM {csv} EXCEPT ALL {want})),
               (SELECT count(*) FROM (SELECT id, lag(id) OVER () AS prev FROM {csv})
                WHERE prev >= id)""").fetchone()
    if (n_got, missing, extra, unordered) != (n_want, 0, 0, 0):
        return (f"{n_got} rows (want {n_want}), {missing} missing, {extra} unexpected, "
                f"{unordered} out of order")
    return None


def run_checks(result, data, arrivals):
    """Returns {check name: failure or None}."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    if arrivals is not None:
        con.register("arrivals_t", arrivals)
        con.execute("""
            CREATE TABLE snaps AS
            SELECT event_id AS id, user_id, event_type, value,
                   '20240101-000000Z' AS extracted_at, -1 AS arrival FROM events
            UNION ALL
            SELECT event_id, user_id, event_type, value + 1000.0,
                   '20240102-000000Z', -1 FROM events WHERE event_id % 3 = 0
            UNION ALL
            SELECT id, user_id, event_type, value, extracted_at,
                   CAST(dense_rank() OVER (ORDER BY extracted_at) - 1 AS INTEGER)
            FROM arrivals_t""")
    out = {}
    for c in result["checks"]:
        try:
            if c["kind"] == "query":
                out[c["name"]] = check_query(con, c)
            elif c["kind"] == "csv":
                out[c["name"]] = check_csv(con, c)
            elif c["kind"] == "count":
                want = con.execute(f"SELECT count(*) FROM ({latest_sql(c['upto'])})").fetchone()[0]
                out[c["name"]] = None if c["rows"] == want else f"{c['rows']} rows != {want}"
            else:
                out[c["name"]] = c.get("error", "failed")
        except Exception as e:  # a check that cannot run is a failed check
            out[c["name"]] = f"check error: {e}"
    return out


# ------------------------------------------------------------------ metrics

def pct(xs, p):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def end_to_end(result, launch):
    ops = result["ops"]
    durs = [o["dur_s"] for o in ops]
    return {
        "setup_s": (result["first_op_epoch_ms"] / 1000.0 - launch, 1),
        "query_p50_s": (statistics.median(durs), len(durs)),
        "queries_per_s": (len(ops) / result["window_s"], len(ops)),
    }


def per_layer(result, arrivals):
    """The client's span-derived layer metrics plus the workload phases."""
    ops = result["ops"]
    m = {k: (v if v is not None else 0.0, 1) for k, v in result["layers"].items()}
    timed = [o["dur_s"] for o in ops if o["phase"] != "probe"]
    m["query.p90_s"] = (pct(timed, 90), len(timed))
    m["jvm.peak_rss_mb"] = (result["peak_rss_mb"], 1)

    def phase(name):
        return [o["dur_s"] for o in ops if o["phase"] == name]
    m["etl.recompute_to_csv_s"] = (sum(phase("recompute")), len(phase("recompute")))
    arr = phase("arrival")
    m["etl.arrival_to_csv_p50_s"] = (statistics.median(arr) if arr else 0.0, len(arr))
    rows = 0
    if arr:  # upsert rows of the arrivals merged, arrival i being the i-th stamp
        stamps = arrivals.column("extracted_at").to_pylist()
        order = sorted(set(stamps))
        merged = {order[int(o["name"].split("-")[1])] for o in ops if o["phase"] == "arrival"}
        rows = sum(1 for s in stamps if s in merged)
    m["etl.merge_rows_per_s"] = (rows / sum(arr) if arr else 0.0, len(arr))
    return m


UNITS = {"_s": "s", ".s": "s", "bytes": "bytes", "bytes_rewritten": "bytes",
         "_mb": "MB", "_ratio": "ratio", "_per_s": "1/s", "share": "ratio",
         "_vs_cold": "ratio", "write_amp": "ratio"}


def unit_of(name):
    if name in dict(END_TO_END):
        return dict(END_TO_END)[name]
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        sys.exit(f"engine sources not found under {ENGINE_SRC}")

    cp = build(time.time() + BUILD_LIMIT_S)
    start = time.time()
    deadline = start + RUN_LIMIT_S
    work_root = os.path.join(HERE, "work")
    shutil.rmtree(work_root, ignore_errors=True)  # litter of an interrupted run
    work = os.path.join(work_root, f"{args.workload}-{args.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data, arrivals = make_inputs(work, args.workload, args.seed)
        log(f"inputs generated in {time.time() - start:.1f} s")
        out_file = os.path.join(work, "result.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xmx4g", *ADD_OPENS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", cp, "perfbench.Main", args.workload, data, out_file,
               str(args.seed), str(args.seconds), str(args.trace),
               str(WORKLOADS[args.workload].get("check_max", 0))]
        launch = time.time()
        run_child(cmd, work, dict(os.environ), deadline - launch)
        with open(out_file) as f:
            result = json.load(f)
        log(f"client finished in {time.time() - launch:.1f} s")
        t_check = time.time()
        checks = run_checks(result, data, arrivals)
        log(f"outputs checked in {time.time() - t_check:.1f} s")
        if args.trace:
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            run_id = f"{args.workload}-{args.seed}-{int(launch)}"
            with open(os.path.join(HERE, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"run": run_id, "self_s": result["self_s"],
                           "spans": [dict(s, run=run_id) for s in result["spans"]]}, f)
    finally:
        t_rm = time.time()
        shutil.rmtree(work_root, ignore_errors=True)
        log(f"work dir removed in {time.time() - t_rm:.1f} s")

    failed_ops = [o for o in result["ops"] if o["err"] or checks.get(o["name"])]
    op_names = {o["name"] for o in result["ops"]}
    loose = [n for n, why in checks.items() if why and n not in op_names]
    attempted = len(result["ops"]) + len([n for n in checks if n not in op_names])
    failed = len(failed_ops) + len(loose)
    for o in failed_ops:
        log(f"FAILED {o['name']}: {o['err'] or checks[o['name']]}")
    for n in loose:
        log(f"FAILED check {n}: {checks[n]}")

    for o in result["ops"]:
        log(f"op {o['phase']:9s} {o['name']:32s} {o['dur_s']:8.3f} s")
    metrics = per_layer(result, arrivals) if args.trace else end_to_end(result, launch)
    for name, (value, n) in sorted(metrics.items()):
        print(f"{name:36s} {value:14.6f} {unit_of(name):6s} n={n}")
    if args.trace:
        for layer, s in sorted(result["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"self {layer:64s} {s:10.4f} s")
    print(f"fail_ratio {failed}/{attempted}")
    log(f"done in {time.time() - start:.1f} s")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, (v, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
