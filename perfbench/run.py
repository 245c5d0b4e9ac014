"""Benchmark of the deployed path: events -> Pipelines.runAll -> parquet
stores -> MetricsHttpServer -> HTTP. See README.md in this directory.

    python3 perfbench/run.py --workload live|backfill --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. The last line of stdout is one JSON object:
with --trace 0 it holds the end-to-end metrics, with --trace 1 the
per-layer ones. The exit code is 0 only when every output was correct.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
import numpy as np  # noqa: E402
import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import load  # noqa: E402

# Workload parameters, stamped into every result.
PARAMS = {
    "live": {"rate": 1000, "factor": 240, "file_ms": 500, "prefill": 2000, "drain_s": 45},
    "backfill": {"events_per_second_of_run": 60_000, "span_ms": 100 * 60_000,
                 "files": 24, "drain_s": 30},
}
SETUP = {"events": 4_000, "span_ms": 20 * 60_000, "files": 1}
BASELINE = {"events": 100_000, "span_ms": 100 * 60_000, "files": 8}
HEAP = "2g"
# JDK module opens Spark needs outside spark-submit (as in the root build)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TABLE_END = {"event_metrics": "window_end_ms", "session_metrics": "end_ms",
             "performance_metrics": "window_end_ms"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    out = os.path.join(HERE, ".build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += " -Djava.io.tmpdir=" + os.path.join(out, "tmp")
    log("building with sbt (first run in this checkout)")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode}); see {out}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs: steal is time other guests took."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


class Proc:
    """A child process whose `@@ <json>` stdout lines arrive on a queue."""

    def __init__(self, argv, log_path, cwd):
        self.log = open(log_path, "w")
        self.p = subprocess.Popen(argv, cwd=cwd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True, bufsize=1)
        self.q = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            if line.startswith("@@ "):
                self.q.put(json.loads(line[3:]))
        self.q.put(None)

    def expect(self, timeout):
        msg = self.q.get(timeout=timeout)
        if msg is None:
            raise RuntimeError(f"process exited early with {self.p.wait()}")
        return msg

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def finish(self, timeout):
        try:
            return self.p.wait(timeout=timeout)
        finally:
            if self.p.poll() is None:
                self.p.kill()
                self.p.wait()
            self.log.close()


def pct(xs, q, limit):
    """Percentile where a missing sample (None) counts as `limit`, a value no
    observed sample can exceed; with no samples at all it is `limit`."""
    vals = [limit if x is None else x for x in xs]
    assert all(x <= limit for x in vals), "a sample exceeds the run's limit"
    return float(np.percentile(vals, q, method="linear")) if vals else float(limit)


def check_outputs(work, jvm, files):
    """Compare each stored table with the DuckDB oracle SQL of its batch query
    over the files that query read (`files[table]`), restricted to rows that
    end before the watermark of its last batch; that watermark may not pass
    the one the newest event it read sets. Returns ({table: mismatching
    rows}, rows where the stored performance average differs from the oracle
    only at an exact 4 dp tie, the oracle's event windows)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bad, ties = {}, 0
    for table, sql in jvm["oracle_sql"].items():
        end, wm = TABLE_END[table], jvm["final_wm_ms"][table]
        paths = ", ".join(f"'{f}'" for f in files[table])
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet([{paths}])")
        types = ", ".join(f"'{t}'" for t in load.QUERY_TYPES[table])
        newest = con.execute(
            f"SELECT max(epoch_ms(ts)) FROM events WHERE event_type IN ({types})").fetchone()[0]
        con.execute(f"CREATE OR REPLACE TABLE o AS SELECT * FROM ({sql})")
        cols = ", ".join(c[0] for c in con.execute("DESCRIBE o").fetchall())
        con.execute(f"CREATE OR REPLACE TABLE s AS SELECT {cols} FROM read_parquet("
                    f"'{work}/run/out/{table}/**/*.parquet', hive_partitioning = false)")
        exact_avg = jvm["exact_avg_sql"] + " AS avg_value"
        if table == "performance_metrics" and exact_avg in sql:
            ties = accept_avg_ties(con, sql.replace(exact_avg, (
                "sum(CAST(round(value * 10000) AS BIGINT)) AS avg_s, count(value) AS avg_n")))
        n = con.execute(f"""SELECT
            (SELECT count(*) FROM (SELECT * FROM o WHERE {end} < {wm}
                                   EXCEPT ALL SELECT * FROM s WHERE {end} < {wm})) +
            (SELECT count(*) FROM (SELECT * FROM s WHERE {end} < {wm}
                                   EXCEPT ALL SELECT * FROM o WHERE {end} < {wm})) +
            (SELECT count(*) FROM s WHERE {end} > {wm})""").fetchone()[0]
        bad[table] = n + (wm > newest - load.WATERMARK_MS)
        if table == "event_metrics":
            oracle_rows = con.execute(
                "SELECT window_start_ms, event_type, event_count, user_count FROM o").fetchall()
    return bad, ties, oracle_rows


def check_unserved(work):
    """`backfill`'s unserved pass read the served pass's input, so every
    table it stored must equal the served one. Returns mismatching rows."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    read = lambda d, t: f"read_parquet('{work}/run/{d}/{t}/**/*.parquet', hive_partitioning = false)"
    return sum(con.execute(f"""SELECT
        (SELECT count(*) FROM (SELECT * FROM {read('pass', t)} EXCEPT ALL SELECT * FROM {read('out', t)})) +
        (SELECT count(*) FROM (SELECT * FROM {read('out', t)} EXCEPT ALL SELECT * FROM {read('pass', t)}))
        """).fetchone()[0] for t in TABLE_END)


def files_read(src, rows):
    """The event files a query read, given the rows it read: files land and
    are read whole and in order `k=0, k=1, ...`. None if no prefix fits."""
    files, total, k = [], 0, 0
    while total < rows and os.path.exists(f"{src}/k={k}/events.parquet"):
        files.append(f"{src}/k={k}/events.parquet")
        total += pq.ParquetFile(files[-1]).metadata.num_rows
        k += 1
    return files if total == rows else None


def accept_avg_ties(con, sums_sql):
    """`PerformanceTracker.exactAvg` rounds the double quotient of an exact
    integer sum, so where the exact mean lies on a 4 dp half it can round
    down while the oracle rounds up. Where the exact mean (from `sums_sql`,
    the oracle with its sum and count in place of the average) is such a
    tie and the stored average is the other neighbour, take the oracle's
    value; every other difference still counts. Returns the rows taken."""
    con.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM ({sums_sql})")
    tie = """t.avg_n > 0 AND (2 * t.avg_s) % t.avg_n = 0 AND ((2 * t.avg_s) // t.avg_n) % 2 = 1
             AND s.avg_value != o.avg_value AND abs(s.avg_value - o.avg_value) < 0.00015"""
    keys = "USING (window_start_ms, window_end_ms, category)"
    n = con.execute(f"SELECT count(*) FROM s JOIN o {keys} JOIN t {keys} WHERE {tie}").fetchone()[0]
    con.execute(f"""CREATE OR REPLACE TABLE s AS SELECT window_start_ms, window_end_ms, s.category,
        CASE WHEN {tie} THEN o.avg_value ELSE s.avg_value END AS avg_value, s.p95_value
        FROM s LEFT JOIN o {keys} LEFT JOIN t {keys}""")
    return n


def check_served(first_seen, oracle_rows):
    """Every window the server returned must equal the oracle's counts."""
    want = {}
    for w, t, c, u in oracle_rows:
        want.setdefault(w, {})[f"{t}_count"] = c
        want[w][f"{t}_users"] = u
    bad = 0
    for w, (_, row) in first_seen.items():
        exp = want.get(int(w), {})
        for t in load.SERVED_TYPES:
            for k in (f"{t}_count", f"{t}_users"):
                if row.get(k) != exp.get(k, 0):
                    bad += 1
    return bad


def sink_stats(out):
    files = size = dirs = 0
    for table in TABLE_END:
        for d, _, fs in os.walk(os.path.join(out, table)):
            pq_files = [f for f in fs if f.endswith(".parquet")]
            files += len(pq_files)
            size += sum(os.path.getsize(os.path.join(d, f)) for f in pq_files)
            dirs += bool(pq_files) and os.path.basename(d).startswith("batch_id=")
    return files, size, dirs


def run(workload, seed, seconds, trace, work, cp):
    P = PARAMS[workload]
    cores = len(os.sched_getaffinity(0))
    # inputs, all from the seed; the JVM sets up while the rest is written
    load.write_backlog(os.path.join(work, "setup", "src"), seed, 1,
                       SETUP["events"], SETUP["span_ms"], SETUP["files"])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap: the rest of the resident set is the memory
    # the program holds besides its heap
    jvm = Proc(["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
                "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                "-cp", cp, "perfbench.Harness", "--work", work, "--mode", workload,
                "--trace", str(int(trace)), "--cores", str(cores)],
               os.path.join(work, "jvm.log"), work)
    gen = None
    t_start = time.time()
    phase = lambda name: log(f"{name} at {time.time() - t_start:.1f} s")
    try:
        if trace:
            base_rows, _ = load.write_backlog(os.path.join(work, "baseline", "src"), seed, 2,
                                              BASELINE["events"], BASELINE["span_ms"],
                                              BASELINE["files"])
        src = os.path.join(work, "run", "src")
        if workload == "live":
            load.start_source(src)
            step_us = P["factor"] * 1_000_000 // P["rate"]
            t = load.make_events(seed, 0, 0, -P["prefill"], P["prefill"], step_us)
            os.makedirs(os.path.join(work, "run", "stage"))
            load.land(src, os.path.join(work, "run", "stage"), 0, t)
        else:
            bf_rows, expect = load.write_backlog(
                src, seed, 3, P["events_per_second_of_run"] * seconds, P["span_ms"], P["files"])
            jvm.send("backlog")
        server = jvm.expect(150)
        port = server["port"]
        if workload == "live":
            P = {**P, "trigger_ms": server["trigger_ms"]}
        phase("set up")
        largs = {"mode": workload, "seed": seed, "work": work, "port": port,
                 "seconds": seconds, "conns": min(2, cores), **P}
        if workload == "backfill":
            largs["expect"] = expect
        with open(os.path.join(work, "load_args.json"), "w") as f:
            json.dump(largs, f)
        start_load = lambda: Proc([sys.executable, os.path.join(HERE, "load.py"),
                                   os.path.join(work, "load_args.json")],
                                  os.path.join(work, "load.log"), work)
        if workload == "live":
            jvm.send("go")
            jvm.expect(30)
            gen = start_load()
            gen.expect(30)
        else:
            gen = start_load()
            gen.expect(30)
            jvm.send("go")
            jvm.expect(150)
            gen.send("pass_done")
        phase("load started")
        if gen.finish(seconds + P["drain_s"] + 30) != 0:
            raise RuntimeError("load process failed")
        phase("load done")
        ld = json.load(open(os.path.join(work, "load.json")))
        jvm.send("stop")
        jvm.expect(150)
        phase("stopped")
        rc = jvm.finish(60)
    finally:
        for p in (gen, jvm):
            if p is not None and p.p.poll() is None:
                p.p.kill()
                p.p.wait()
    jr = json.load(open(os.path.join(work, "jvm.json")))

    # correctness
    files = {}
    for table in TABLE_END:
        files[table] = files_read(src, sum(p["rows"] for p in jr["progress"] if p["q"] == table))
    if all(files.values()):
        bad, ties, oracle_rows = check_outputs(work, jr, files)
        bad["served_windows"] = check_served(ld["first_seen"], oracle_rows)
        if workload == "backfill":
            bad["unserved_pass"] = check_unserved(work)
    else:
        bad, ties = {t: int(not f) for t, f in files.items()}, 0
    phase("checked")

    # end-to-end metrics
    go = jr["go_ms"] / 1000
    reads = ld["reads"]
    first_seen = {int(w): v[0] for w, v in ld["first_seen"].items()}
    if workload == "live":
        t0 = ld["t0"]
        sample = {int(w): c for w, c in ld["sample"].items()}
        lags = [(first_seen[w] - c) * 1000 if w in first_seen else None for w, c in sample.items()]
        # slope of rows done against trigger end, over triggers that end while
        # the load runs: a constant processing delay does not bias it
        ev = [p for p in jr["progress"] if p["q"] == "event_metrics"]
        ends = np.array([(p["start_ms"] + p["trigger_ms"]) / 1000 for p in ev])
        cum = np.cumsum([p["rows"] for p in ev])
        during = (ends >= t0) & (ends <= ld["end"])
        events_per_s = float(np.polyfit(ends[during], cum[during], 1)[0])
    else:
        t0, t1 = go, jr["pass_end_ms"] / 1000
        lags = [(first_seen[w] - go) * 1000 if w in first_seen else None for w in expect]
        events_per_s = statistics.mean([bf_rows / jr["unserved_pass_s"], bf_rows / (t1 - t0)])
    ready = min((r[2] for r in reads if r[3] == 200 and r[4] == load.WINDOWS_ROUTE),
                default=None)
    # no lag (every sample window closes at or after t0) and no read timed
    # from its due time (at or after t0) can exceed the time from t0 to the
    # last response; a window never served or a read never answered counts
    # as this limit
    limit_ms = (max((r[2] for r in reads), default=ld["end"]) - t0) * 1000
    read_ms = [None if r[3] < 0 else (r[2] - r[0]) * 1000 for r in reads if r[0] >= t0]
    bad["lag_samples"] = int(not lags)
    failed_reads = sum(1 for r in reads if r[3] < 0 or (r[3] != 200 and not (
        r[3] == 503 and (ready is None or r[2] < ready))))
    missing = sum(1 for x in lags if x is None)
    ok = (rc == 0 and jr["stopped_between_batches"] and not jr["query_errors"]
          and not any(bad.values()))
    metrics = {
        "setup_s": (statistics.median(jr["setup_s"]), "s"),
        "events_per_s": (events_per_s, "ev/s"),
        "visible_lag_p50_ms": (pct(lags, 50, limit_ms), "ms"),
        "visible_lag_p90_ms": (pct(lags, 90, limit_ms), "ms"),
        "peak_nonheap_rss_mb": (jr["peak_nonheap_rss_mb"], "MB"),
    }
    attempted = len(reads) + len(lags) + len(bad)
    failed = failed_reads + missing + sum(1 for v in bad.values() if v)
    stamp = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
             "cores": cores, "params": P, "setup": SETUP, "heap": HEAP,
             "mismatches": bad, "avg_tie_rows_accepted": ties, "stopped_between_batches": jr["stopped_between_batches"],
             "query_errors": jr["query_errors"],
             "samples": {"windows": len(lags), "missing_windows": missing,
                         "reads": len(read_ms)},
             "setup_reps_s": jr["setup_s"], "unserved_pass_s": jr.get("unserved_pass_s")}
    if not trace:
        return ok, attempted, failed, metrics, stamp

    # per-layer metrics
    layers = {k: (v, unit_of(k)) for k, v in jr["trace"].items()}
    ev = [p for p in jr["progress"] if p["q"] == "event_metrics"]
    if workload == "live":
        land_t = np.array([f[1] for f in ld["files"]])
        land_cum = P["prefill"] + np.cumsum([f[2] for f in ld["files"]])
        landed = lambda t: int(land_cum[land_t <= t][-1]) if (land_t <= t).any() else P["prefill"]
        gen_late = max((f[1] - f[0]) * 1000 for f in ld["files"])
    else:
        landed = lambda t: bf_rows
        gen_late = 0.0
    done_rows, backlog = 0, []
    for p in ev:
        backlog.append(landed(p["start_ms"] / 1000) - done_rows)
        done_rows += p["rows"]
    snaps = sorted(ld["snapshots"])
    changes = [d for (d, h), (_, h0) in zip(snaps[1:], snaps[:-1]) if h != h0]
    changes = ([snaps[0][0]] if snaps else []) + changes
    triggered = sum(1 for p in ev if p["rows"] > 0 and p["start_ms"] / 1000 < jr["stop_ms"] / 1000)
    triggered += 3 if workload == "backfill" else 0
    files, size, dirs = sink_stats(os.path.join(work, "run", "out"))
    late = [(r[1] - r[0]) * 1000 for r in reads]
    layers.update({
        "source.backlog_rows": (float(np.mean(backlog)) if backlog else 0.0, "rows"),
        "sink.files": (files, "count"), "sink.bytes": (size, "bytes"),
        "sink.partition_dirs": (dirs, "count"),
        "serving.snapshot_interval_ms": (
            (changes[-1] - go) * 1000 / len(changes) if changes else 0.0, "ms"),
        "serving.ready_s": (ready - go if ready else 0.0, "s"),
        "serving.refresh_useful_frac": (len(changes) / triggered if triggered else 0.0, "frac"),
        "http.requests": (len(reads), "count"),
        "http.non_200": (sum(1 for r in reads if r[3] != 200), "count"),
        "http.read_p50_ms": (pct(read_ms, 50, limit_ms), "ms"),
        "http.read_p95_ms": (pct(read_ms, 95, limit_ms), "ms"),
        "load.gen_late_max_ms": (gen_late, "ms"),
        "load.read_late_max_ms": (max(late, default=0.0), "ms"),
        "baseline.one_core_events_per_s": (base_rows / jr["baseline_one_core_s"], "ev/s"),
    })
    layers.update({f"traced.{k}": v for k, v in metrics.items()})
    return ok, attempted, failed, layers, stamp


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "frac")):
        if last.endswith(suffix):
            return unit
    return {"bytes": "bytes", "rows": "rows", "rows_in": "rows"}.get(last, "count")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no program sources next to this directory")
    cp, stamp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_start, ticks = time.time(), cpu_ticks()
    try:
        ok, attempted, failed, metrics, info = run(a.workload, a.seed, a.seconds,
                                                   bool(a.trace), work, cp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    info.update({"git_sha": git_sha(), "source_sha1": stamp, "wall_s": time.time() - t_start,
                 "host_steal_frac": steal / max(total, 1)})
    result = {"correct": ok, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}.json"
    with open(os.path.join(HERE, "results", name), "w") as f:
        json.dump({**info, **result}, f, indent=1)
    log(json.dumps(info))
    print(json.dumps(result))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
