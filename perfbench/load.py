"""Load for the benchmark: one seeded process that lands event files for the
pipeline's file source and reads every route of the metrics server, both
open-loop.

Events follow the testdata domain: types view/click/purchase/signup/error,
skewed user ids, values in [100, 3000]. Event time runs `factor` times faster
than wall time, so the deployed 60 s / 300 s / 1800 s windows close many
times per run; each event is at most JITTER_US older than its nominal time,
well inside the pipelines' 10 s watermark delay, so no event is late and the
expected results are exact.

A file holds the events due in one `file_ms` slot and lands atomically as
`<src>/k=<n>/events.parquet` (written under a staging directory, then
renamed) at the end of its slot; how late it landed is recorded.

Reads go out on a fixed schedule over at most `conns` connections at a
time; each is timed from its due time. `/metrics/event/windows?limit=120`,
the route on which the first response containing each event window is
found, is polled WINDOWS_PER_S times a second, so a lag sample is resolved
to 1 / WINDOWS_PER_S seconds. Every other route is polled once a second.

Usage (driven by run.py): python3 load.py <args.json>; it prints
`@@ {"t0": ...}` once reading starts, accepts `pass_done` on stdin
(backfill), and writes `<work>/load.json` before it exits. In `live` it
starts 0.25 s after a tick of the pipelines' processing-time trigger.
"""
import http.client
import json
import os
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TYPES = np.array(["view", "click", "purchase", "signup", "error"])
TYPE_P = [0.45, 0.25, 0.10, 0.05, 0.15]
# EventAggregator.defaultAllowed: the types the event windows count
SERVED_TYPES = ["view", "click", "purchase", "signup"]
# Each query's type filter is pushed below its watermark, so a query's
# watermark follows the newest event of the types it keeps.
QUERY_TYPES = {"event_metrics": SERVED_TYPES, "session_metrics": ["view"],
               "performance_metrics": list(TYPES)}
USERS = 5000
WINDOW_MS = 60_000
WATERMARK_MS = 10_000
JITTER_US = 5_000_000
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                    ("user_id", pa.int64()), ("event_type", pa.string()),
                    ("value", pa.float64()), ("props", pa.string())])
WINDOWS_ROUTE = "/metrics/event/windows?limit=120"
WINDOWS_PER_S = 10
ROUTES = ["/healthz", "/readyz", "/metrics/event/latest",
          "/metrics/performance/windows?limit=120", "/metrics/overview",
          "/metrics/drift?limit=120", "/metrics/alerts?limit=120"]
# one second of reads as (offset in the second, route), in due order
SCHEDULE = sorted([(i / WINDOWS_PER_S, WINDOWS_ROUTE) for i in range(WINDOWS_PER_S)] +
                  [((i + 0.5) / len(ROUTES), r) for i, r in enumerate(ROUTES)])


def make_events(seed, stream, chunk, first, n, step_us):
    """Events `first .. first+n-1` of one input stream; the same arguments
    always give the same table. Nominal event time is `index * step_us`."""
    rng = np.random.default_rng([seed, stream, chunk])
    idx = np.arange(first, first + n, dtype=np.int64)
    ts = EPOCH_US + idx * step_us - rng.integers(0, JITTER_US, n)
    users = (USERS * rng.random(n) ** 3).astype(np.int64)
    types = TYPES[rng.choice(len(TYPES), n, p=TYPE_P)]
    values = np.round(rng.uniform(100.0, 3000.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table([pa.array(idx + (stream << 40)),
                     pa.array(ts, pa.timestamp("us")), pa.array(users),
                     pa.array(types), pa.array(values), pa.array(props)],
                    schema=SCHEMA)


def land(src, stage, k, table):
    """Write one file and move its partition directory into `src` at once."""
    tmp = os.path.join(stage, f"k={k}")
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "events.parquet"))
    os.rename(tmp, os.path.join(src, f"k={k}"))


def start_source(src):
    """An empty top-level events.parquet: the file `runAll` reads its schema from."""
    os.makedirs(src)
    pq.write_table(SCHEMA.empty_table(), os.path.join(src, "events.parquet"))


def write_backlog(src, seed, stream, events, span_ms, files):
    """A static input of `files` partition directories, all in place before
    the queries start. Returns (rows, the event windows the final watermark
    of `event_metrics` closes)."""
    start_source(src)
    step_us = span_ms * 1000 // events
    per = events // files
    windows, max_ms = set(), 0
    for k in range(files):
        t = make_events(seed, stream, k, k * per, per, step_us)
        ts = t.column("ts").cast(pa.int64()).to_numpy()
        served = np.isin(t.column("event_type").to_numpy(zero_copy_only=False), SERVED_TYPES)
        windows.update((ts[served] // 1000 // WINDOW_MS * WINDOW_MS).tolist())
        max_ms = max(max_ms, int(ts[served].max()) // 1000)
        os.makedirs(os.path.join(src, f"k={k}"))
        pq.write_table(t, os.path.join(src, f"k={k}", "events.parquet"))
    return per * files, sorted(w for w in windows if w + WINDOW_MS < max_ms - WATERMARK_MS)


class Closer:
    """Tracks, for each event window with served events, the due time of the
    first event that moves the watermark past the window's end."""

    def __init__(self):
        self.max_ms = -(1 << 62)
        self.pending = set()
        self.closed = {}

    def add(self, ts_us, types, due_s):
        served = np.isin(types, SERVED_TYPES)
        ms, due_s = ts_us[served] // 1000, due_s[served]
        if not len(ms):
            return
        for w in np.unique(ms // WINDOW_MS * WINDOW_MS).tolist():
            if w not in self.closed:
                self.pending.add(w)
        runmax = np.maximum.accumulate(np.maximum(ms, self.max_ms))
        for w in sorted(self.pending):
            i = np.searchsorted(runmax, w + WINDOW_MS + WATERMARK_MS, side="right")
            if i == len(runmax):
                break
            self.closed[w] = float(due_s[i])
            self.pending.discard(w)
        self.max_ms = int(runmax[-1])


class Reader:
    def __init__(self, port, t0, conns):
        self.port, self.t0 = port, t0
        self.lock = threading.Lock()
        self.next = 0
        self.stop_at = None
        self.reads = []          # (due, sent, done, status, route)
        self.first_seen = {}     # window start -> (time, row)
        self.snapshots = []      # (due, body hash) of windows-route 200s
        self.threads = [threading.Thread(target=self.work, daemon=True)
                        for _ in range(conns)]
        for t in self.threads:
            t.start()

    def work(self):
        while True:
            with self.lock:
                k = self.next
                self.next += 1
            second, slot = divmod(k, len(SCHEDULE))
            offset, route = SCHEDULE[slot]
            due = self.t0 + second + offset
            if self.stop_at is not None and due >= self.stop_at:
                break
            time.sleep(max(0.0, due - time.time()))
            sent = time.time()
            # one connection per request: the JDK server writes headers and
            # body separately, and on a kept-alive connection the client's
            # delayed ACK then holds every response for ~40 ms
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
            try:
                conn.request("GET", route)
                resp = conn.getresponse()
                body = resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                body, status = b"", -1
            finally:
                conn.close()
            done = time.time()
            with self.lock:
                self.reads.append((due, sent, done, status, route))
            if route == WINDOWS_ROUTE and status == 200:
                rows = json.loads(body)["windows"]
                with self.lock:
                    self.snapshots.append((due, hash(body)))
                    for r in rows:
                        w = r["window_start_ms"]
                        if w not in self.first_seen or done < self.first_seen[w][0]:
                            self.first_seen[w] = (done, r)

    def stop(self):
        self.stop_at = time.time()
        for t in self.threads:
            t.join()

    def seen_all(self, windows):
        with self.lock:
            return all(w in self.first_seen for w in windows)


def run_live(a, reader, t0):
    """Generate at `rate` ev/s for `seconds`, then keep generating until every
    window that closed during those seconds has been served, or `drain_s`."""
    src, stage = os.path.join(a["work"], "run", "src"), os.path.join(a["work"], "run", "stage")
    os.makedirs(stage, exist_ok=True)
    rate, per = a["rate"], a["rate"] * a["file_ms"] // 1000
    step_us = a["factor"] * 1_000_000 // rate
    closer = Closer()
    pre = make_events(a["seed"], 0, 0, -a["prefill"], a["prefill"], step_us)
    closer.add(pre.column("ts").cast(pa.int64()).to_numpy(),
               pre.column("event_type").to_numpy(zero_copy_only=False),
               t0 + np.arange(-a["prefill"], 0) / rate)
    files = []
    end_s, sample = t0 + a["seconds"], None
    j = 0
    while True:
        tick = t0 + (j + 1) * a["file_ms"] / 1000
        time.sleep(max(0.0, tick - time.time()))
        t = make_events(a["seed"], 0, j + 1, j * per, per, step_us)
        land(src, stage, j + 1, t)
        landed = time.time()
        ts = t.column("ts").cast(pa.int64()).to_numpy()
        closer.add(ts, t.column("event_type").to_numpy(zero_copy_only=False),
                   t0 + np.arange(j * per, (j + 1) * per) / rate)
        files.append((tick, landed, per))
        j += 1
        if sample is None and tick >= end_s:
            sample = {w: c for w, c in closer.closed.items() if t0 <= c < end_s}
        if sample is not None and (reader.seen_all(sample) or tick >= end_s + a["drain_s"]):
            break
    return {"files": files, "sample": sample}


def main():
    a = json.load(open(sys.argv[1]))
    try:
        # keep the schedule when the system under test saturates the cores
        os.nice(-10)
    except OSError:
        pass
    t0 = time.time()
    if a["mode"] == "live":
        # start just after a tick of the processing-time trigger (Spark aligns
        # ticks to multiples of the interval), so every run sees the same
        # phase between file landings and triggers
        period = a["trigger_ms"] / 1000
        t0 = (t0 // period + 1) * period + 0.25
        time.sleep(t0 - time.time())
    reader = Reader(a["port"], t0, a["conns"])
    print("@@ " + json.dumps({"t0": t0}), flush=True)
    if a["mode"] == "live":
        out = run_live(a, reader, t0)
    else:
        # backfill: read until every closed window is served, or until
        # `drain_s` after the pass ends
        passed = []
        threading.Thread(target=lambda: (sys.stdin.readline(), passed.append(time.time())),
                         daemon=True).start()
        while not reader.seen_all(a["expect"]) and not (
                passed and time.time() > passed[0] + a["drain_s"]):
            time.sleep(0.02)
        out = {}
    reader.stop()
    out.update({"t0": t0, "end": reader.stop_at, "reads": reader.reads, "snapshots": reader.snapshots,
                "first_seen": {str(w): v for w, v in reader.first_seen.items()}})
    with open(os.path.join(a["work"], "load.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
