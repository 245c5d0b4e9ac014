#!/usr/bin/env python3
"""Interleaved perfbench A/B pairs: a parent revision against the working tree.

    python3 tools/perf_pairs.py --parent REV --workload live --seeds 961 962 963 \\
        [--seconds 10] [--workdir DIR] [--out pairs.json]
    python3 tools/perf_pairs.py --summarize pairs.json

perfbench builds the program from the checkout it runs in, so the parent
side needs a checkout of its own: the script exports REV with
`git archive` into `--workdir` (a new temporary directory by default) and
runs `perfbench/run.py` there and in this repository, one seed per pair.
Pair i runs the parent first when i is even and the change first when i is
odd, so a slow drift of the host favours neither side.

For each end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the pairs the change won, whether the gain rule holds (the
change wins at least 9 of every 10 pairs and the medians differ by more
than the parent's interquartile range), and the change of the median
against the metric's bound. Every run's result line is kept in `--out`, so
`--summarize` can print the table again without running anything.

It reads only `perfbench/` and `BENCHMARK.json`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Write the tree of `rev` into `dest`."""
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its result line plus the exit code."""
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip().startswith("{")]
    res = json.loads(lines[-1]) if lines else {"correct": False, "failed": None, "metrics": {}}
    res.update({"exit": p.returncode, "wall_s": round(time.time() - t0, 1)})
    if p.returncode != 0:
        res["stderr_tail"] = p.stderr[-2000:]
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(doc):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    pairs = doc["pairs"]
    print(f"{doc['workload']}: parent {doc['parent']} against the working tree, "
          f"{len(pairs)} pairs, --seconds {doc['seconds']}")
    for side in ("parent", "change"):
        bad = [p["seed"] for p in pairs if not p[side]["correct"] or p[side]["exit"] != 0
               or p[side].get("failed")]
        print(f"  {side}: {len(pairs) - len(bad)}/{len(pairs)} runs correct with 0 failed"
              + (f"; not so for seeds {bad}" if bad else ""))
    hdr = f"  {'metric':22} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} " \
          f"{'won':>6} {'gain rule':>9} {'change':>8} {'bound':>6}"
    print(hdr)
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in pairs if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not both:
            continue
        a = [x for x, _ in both]
        b = [y for _, y in both]
        qa, qb = quartiles(a), quartiles(b)
        won = sum(1 for x, y in both if (y < x if lower else y > x))
        gap = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
        rule = won * 10 >= 9 * len(both) and gap > qa[2] - qa[0]
        rel = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
        worse = rel if lower else -rel
        flag = " WORSE THAN BOUND" if worse > m["bound"] else ""
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"  {name:22} {fmt(qa):>28} {fmt(qb):>28} {won:>3}/{len(both):<2} "
              f"{'holds' if rule else 'no':>9} {rel:>+8.1%} {m['bound']:>6}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=int, nargs="+")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workdir", help="where the parent is exported (default: a new temp dir)")
    ap.add_argument("--out", help="JSON file for every run's result (default: under --workdir)")
    ap.add_argument("--summarize", metavar="FILE", help="print the table of a saved --out file")
    a = ap.parse_args()
    if a.summarize:
        summarize(json.load(open(a.summarize)))
        return
    if not (a.parent and a.workload and a.seeds):
        ap.error("--parent, --workload and --seeds are required unless --summarize is given")
    rev = subprocess.run(["git", "rev-parse", "--verify", a.parent + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    made = a.workdir is None
    workdir = a.workdir or tempfile.mkdtemp(prefix="pp")
    # short: sbt's server socket lives under the checkout's perfbench/.build,
    # and a unix socket path holds at most 107 bytes
    parent_dir = os.path.join(workdir, rev[:8])
    if not os.path.isdir(os.path.join(parent_dir, "perfbench")):
        export(rev, parent_dir)
    out = a.out or os.path.join(workdir, f"pairs-{a.workload}-{int(time.time())}.json")
    doc = {"parent": rev, "workload": a.workload, "seconds": a.seconds, "pairs": []}
    try:
        for i, seed in enumerate(a.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(parent_dir if side == "parent" else ROOT,
                                      a.workload, seed, a.seconds)
                v = pair[side]["metrics"].get("visible_lag_p50_ms", {}).get("value")
                print(f"[perf_pairs] seed {seed} {side}: exit {pair[side]['exit']}, "
                      f"correct {pair[side]['correct']}, lag p50 {v}", file=sys.stderr, flush=True)
            doc["pairs"].append(pair)
            with open(out, "w") as f:
                json.dump(doc, f, indent=1)
    finally:
        if made and not doc["pairs"]:
            shutil.rmtree(workdir, ignore_errors=True)
    print(f"results: {out}")
    summarize(doc)


if __name__ == "__main__":
    main()
