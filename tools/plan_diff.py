#!/usr/bin/env python3
"""Compare the physical plans of two `graft.PlanOne` runs, query by query.

Usage:
    sbt "runMain graft.PlanOne <sfDir> q_a q_b ..." > before.txt   # tree A
    sbt "runMain graft.PlanOne <sfDir> q_a q_b ..." > after.txt    # tree B
    python3 tools/plan_diff.py before.txt after.txt [-v]

PlanOne prints `=== <query> ===` and then the query's
`explain("formatted")` output. Before comparing, each plan is normalized
by removing what changes from run to run without changing the work:

  - expression ids (`doc_id#123`, `#123L`);
  - `plan_id=N` and `id=#N` tokens (AQE and subquery bookkeeping);
  - RDD and checkpoint ids (`ExistingRDD[12]`, `MapPartitionsRDD[7]`,
    `rdd_3_1`, `LocalCheckpoint N`) and the source position an RDD was
    created at (`at localCheckpoint at Curate.scala:512`);
  - JVM identities of closures and objects (`Foo$$$Lambda$48/0x7f…@1a2b`).

For each query the report says `identical` or `DIFFERS` (and with `-v`
prints a unified diff of the normalized plans). A query found in only one
file is reported as `missing`. The exit status is 0 only if every query
present in either file is identical in both.
"""
import difflib
import re
import sys

_HEADER = re.compile(r"^=== (\S+) ===\s*$")
_NORMALIZE = [
    (re.compile(r"#\d+L?\b"), "#"),
    (re.compile(r"\bplan_id=\d+"), "plan_id="),
    (re.compile(r"\bid=#\d+"), "id=#"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"\brdd_\d+(_\d+)*"), "rdd_"),
    (re.compile(r"\b(LocalCheckpoint|ReliableCheckpoint)\s*\d+"), r"\1"),
    (re.compile(r"\bat (\w+) at [\w$.]+\.(scala|java):\d+"), r"at \1 at <src>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{1,8}\b"), "@"),
]


def normalize(line):
    for pat, rep in _NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


def plans(path):
    """{query: [normalized physical-plan lines]} of one PlanOne output."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            m = _HEADER.match(raw)
            if m:
                cur = out.setdefault(m.group(1), [])
                continue
            if cur is None or raw.startswith("[") or not raw.strip():
                # sbt/log4j lines ("[info] …", "[warn] …") and blank lines
                continue
            cur.append(normalize(raw))
    return out


def main(argv):
    args = [a for a in argv if a != "-v"]
    verbose = len(args) != len(argv)
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = plans(args[0]), plans(args[1])
    ok = True
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"{q}: missing from {args[0] if q not in a else args[1]}")
            ok = False
        elif not a[q] or not b[q]:
            print(f"{q}: no plan printed")
            ok = False
        elif a[q] == b[q]:
            print(f"{q}: identical ({len(a[q])} lines)")
        else:
            print(f"{q}: DIFFERS")
            ok = False
            if verbose:
                for l in difflib.unified_diff(a[q], b[q], args[0], args[1],
                                              lineterm="", n=1):
                    print(l)
    n = len(set(a) | set(b))
    print(f"{'all' if ok else 'NOT all'} {n} queries identical")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
