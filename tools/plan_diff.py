#!/usr/bin/env python3
"""List the queries whose formatted physical plans differ between two
`graft.Explain` outputs.

Make each side with every query, in name order (no names = all):

  sbt -batch "runMain graft.Explain" > plans_a.txt

Run it with `JAVA_TOOL_OPTIONS=-Dspark.sql.adaptive.enabled=false` to
compare the static plans; with AQE on both sides print the same
not-yet-final AdaptiveSparkPlan.

A section starts at a `===== <query> =====` line. sbt's `[info] `
prefix is stripped and its stderr lines (`[error] ...`, Spark's log)
are dropped, so raw stdout and sbt output compare alike. Before the
compare, run-dependent tokens are normalised:

  - expression ids (`name#123L`) and exchange `plan_id=123`;
  - RDD ids (`MapPartitionsRDD[122]`) and source lines, as in a
    checkpoint RDD's name (`at localCheckpoint at Iterate.scala:64`);
  - JVM lambda identities (`Foo$$$Lambda$5977/0x00007f...@6292b290`)
    and Spark's fresh lambda-variable counters (`lambda x_68`);
  - `observe()` names: an `Observation`'s random UUID, and the
    per-JVM sequence number `Pipeline.metricName` appends.

Usage:  tools/plan_diff.py A B [--show N]
Prints one line per query that differs (or is missing on one side) and
a summary. Exit 0 when every query's plan is identical, else 1.
"""
import argparse
import difflib
import re
import sys

SECTION = re.compile(r"^===== (\S+) =====$")
NORMALISE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$\$Lambda\$?\d*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
    (re.compile(r"\b(graft_[a-z0-9_]+?)_\d+\b"), r"\1_N"),
]


def normalise(line: str) -> str:
    for pattern, repl in NORMALISE:
        line = pattern.sub(repl, line)
    return line


def sections(path: str) -> dict:
    plans, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[error]") or line.startswith("[success]"):
                continue
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            m = SECTION.match(line)
            # Spark's formatted plan has its own `===== Subqueries =====`
            if m and m.group(1) != "Subqueries":
                name = m.group(1)
                plans[name] = []
            elif name is not None and line.strip():
                plans[name].append(normalise(line))
    return plans


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--show", type=int, default=0,
                    help="print up to N diff lines per differing query")
    args = ap.parse_args()
    a, b = sections(args.a), sections(args.b)
    differ = []
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            differ.append(q)
            print(f"{q}: only in {'A' if q in a else 'B'}")
        elif a[q] != b[q]:
            differ.append(q)
            print(f"{q}: plans differ")
            if args.show:
                diff = difflib.unified_diff(a[q], b[q], "A", "B", lineterm="", n=0)
                for line in list(diff)[2:2 + args.show]:
                    print("    " + line)
    total = len(set(a) | set(b))
    print(f"{total - len(differ)}/{total} identical")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
