#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

    python3 tools/plandiff.py PARENT_DUMP CHANGE_DUMP

A dump is the stdout of `runMain graft.Explain <sfDir> [query ...]`: one
`========== <query> ==========` header per query, followed by its formatted
physical plan. Lines before the first header and sbt log lines (`[info] `,
`[success] ` ...) are ignored.

Before comparing, numbers that differ between runs of the same code are
masked: expression ids (`#123` -> `#N`), `plan_id=123`, and the counter
suffix of lambda variables (`x_12` -> `x_N`; Spark numbers them from one
JVM-wide counter, so they shift with the queries built earlier in the run)
object identity hashes (`TopKPairAggregator@2b3247f8` -> `@H`) and the
JVM's numbering of Scala closure classes (`$Lambda$5824/0x7f65...` ->
`$Lambda$N`).

Prints `identical` or `differs` per query, in the order of the parent dump
(then any query only the change has), and a unified diff of the masked
plans for every query that differs. The exit status is 1 when any query
differs or is missing from one side.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
SBT_LOG = re.compile(r"^\[(info|warn|error|success)\] ")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b([a-z])_\d+\b"), r"\1_N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
]


def read_dump(path):
    """{query: [masked plan line, ...]} in file order."""
    plans = {}
    current = None
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                current = m.group(1)
                plans[current] = []
            elif current is not None and not SBT_LOG.match(line):
                for pattern, repl in MASKS:
                    line = pattern.sub(repl, line)
                plans[current].append(line)
    for lines in plans.values():  # trailing blank lines separate queries
        while lines and not lines[-1].strip():
            lines.pop()
    return plans


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    parent, change = read_dump(argv[1]), read_dump(argv[2])
    names = list(parent) + [n for n in change if n not in parent]
    differ = 0
    for name in names:
        a, b = parent.get(name), change.get(name)
        if a == b:
            print(f"{name}: identical")
            continue
        differ += 1
        if a is None or b is None:
            side = "parent" if a is None else "change"
            print(f"{name}: differs (missing from the {side} dump)")
            continue
        print(f"{name}: differs")
        sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
            a, b, f"parent/{name}", f"change/{name}", lineterm=""))
    print(f"{len(names) - differ} identical, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
