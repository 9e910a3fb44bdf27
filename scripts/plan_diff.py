#!/usr/bin/env python3
"""Compare two `graft.PlanExplain` dumps entry by entry.

    python3 scripts/plan_diff.py BEFORE_DIR AFTER_DIR

Each dump holds one `<entry>_<suffix>.txt` file per catalog entry (the
suffix is the run's label, e.g. `before` / `after`). Entries are paired
by name. Before comparing, each file is normalized so that only the
plans' shape and expressions remain:

- expression ids `#123` / `#123L` become `#N`;
- `plan_id=12` becomes `plan_id=N`;
- codegen stage markers `*(3)` become `*(N)`;
- AQE query-stage numbers (`ShuffleQueryStage 4`) become `... N`;
- file paths (`file:/...`, `/tmp/...`, `/dev/shm/...`) become `<path>`;
- RDD ids (`MapPartitionsRDD[193]`) become `RDD[N]`, and the source
  lines of their call sites (`GraphOps.scala:95`) `GraphOps.scala:N`;
- the dump's header line and its timing line are dropped.

Prints `identical` or a unified diff per entry and exits 1 if any entry
differs or is missing from one side, else 0.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"(file:)?/(tmp|dev|root|home|var|opt)/[^\s,\]\)]*"), "<path>"),
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def entries(out):
    """entry name -> file path, the name being the file name less `_<suffix>.txt`."""
    got = {}
    for f in os.listdir(out):
        if f.endswith(".txt") and "_" in f:
            got[f[:-4].rsplit("_", 1)[0]] = os.path.join(out, f)
    return got


def normalized(path):
    lines = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("== ") and " @ " in line or line.startswith("single-run noop wall:"):
                continue
            for pat, rep in RULES:
                line = pat.sub(rep, line)
            lines.append(line.rstrip("\n"))
    return lines


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = entries(sys.argv[1]), entries(sys.argv[2])
    differ = 0
    for name in sorted(set(before) | set(after)):
        if name not in before or name not in after:
            print(f"{name}: missing from {'BEFORE' if name not in before else 'AFTER'}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(normalized(before[name]), normalized(after[name]),
                                         "before", "after", lineterm="", n=1))
        if diff:
            differ += 1
            print(f"{name}: differs")
            print("\n".join(diff))
        else:
            print(f"{name}: identical")
    print(f"{differ} of {len(set(before) | set(after))} entries differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
