#!/usr/bin/env python3
"""Compare before/after plan dumps pairwise, with run-specific ids masked.

Usage: python3 tools/diff_plans.py <dir>

Pairs every <q>_before.txt in <dir> with <q>_after.txt (the files a
scoped `graft.tools.PlanAudit <sfDir> <queries> <dir> <suffix>` run
writes, once per tree). Before comparing, each line has the ids that
change between any two runs masked:

  - expression ids            `#123`, `#123L`     -> `#N`
  - exchange plan ids         `plan_id=45`        -> `plan_id=N`
  - RDD ids                   `RDD[2533]`         -> `RDD[N]`
  - source-line call sites    `Recsys.scala:1758` -> `Recsys.scala:N`
  - serve-table build nonces  `graft_serve/<table>/5580b715`
                                -> `graft_serve/<table>/<nonce>`
    (`Sources.publish` writes every build under a fresh random dir)

It prints every line pair that still differs (a line present on one side
only pairs with `<none>`) and every unpaired file, and exits 1 on any
difference, 0 when every pair is identical. There is no allow-list: a
difference that is expected (a renamed alias) is still printed, and the
reader decides.

Dev-only tool, not part of the shipped library.
"""
import difflib
import re
import sys
from pathlib import Path

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(graft_serve/\w+)/[0-9a-f]{8}\b"), r"\1/<nonce>"),
]


def masked(path):
    lines = path.read_text().splitlines()
    for rx, rep in MASKS:
        lines = [rx.sub(rep, ln) for ln in lines]
    return lines


def diff_pair(name, before, after):
    """Print the differing line pairs of one query; return their count."""
    a, b = masked(before), masked(after)
    n = 0
    sm = difflib.SequenceMatcher(a=a, b=b, autojunk=False)
    for tag, i1, i2, j1, j2 in sm.get_opcodes():
        if tag == "equal":
            continue
        width = max(i2 - i1, j2 - j1)
        for k in range(width):
            la = a[i1 + k] if i1 + k < i2 else "<none>"
            lb = b[j1 + k] if j1 + k < j2 else "<none>"
            print(f"{name} before:{i1 + k + 1}: {la}")
            print(f"{name} after:{j1 + k + 1}:  {lb}")
            n += 1
    return n


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    d = Path(argv[1])
    befores = {p.name[: -len("_before.txt")]: p for p in d.glob("*_before.txt")}
    afters = {p.name[: -len("_after.txt")]: p for p in d.glob("*_after.txt")}
    if not befores and not afters:
        print(f"no *_before.txt / *_after.txt files in {d}", file=sys.stderr)
        return 1
    bad = 0
    for name in sorted(set(befores) | set(afters)):
        if name not in afters:
            print(f"{name}: no {name}_after.txt")
            bad += 1
        elif name not in befores:
            print(f"{name}: no {name}_before.txt")
            bad += 1
        else:
            n = diff_pair(name, befores[name], afters[name])
            if n:
                print(f"{name}: {n} differing line pair(s)")
                bad += 1
    print(f"{len(set(befores) | set(afters))} queries, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
