#!/usr/bin/env python3
"""Compare two sets of probe plans written by `graft.tools.Profile plan`.

    python3 tools/plan_diff.py OLD_DIR NEW_DIR

Each directory holds one <probe>.txt per probe. Run-specific ids are
masked: expression ids (`#123`), exchange ids (`plan_id=45`) and RDD ids
(`MapPartitionsRDD[144]`), which count what the session built before the
probe, and JVM identity hashes (`[B@6f5d292c`, a byte-array literal) and
lambda class addresses (`$$Lambda$4172/0x00007f4b35293310`). Prints one
line per probe: `same`, `differs` followed by the first differing line of each
side, or `only in OLD`/`only in NEW`. Exits 1 when any probe differs or
is missing on one side.
"""
import os
import re
import sys

RUN_IDS = [(re.compile(r"#\d+"), "#"), (re.compile(r"plan_id=\d+"), "plan_id="),
           (re.compile(r"RDD\[\d+\]"), "RDD[]"), (re.compile(r"@[0-9a-f]+\b"), "@"),
           (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda")]


def plans(d):
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")}


def masked(line):
    for pattern, repl in RUN_IDS:
        line = pattern.sub(repl, line)
    return line


def lines(path):
    with open(path) as fh:
        return [masked(line.rstrip("\n")) for line in fh]


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    old, new = plans(argv[1]), plans(argv[2])
    bad = 0
    for name in sorted(old.keys() | new.keys()):
        if name not in new or name not in old:
            print(f"{name}: only in {'OLD' if name in old else 'NEW'}")
            bad += 1
            continue
        a, b = lines(old[name]), lines(new[name])
        if a == b:
            print(f"{name}: same")
            continue
        bad += 1
        i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
        print(f"{name}: differs at line {i + 1}")
        print(f"  old: {a[i] if i < len(a) else '<end>'}")
        print(f"  new: {b[i] if i < len(b) else '<end>'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
