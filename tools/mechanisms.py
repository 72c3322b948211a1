#!/usr/bin/env python3
"""Count the mechanisms of ROADMAP aim 2 in main Scala sources.

Usage: python3 tools/mechanisms.py [REPO_ROOT]

REPO_ROOT defaults to the repository holding this script; pass another
checkout to compare before/after. For each mechanism, prints how many
files under src/main spell it, how many lines do, and the files.
"""
import os
import re
import sys

MECHANISMS = [
    ("marker/staging names (_append_*_ok, *_staging)",
     re.compile(r"_append_\S*_(ok|staging)|_appendtmp_staging")),
    ("swap names (__compact_tmp, __compact_old)",
     re.compile(r"__compact_(tmp|old)")),
    ("java.io.tmpdir uses (property, createTemp*)",
     re.compile(r'System\.getProperty\("java\.io\.tmpdir"\)'
                r"|\bcreateTemp(Directory|File)\(")),
    ("estate gate call sites (ensureBuilt/built)",
     re.compile(r"^(?!\s*(private\s+)?def\s).*\b(ensureBuilt|built)\(")),
    ("localCheckpoint sites", re.compile(r"\.localCheckpoint\(")),
    ("loop convergence reads (accum/observe/isEmpty)",
     re.compile(r"\blongAccumulator\(|\bObservation\(|\)\.isEmpty\b")),
    ("argmax aggregates (max(struct(...)))",
     re.compile(r"^(?!\s*(//|\*)).*\bmax\(struct\(")),
    ("keeper null pins (coalesce to -inf)", re.compile(r"Double\.NegativeInfinity")),
]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main")
    hits = {name: {} for name, _ in MECHANISMS}
    for d, _, files in os.walk(src):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                lines = fh.readlines()
            for name, rx in MECHANISMS:
                n = sum(1 for line in lines if rx.search(line))
                if n:
                    hits[name][os.path.relpath(path, src)] = n
    print(f"{'mechanism':48} {'files':>5} {'lines':>5}")
    for name, _ in MECHANISMS:
        per_file = hits[name]
        print(f"{name:48} {len(per_file):5} {sum(per_file.values()):5}")
        for path in sorted(per_file):
            print(f"    {path} ({per_file[path]})")


if __name__ == "__main__":
    main()
