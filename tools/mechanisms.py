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

CHECKPOINT = re.compile(r"(\w*)\s*\.localCheckpoint\(")


def rdd_names(lines):
    """Names a file declares as RDDs: typed `: RDD[`, or a val/var bound to
    a map/filter/mapPartitions of one."""
    text = "".join(lines)
    names = set(re.findall(r"\b(\w+)\s*:\s*RDD\[", text))
    derived = re.compile(r"\b(?:val|var)\s+(\w+)\s*=\s*(\w+)\s*\."
                         r"(?:map|mapPartitions|filter|flatMap)\b")
    while True:
        more = {a for a, b in derived.findall(text) if b in names} - names
        if not more:
            return names
        names |= more


def checkpoint_lines(lines, rdd):
    """Lines with a `.localCheckpoint(` whose receiver is (`rdd`) or is not
    (not `rdd`) a known RDD; a receiver on an earlier line is a DataFrame."""
    names = rdd_names(lines)
    return sum(1 for line in lines for m in [CHECKPOINT.search(line)]
               if m and (m.group(1) in names) == rdd)


def registries(lines):
    """A `register` that returns a String key, in a file that also has the
    `resolve` turning the key back into the artifact."""
    text = "".join(lines)
    if not re.search(r"\bdef resolve\(", text):
        return 0
    return len(re.findall(r"\bdef register\([^)]*\)\s*:\s*String\b", text))


def memo_caches(lines):
    """A `computeIfAbsent` whose value is a registry key: `.register(`
    within the next two lines."""
    return sum(1 for i, line in enumerate(lines) if "computeIfAbsent(" in line
               and any(".register(" in x for x in lines[i:i + 3]))


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
    ("DataFrame localCheckpoint sites", lambda lines: checkpoint_lines(lines, rdd=False)),
    ("RDD localCheckpoint sites", lambda lines: checkpoint_lines(lines, rdd=True)),
    ("stat-reset re-wraps (createDataFrame(<x>.rdd)",
     re.compile(r"createDataFrame\(\s*[\w.]+\.rdd\b")),
    ("loop convergence reads (accum/observe/isEmpty)",
     re.compile(r"\blongAccumulator\(|\bObservation\(|\)\.isEmpty\b")),
    ("argmax aggregates (max(struct(...)))",
     re.compile(r"^(?!\s*(//|\*)).*\bmax\(struct\(")),
    ("keeper null pins (coalesce to -inf)", re.compile(r"Double\.NegativeInfinity")),
    ("kernels called by name (call_function()", re.compile(r"\bcall_function\(")),
    ("GraftExtensions.register( outside Engine", re.compile(r"GraftExtensions\.register\("),
     lambda f: f not in ("Engine.scala", "GraftExtensions.scala")),
    ("string-keyed artifact registries", registries),
    ("registry key memos (computeIfAbsent->register)", memo_caches),
    ("formula trees built in GraftExtensions", re.compile(
        r"\b(Add|Subtract|Multiply|Divide|Remainder|Pow|Exp|Sqrt|Sin|Cos|Asin|"
        r"ToRadians|Floor|Greatest|Least|CaseWhen)\("),
     lambda f: f == "GraftExtensions.scala"),
]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main")
    hits = {m[0]: {} for m in MECHANISMS}
    for d, _, files in os.walk(src):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                lines = fh.readlines()
            for name, rx, *only in MECHANISMS:
                if only and not only[0](f):
                    continue
                if callable(rx):
                    n = rx(lines)
                else:
                    n = sum(1 for line in lines if rx.search(line))
                if n:
                    hits[name][os.path.relpath(path, src)] = n
    print(f"{'mechanism':48} {'files':>5} {'lines':>5}")
    for name, *_ in MECHANISMS:
        per_file = hits[name]
        print(f"{name:48} {len(per_file):5} {sum(per_file.values()):5}")
        for path in sorted(per_file):
            print(f"    {path} ({per_file[path]})")


if __name__ == "__main__":
    main()
