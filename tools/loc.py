#!/usr/bin/env python3
"""Count code, comment and blank lines of Scala sources.

    python3 tools/loc.py [path ...]      # default: src/main src/test

Each path is a file or a directory (searched for `*.scala`). Prints one
JSON object: per file and per path, the `code`, `comment` and `blank`
line counts, and their totals over all paths.

A line is blank when it is empty once stripped. It is a comment when,
stripped, it starts with `//`, `/*` or `*`, or when it lies inside a
`/* ... */` block that a comment line opened. Every other line is code:
comments and blank lines are not code.
"""
import json
import os
import sys

KINDS = ("code", "comment", "blank")


def count_lines(lines):
    """(code, comment, blank) counts of an iterable of source lines."""
    counts = dict.fromkeys(KINDS, 0)
    in_block = False
    for line in lines:
        s = line.strip()
        if in_block:
            counts["comment"] += 1
            in_block = "*/" not in s
        elif not s:
            counts["blank"] += 1
        elif s.startswith(("//", "/*", "*")):
            counts["comment"] += 1
            in_block = s.startswith("/*") and "*/" not in s[2:]
        else:
            counts["code"] += 1
    return counts


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files) if f.endswith(".scala")]
    return found


def report(paths):
    out = {"files": {}, "paths": {}, "total": dict.fromkeys(KINDS, 0)}
    for p in paths:
        per_path = dict.fromkeys(KINDS, 0)
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                c = count_lines(fh)
            out["files"][f] = c
            for k in KINDS:
                per_path[k] += c[k]
                out["total"][k] += c[k]
        out["paths"][p] = per_path
    return out


def main(argv):
    paths = argv[1:] or ["src/main", "src/test"]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        sys.exit(f"loc.py: no such path: {', '.join(missing)}")
    json.dump(report(paths), sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main(sys.argv)
