#!/usr/bin/env python3
"""List the defs of src/main whose name appears nowhere but at a definition.

The entry points counted as callers are everything under src/main (the
registry queries, the ETL Pipeline, SparkEntry and the tool mains all
live there) plus the perfbench harness sources. src/test is not
scanned: a def that only a spec calls is listed. Comments are stripped
first, so a scaladoc mention is not a caller; a name inside a string
literal (an interpolation, a SQL text) still counts.

A listed name is a candidate, not a verdict: Spark API overrides and
reflective entry points (SparkEntry.entry) show up too.

Usage: python3 tools/dead_defs.py [repo-root]   (default: cwd)
Prints one `<file>:<line> <name>` row per listed def and a total.
"""
import os
import re
import sys

ROOTS = ["src/main", "perfbench/harness/src"]
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip(src):
    """Blank out comments, keeping line breaks and string literals."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    out.append("\n" if src[i] == "\n" else "")
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            k = src.index("'", i + 1 if src[i + 1] != "\\" else i + 3)
            out.append(src[i:k + 1])
            i = k + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    texts = {}
    for r in ROOTS:
        for d, _, files in os.walk(os.path.join(root, r)):
            for f in files:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    texts[os.path.relpath(p, root)] = strip(open(p).read())
    uses, defs = {}, {}
    for path, text in texts.items():
        for w in WORD.findall(text):
            uses[w] = uses.get(w, 0) + 1
        if path.startswith("src/main"):
            for m in DEF.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                defs.setdefault(m.group(1), []).append((path, line))
    dead = sorted((sites[0], name) for name, sites in defs.items()
                  if uses[name] == len(sites))
    for (path, line), name in dead:
        print(f"{path}:{line} {name}")
    print(f"{len(dead)} names appear only at their own definition")


if __name__ == "__main__":
    main()
