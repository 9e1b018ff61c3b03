#!/usr/bin/env python3
"""Count code lines of the Scala sources: src/main and src/test totals,
plus the largest files.

A code line is any line that is not blank, not a `//` comment line and
not inside a `/* ... */` block; a line with code after a block's closing
`*/` counts.

    python3 tools/loc.py [repo-root]
"""
import argparse
import os

TOP = 10  # largest files listed


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
            elif s.startswith("/*"):
                if "*/" in s[2:]:
                    s = s[2:].split("*/", 1)[1].strip()
                else:
                    in_block = True
                    continue
            if s and not s.startswith("//"):
                n += 1
    return n


def tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith((".scala", ".java")):
                p = os.path.join(d, name)
                out[p] = code_lines(p)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("root", nargs="?", default=os.path.join(os.path.dirname(__file__), ".."))
    args = ap.parse_args()
    root = os.path.normpath(args.root)
    everything = {}
    for part in ("src/main", "src/test"):
        counts = tree(os.path.join(root, part))
        everything.update(counts)
        print(f"{part}: {sum(counts.values()):,} code lines in {len(counts)} files")
    print(f"largest {TOP}:")
    for p, c in sorted(everything.items(), key=lambda kv: -kv[1])[:TOP]:
        print(f"  {c:6,}  {os.path.relpath(p, root)}")


if __name__ == "__main__":
    main()
