#!/usr/bin/env python3
"""List every bare `catch { case _: Exception` site in src/main as
file:line, then the total.

    python3 tools/catch_sites.py
"""
import os
import re

SITE = re.compile(r"catch\s*\{\s*case\s+_\s*:\s*Exception\b")


def main():
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    main_dir = os.path.join(root, "src", "main")
    total = 0
    for d, _, files in sorted(os.walk(main_dir)):
        for name in sorted(files):
            if not name.endswith((".scala", ".java")):
                continue
            path = os.path.join(d, name)
            with open(path, encoding="utf-8") as f:
                for n, line in enumerate(f, 1):
                    if SITE.search(line):
                        print(f"{os.path.relpath(path, root)}:{n}")
                        total += 1
    print(f"total {total}")


if __name__ == "__main__":
    main()
