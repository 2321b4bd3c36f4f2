#!/usr/bin/env python3
"""Deterministic source-line count for src/main.

Usage: python3 tools/sloc.py [repoRoot]

Counts the non-blank lines of every src/main/**/*.scala file, leaving
out lines that start with `//` and every line of a `/* ... */` block
(scaladoc included). Prints one `<count> <path>` line per file, sorted
by path, then `<total> total`.
"""
import pathlib
import sys


def count(text: str) -> int:
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            if "*/" in line:
                in_block = False
            continue
        if not line or line.startswith("//"):
            continue
        if line.startswith("/*"):
            in_block = "*/" not in line[2:]
            continue
        n += 1
    return n


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    files = sorted((root / "src" / "main").rglob("*.scala"))
    total = 0
    for f in files:
        c = count(f.read_text(encoding="utf-8"))
        total += c
        print(f"{c} {f.relative_to(root)}")
    print(f"{total} total")


if __name__ == "__main__":
    main()
