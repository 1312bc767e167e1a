#!/usr/bin/env python3
"""Duplicated-line count per source file: the 6-line window scan.

Lines are compared with surrounding whitespace trimmed. A window of 6
consecutive lines is skipped when it holds a blank line or a `//`
comment line. Every line covered by a window that already occurred
earlier in the same file counts once. Given more than one file, a last
`total` line sums the per-file counts.

Usage: python3 tools/dup_scan.py FILE...
"""
import sys

W = 6


def dup_lines(path):
    lines = [l.strip() for l in open(path, encoding="utf-8")]
    seen, dup = set(), set()
    for i in range(len(lines) - W + 1):
        win = tuple(lines[i:i + W])
        if any(not l or l.startswith("//") for l in win):
            continue
        if win in seen:
            dup.update(range(i, i + W))
        seen.add(win)
    return len(dup)


if __name__ == "__main__":
    counts = [(dup_lines(path), path) for path in sys.argv[1:]]
    for n, path in counts:
        print(f"{n}\t{path}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts)}\ttotal")
