#!/usr/bin/env python3
"""Count copied code: lines of 5-line runs that appear more than once.

    python3 tools/dupblocks.py [root]        # root defaults to src/main/scala

Walks the .scala files under root in sorted order. Blank lines and lines
that start with `//`, `*` or `/**` are dropped and whitespace is collapsed.
Every window of 5 consecutive kept lines whose joined text is at least 75
characters long is keyed by that text; the first occurrence of a text is
the original, and the lines of each later occurrence are marked as copies.
Prints each run of marked lines as `file:line` (with its length), then the
count of marked lines per file and the total.
"""
import os
import re
import sys

WINDOW = 5
MIN_CHARS = 75


def code_lines(path):
    """(line number, normalized text) for each kept line of one file."""
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = " ".join(raw.split())
            if not line or line.startswith(("//", "*", "/**")):
                continue
            out.append((no, line))
    return out


def scala_files(root):
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    files = sorted(scala_files(root))
    seen = set()
    marked = {}  # file -> set of source line numbers
    for path in files:
        lines = code_lines(path)
        for i in range(len(lines) - WINDOW + 1):
            win = lines[i:i + WINDOW]
            text = "\n".join(t for _, t in win)
            if len(text) < MIN_CHARS:
                continue
            if text in seen:
                marked.setdefault(path, set()).update(n for n, _ in win)
            else:
                seen.add(text)
    total = 0
    for path in files:
        nums = sorted(marked.get(path, ()))
        if not nums:
            continue
        rel = os.path.relpath(path, root)
        # a run is a maximal stretch of marked lines with no kept, unmarked
        # line between them (dropped comment or blank lines do not split it)
        kept = [n for n, _ in code_lines(path)]
        runs, start, prev = [], None, None
        mset = set(nums)
        for n in kept:
            if n in mset:
                if start is None:
                    start, length = n, 0
                length += 1
                prev = n
            elif start is not None:
                runs.append((start, prev, length))
                start = None
        if start is not None:
            runs.append((start, prev, length))
        for s, e, length in runs:
            print(f"{rel}:{s}" + (f"-{e}" if e != s else "") + f"  ({length} lines)")
        total += len(nums)
    print()
    for path in files:
        nums = marked.get(path)
        if nums:
            print(f"{len(nums):6d}  {os.path.relpath(path, root)}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main()
