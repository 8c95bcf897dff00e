"""Count the package lines that sit in duplicated 8-line windows.

Every ``.py`` file under the package is read as its whitespace-stripped,
non-blank lines. Each run of 8 consecutive such lines is a window; a
window whose text occurs at least twice anywhere in the package (in one
file or across files) marks all of its lines, every occurrence
included, as duplicated. The script prints the total number of marked
lines, then one ``count path`` line per file with any, largest first.

Usage: python tools/dup_scan.py [PACKAGE_DIR]
  PACKAGE_DIR defaults to this checkout's ``boltzmannclean_spark``.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

WINDOW = 8
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lines(path: str) -> list[tuple[int, str]]:
    with open(path, encoding="utf-8") as f:
        return [
            (i, line.strip())
            for i, line in enumerate(f.read().splitlines(), 1)
            if line.strip()
        ]


def scan(root: str) -> dict[str, int]:
    """``{path relative to root: duplicated line count}`` for every file
    with at least one duplicated line."""
    files = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                files[os.path.relpath(path, root)] = _lines(path)
    seen = defaultdict(list)
    for rel, lines in files.items():
        for k in range(len(lines) - WINDOW + 1):
            seen[tuple(text for _, text in lines[k : k + WINDOW])].append((rel, k))
    marked = defaultdict(set)
    for where in seen.values():
        if len(where) > 1:
            for rel, k in where:
                marked[rel].update(n for n, _ in files[rel][k : k + WINDOW])
    return {rel: len(nums) for rel, nums in marked.items()}


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "boltzmannclean_spark")
    counts = scan(root)
    print(sum(counts.values()))
    for rel, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d} {rel}")


if __name__ == "__main__":
    main()
