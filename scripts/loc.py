"""Code-line counts of the Scala sources.

Usage: python3 scripts/loc.py [repo root]

Prints one line per tree (`src/main`, `src/test`): the number of code
lines in its `*.scala` files, where a code line is a non-blank line
whose first non-space characters are not `//`, `/*` or `*`. This is the
size measure CHANGES.md reports.
"""
import os
import sys

TREES = ["src/main", "src/test"]


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def tree_lines(root):
    return sum(code_lines(os.path.join(d, name))
               for d, _, names in os.walk(root)
               for name in names if name.endswith(".scala"))


def main(argv):
    repo = argv[1] if len(argv) > 1 else os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    for tree in TREES:
        print(f"{tree}\t{tree_lines(os.path.join(repo, tree))}")


if __name__ == "__main__":
    main(sys.argv)
