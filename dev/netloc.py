#!/usr/bin/env python3
"""Line counts of the change from a base ref to the working tree.

    python3 dev/netloc.py <base-ref>

Run from the repository root. For src/main and src/test it prints the
added, removed and net lines, counted twice: all lines, and code lines
only (blank lines and lines that start with //, /* or * left out).
Untracked files under those directories count as added.
"""
import subprocess
import sys

TREES = ("src/main", "src/test")


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def counts(base, tree):
    added, removed = [], []
    for line in git("diff", "--no-color", "-U0", base, "--", tree).splitlines():
        if line.startswith(("+++", "---")):
            continue
        if line.startswith("+"):
            added.append(line[1:])
        elif line.startswith("-"):
            removed.append(line[1:])
    for path in git("ls-files", "--others", "--exclude-standard", "--", tree).splitlines():
        with open(path, encoding="utf-8", errors="replace") as f:
            added.extend(f.read().splitlines())
    code_added = sum(map(is_code, added))
    code_removed = sum(map(is_code, removed))
    return (len(added), len(removed)), (code_added, code_removed)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    base = sys.argv[1]
    print(f"{'tree':<9} {'kind':<5} {'added':>7} {'removed':>8} {'net':>7}")
    for tree in TREES:
        for kind, (a, r) in zip(("all", "code"), counts(base, tree)):
            print(f"{tree:<9} {kind:<5} {a:>+7} {-r:>+8} {a - r:>+7}")


if __name__ == "__main__":
    main()
