#!/usr/bin/env python3
"""Lists every spark.graft.* setting the program reads.

    python3 dev/knobs.py

Run from the repository root. Scans src/main for reads of a
`spark.graft.*` key (getConfString, getOption, get, contains) and prints
one line per read site: the key, file:line, and the default the site
falls back to ("unset" when it has none). The last line counts the
distinct keys and the read sites. Writes (conf.set/unset) and keys
quoted only in messages are not reads and are left out.
"""
import os
import re
import sys

TREE = os.path.join("src", "main")
READ = re.compile(r'\b(getConfString|getOption|get|contains)\(\s*"(spark\.graft\.[A-Za-z0-9_.]+)"')


def default_after(text, i):
    """The argument after the key literal ending at `i`, up to the call's
    closing parenthesis; None when the call has no second argument."""
    while i < len(text) and text[i].isspace():
        i += 1
    if i >= len(text) or text[i] != ",":
        return None
    depth, j = 0, i + 1
    while j < len(text):
        c = text[j]
        if c == '"':
            j = text.index('"', j + 1)
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            if depth == 0:
                return " ".join(text[i + 1:j].split())
            depth -= 1
        j += 1
    return None


def sites():
    for d, dirs, files in os.walk(TREE):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            for m in READ.finditer(text):
                line = text.count("\n", 0, m.start(2)) + 1
                default = default_after(text, m.end())
                yield m.group(2), f"{path}:{line}", default if default is not None else "unset"


def main():
    if not os.path.isdir(TREE):
        sys.exit("run from the repository root")
    found = sorted(sites())
    for key, where, default in found:
        print(f"{key}\t{where}\t{default}")
    print(f"{len({k for k, _, _ in found})} keys, {len(found)} read sites")


if __name__ == "__main__":
    main()
