#!/usr/bin/env python3
"""Count code lines of the Scala sources under src/main, per package.

    python3 tools/loc.py           # the working tree
    python3 tools/loc.py REV       # the working tree against git revision REV

A code line is any line holding something other than whitespace and
comments: blank lines, `//` lines and the lines of `/* */` and `/** */`
blocks (scaladoc included) do not count, so deleting or rewording
comments does not change the figure. A line with code and a trailing
comment counts. String and character literals are skipped while
scanning, so comment markers inside them are not comments. The package
is the source file's directory under src/main/scala, dots for slashes.
"""
import os
import subprocess
import sys
from collections import defaultdict

ROOT = "src/main/scala"


def code_lines(text):
    """Number of lines of `text` that hold Scala code outside comments."""
    count = 0
    depth = 0  # nesting depth of /* */ (Scala block comments nest)
    in_triple = False  # inside a """ string, which may span lines
    for line in text.splitlines():
        has_code = in_triple
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    i = n
                else:
                    # a run of quotes closes on its last three
                    i = end + 3
                    while i < n and line[i] == '"':
                        i += 1
                    in_triple = False
                continue
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if c.isspace():
                i += 1
                continue
            has_code = True
            if line.startswith('"""', i):
                in_triple = True
                i += 3
            elif c == '"':
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # a character literal: 'x' or an escape such as '\n'
                end = line.find("'", i + 2)
                i = n if end < 0 else end + 1
            else:
                i += 1
        if has_code:
            count += 1
    return count


def package_of(path):
    return os.path.dirname(os.path.relpath(path, ROOT)).replace(os.sep, ".") or "(root)"


def count_tree():
    per = defaultdict(int)
    for d, _, files in os.walk(ROOT):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    per[package_of(p)] += code_lines(fh.read())
    return per


def count_rev(rev):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
        check=True, capture_output=True, text=True).stdout.split()
    per = defaultdict(int)
    for p in names:
        if p.endswith(".scala"):
            text = subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                  capture_output=True, text=True).stdout
            per[package_of(p)] += code_lines(text)
    return per


def main(argv):
    if len(argv) > 2:
        sys.exit(__doc__)
    top = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                         capture_output=True, text=True).stdout.strip()
    os.chdir(top)
    here = count_tree()
    rev = argv[1] if len(argv) == 2 else None
    there = count_rev(rev) if rev else {}
    pkgs = sorted(set(here) | set(there))
    width = max([len(p) for p in pkgs] + [len("total")])
    if rev:
        print(f"{'package':<{width}} {'checkout':>9} {rev[:12]:>12} {'delta':>7}")
    else:
        print(f"{'package':<{width}} {'checkout':>9}")
    for p in pkgs + ["total"]:
        a = sum(here.values()) if p == "total" else here.get(p, 0)
        if rev:
            b = sum(there.values()) if p == "total" else there.get(p, 0)
            print(f"{p:<{width}} {a:>9} {b:>12} {a - b:>+7}")
        else:
            print(f"{p:<{width}} {a:>9}")


if __name__ == "__main__":
    main(sys.argv)
