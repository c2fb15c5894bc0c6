#!/usr/bin/env python3
"""Code-line counter for the main source tree.

Counts the lines of each file under src/main that hold code: blank lines
and lines that are only comment (`//` lines, and lines wholly inside a
`/* ... */` or scaladoc block) are excluded, so deleting comments never
reads as a reduction. A line with code and a trailing comment counts.

Usage:
  python3 tools/loc.py                 # per-file code lines and the total
  python3 tools/loc.py --diff <rev>    # per-file and total delta vs a git rev
"""
import argparse
import os
import subprocess
import sys

ROOT = "src/main"
EXTS = (".scala", ".java")


def code_lines(text: str) -> int:
    """Lines of `text` carrying at least one character of code outside
    comments. Scala block comments nest; string literals (plain and
    triple-quoted) are skipped so a `//` inside a string is code."""
    n = 0
    depth = 0          # nested /* */ depth, carried across lines
    in_triple = False  # inside a """ literal, carried across lines
    for line in text.splitlines():
        has_code = False
        i, end = 0, len(line)
        while i < end:
            if in_triple:
                has_code = True
                j = line.find('"""', i)
                if j < 0:
                    i = end
                else:
                    in_triple, i = False, j + 3
                continue
            two = line[i:i + 2]
            if depth > 0:
                if two == "/*":
                    depth, i = depth + 1, i + 2
                elif two == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
                continue
            c = line[i]
            if two == "//":
                break
            if two == "/*":
                depth, i = 1, i + 2
                continue
            if c.isspace():
                i += 1
                continue
            has_code = True
            if line.startswith('"""', i):
                in_triple, i = True, i + 3
            elif c == '"':
                i += 1
                while i < end and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < end and line[i + 2] == "'":
                i += 3  # a char literal such as '"' or '/'
            else:
                i += 1
        n += has_code
    return n


def counts_worktree() -> dict:
    out = {}
    for d, _, files in os.walk(ROOT):
        for f in files:
            if f.endswith(EXTS):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[p] = code_lines(fh.read())
    return out


def git(*args: str) -> str:
    return subprocess.run(["git", *args], check=True, capture_output=True,
                           text=True).stdout


def counts_at(rev: str) -> dict:
    out = {}
    for p in git("ls-tree", "-r", "--name-only", rev, "--", ROOT).split():
        if p.endswith(EXTS):
            out[p] = code_lines(git("show", f"{rev}:{p}"))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--diff", metavar="REV",
                    help="print per-file and total delta against this git revision")
    args = ap.parse_args()
    now = counts_worktree()
    if not args.diff:
        for p in sorted(now):
            print(f"{now[p]:7d}  {p}")
        print(f"{sum(now.values()):7d}  total ({len(now)} files)")
        return 0
    then = counts_at(args.diff)
    for p in sorted(set(now) | set(then)):
        a, b = then.get(p, 0), now.get(p, 0)
        if a != b:
            tag = " (new)" if p not in then else " (deleted)" if p not in now else ""
            print(f"{b - a:+7d}  {a:6d} -> {b:6d}  {p}{tag}")
    a, b = sum(then.values()), sum(now.values())
    print(f"{b - a:+7d}  {a:6d} -> {b:6d}  total code lines vs {args.diff}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
