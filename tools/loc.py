#!/usr/bin/env python3
"""Scala line counts: per package, or per named definition.

    python3 tools/loc.py
    python3 tools/loc.py --defs nprobeCurve,nlistCurve,Sweep

A counted line is one that still holds code once comments are removed:
blank lines, `//` lines and the lines of `/* ... */` and `/** ... */`
blocks do not count (a code line with a trailing comment does). String
literals are skipped while looking for comment markers, so a `//`
inside a string is code.

Without `--defs` it prints one row per package directory of
`src/main/scala` and their total, then the total of `perfbench/src`
(read only, for the main-plus-perfbench figure).

With `--defs` it counts each named `def`, `object`, `class` or `trait`
in `src/main/scala` from its keyword line to the brace that closes its
body (an `= expr` body without braces ends before the next line
indented no deeper than the keyword). A name defined in more than one
place counts every definition, each listed on its own row.
"""
import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
PERFBENCH = os.path.join(ROOT, "perfbench", "src")


def strip_comments(text):
    """The file's text with every comment blanked out (newlines kept)."""
    out = []
    i, n = 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text[i] == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            j = n if j < 0 else j + 1
            out.append(text[i:j])
            i = j
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return strip_comments(f.read()).split("\n")


def count(lines):
    return sum(1 for l in lines if l.strip())


def scala_files(top):
    for d, _, files in os.walk(top):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def per_package(top):
    totals = {}
    for path in scala_files(top):
        pkg = os.path.relpath(os.path.dirname(path), top).replace(os.sep, ".")
        totals[pkg] = totals.get(pkg, 0) + count(code_lines(path))
    return totals


def body_end(lines, start):
    """Index of the last line of the definition starting at `start`."""
    indent = len(lines[start]) - len(lines[start].lstrip())
    is_def = re.match(r"\s*(?:[\w\[\].]+\s+)*def\b", lines[start]) is not None
    parens = 0
    for i in range(start, len(lines)):
        line = lines[i]
        for k, ch in enumerate(line):
            if ch in "([":
                parens += 1
            elif ch in ")]":
                parens -= 1
            elif parens:
                continue
            elif ch == "{" and not is_def:
                return match_brace(lines, i, k)
            elif ch == "=" and is_def and line[k + 1:k + 2] not in ("=", ">") \
                    and line[k - 1:k] not in ("=", "!", "<", ">"):
                # the body: a braced block, else an expression
                r, c = i, k + 1
                while r < len(lines) and not lines[r][c:].strip():
                    r, c = r + 1, 0
                if r < len(lines) and lines[r][c:].lstrip().startswith("{"):
                    return match_brace(lines, r, lines[r].index("{", c))
                return expr_end(lines, i, indent)
        if not is_def and parens == 0 and i > start and line.strip():
            return i
    return len(lines) - 1


def match_brace(lines, i, k):
    depth = 0
    for r in range(i, len(lines)):
        for ch in lines[r][k if r == i else 0:]:
            if ch == "{":
                depth += 1
            elif ch == "}":
                depth -= 1
                if depth == 0:
                    return r
    return len(lines) - 1


def expr_end(lines, i, indent):
    end = i
    for r in range(i + 1, len(lines)):
        if not lines[r].strip():
            continue
        if len(lines[r]) - len(lines[r].lstrip()) <= indent:
            break
        end = r
    return end


def def_counts(names):
    found = []
    pattern = re.compile(r"^\s*(?:[\w\[\].]+\s+)*(def|object|class|trait)\s+(\w+)\b")
    for path in scala_files(MAIN):
        lines = code_lines(path)
        for i, line in enumerate(lines):
            m = pattern.match(line)
            if m and m.group(2) in names:
                end = body_end(lines, i)
                found.append((m.group(2), os.path.relpath(path, ROOT), i + 1,
                              count(lines[i:end + 1])))
    return found


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--defs", help="comma-separated definition names to count")
    args = ap.parse_args()
    if args.defs:
        names = [n for n in args.defs.split(",") if n]
        found = def_counts(set(names))
        for name, path, line, n in sorted(found, key=lambda f: (names.index(f[0]), f[1], f[2])):
            print(f"{n:6d}  {name}  {path}:{line}")
        missing = sorted(set(names) - {f[0] for f in found})
        for name in missing:
            print(f"     -  {name}  (not found)")
        print(f"{sum(f[3] for f in found):6d}  total ({len(found)} definitions)")
        return 1 if missing else 0
    totals = per_package(MAIN)
    for pkg in sorted(totals):
        print(f"{totals[pkg]:6d}  {pkg}")
    print(f"{sum(totals.values()):6d}  src/main/scala total")
    if os.path.isdir(PERFBENCH):
        perf = sum(count(code_lines(p)) for p in scala_files(PERFBENCH))
        print(f"{perf:6d}  perfbench/src total (read only)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
