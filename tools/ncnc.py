#!/usr/bin/env python3
"""Count non-blank, non-comment (ncnc) lines of Scala sources.

    python3 tools/ncnc.py [--base REV] [PATH ...]

PATH defaults to src/main; directories are searched for *.scala files.
Without --base the script prints each file's count and the total. With
--base it also counts the same paths as committed at git revision REV
and prints, for each file whose count differs, the count at REV, the
count now and the delta, then the totals.

The rule (tools/README.md): a line counts when something other than
whitespace is left on it once comments are removed. Comments are
`//` to the end of the line and `/* ... */` blocks, which nest as in
Scala. Comment markers inside string literals ("...", triple-quoted
and interpolated strings) and character literals do not start a
comment, and every line of a multi-line string counts.
"""
import argparse
import os
import subprocess
import sys


def ncnc(text):
    """Number of lines of Scala `text` holding code outside comments."""
    counted = set()
    line, i, n, depth = 0, 0, len(text), 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif c.isspace():
            i += 1
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """a"""" ends at the last quote
                end += 1
            for k, part in enumerate(text[i:end].split("\n")):
                if part.strip():
                    counted.add(line + k)
            line += text.count("\n", i, end)
            i = end
        elif c == '"':
            counted.add(line)
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1 if i < n and text[i] == '"' else 0
        elif c == "'" and _char_literal_end(text, i):
            counted.add(line)
            i = _char_literal_end(text, i)
        else:
            counted.add(line)
            i += 1
    return len(counted)


def _char_literal_end(text, i):
    """End index of a character literal starting at `i`, or 0 for a quote
    that opens none (a symbol literal such as 'name)."""
    if text.startswith("\\u", i + 1):
        j = i + 6
    elif text.startswith("\\", i + 1):
        j = i + 3
    else:
        j = i + 2
    return j + 1 if j < len(text) and text[j] == "'" else 0


def sources(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in files:
                    if f.endswith(".scala"):
                        yield os.path.join(root, f)
        elif p.endswith(".scala"):
            yield p


def counts_now(paths):
    out = {}
    for f in sources(paths):
        with open(f, encoding="utf-8") as fh:
            out[os.path.normpath(f)] = ncnc(fh.read())
    return out


def counts_at(rev, paths):
    listed = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--"] + paths,
                            check=True, capture_output=True, text=True).stdout.split()
    out = {}
    for f in listed:
        if f.endswith(".scala"):
            blob = subprocess.run(["git", "show", f"{rev}:{f}"], check=True,
                                  capture_output=True, text=True).stdout
            out[os.path.normpath(f)] = ncnc(blob)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="git revision to compare against")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    args = ap.parse_args()
    now = counts_now(args.paths)
    if not args.base:
        for f in sorted(now):
            print(f"{now[f]:7d}  {f}")
        print(f"{sum(now.values()):7d}  total ({len(now)} files)")
        return
    before = counts_at(args.base, args.paths)
    for f in sorted(set(now) | set(before)):
        a, b = before.get(f, 0), now.get(f, 0)
        if a != b:
            print(f"{a:7d} {b:7d} {b - a:+6d}  {f}")
    a, b = sum(before.values()), sum(now.values())
    print(f"{a:7d} {b:7d} {b - a:+6d}  total ({args.base} -> working tree)")


if __name__ == "__main__":
    sys.exit(main())
