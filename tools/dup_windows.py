#!/usr/bin/env python3
"""Count repeated k-line windows of code, per Scala source file.

Each file is reduced to its code lines: comments (`//`, nested `/* */`)
are dropped, every string literal (plain, interpolated or triple-quoted)
collapses to `""`, runs of whitespace become one space, and lines left
blank are removed. A window is k consecutive code lines of one file; it
is *repeated* when the same k lines occur at another position in the
scanned tree (the same file or another). The count per file is the
number of positions where a repeated window starts, so a block of
n >= k lines pasted twice adds n - k + 1 to each copy's file.

Usage:
    python3 tools/dup_windows.py    # scans src/main with k = 6

Standard library only.
"""
import collections
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src", "main")
K = 6


def code_lines(text):
    """The file's lines with comments removed and strings collapsed."""
    out, i, n = [], 0, len(text)
    buf = []
    depth = 0  # /* */ nesting (Scala comments nest)
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                if c == "\n":
                    buf.append("\n")
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # """a"""" ends at the last quote
                j += 1
            buf.append('""' + "\n" * text.count("\n", i, j))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            buf.append('""')
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4] or ""):
            m = re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4])
            buf.append("''")
            i += len(m.group(0))
        else:
            buf.append(c)
            i += 1
    for line in "".join(buf).split("\n"):
        line = " ".join(line.split())
        if line:
            out.append(line)
    return out


def scan(paths, k):
    windows = {}
    for p in paths:
        with open(p, encoding="utf-8", errors="replace") as f:
            lines = code_lines(f.read())
        windows[p] = ["\n".join(lines[s:s + k]) for s in range(len(lines) - k + 1)]
    seen = collections.Counter(w for ws in windows.values() for w in ws)
    return {p: sum(1 for w in ws if seen[w] > 1) for p, ws in windows.items()}


def main():
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(SRC)
                   for f in fs if f.endswith(".scala"))
    counts = scan(paths, K)
    rows = sorted(((c, os.path.relpath(p, SRC)) for p, c in counts.items() if c),
                  key=lambda r: (-r[0], r[1]))
    for c, name in rows:
        print(f"{c:6d}  {name}")
    print(f"{sum(counts.values()):6d}  total ({K}-line windows)")


if __name__ == "__main__":
    main()
