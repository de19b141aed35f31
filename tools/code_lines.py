#!/usr/bin/env python3
"""Added and removed Scala CODE lines between two git revisions.

    tools/code_lines.py <revA> <revB> [paths...]

Diffs revA..revB the way `git diff` does (no rename detection, so a moved
file counts as removed plus added), restricted to `*.scala` files under the
given paths (default: the whole tree), and counts only the changed lines
that hold code: blank lines and lines that are wholly comment (`//`,
`/* ... */`, scaladoc) are left out. Whether a line is comment is decided on
the whole file at that revision, so a line inside a block comment counts as
comment even when the hunk does not show the comment's start. String and
character literals are honoured (`"//"` in a string is code).

Prints one row per changed file (added, removed, net) and a total row.
"""
import re
import subprocess
import sys


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


CHAR = re.compile(r"'(?:\\[^'\n]{1,5}|[^\\\n])'")


def code_mask(text):
    """mask[i] is True when line i+1 of `text` holds any non-comment code."""
    mask = [False] * (text.count("\n") + 1)
    line, i, n, depth = 0, 0, len(text), 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth > 0:  # inside a (nestable) block comment
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if c in " \t\r":
            i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        mask[line] = True
        if text.startswith('"""', i):  # raw multi-line string: all code
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # `""""` closes late
                end += 1
            for ch in text[i:end]:
                if ch == "\n":
                    line += 1
                    mask[line] = True
            i = end
        elif c == '"':
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1 if i < n and text[i] == '"' else 0
        elif c == "'" and (lit := CHAR.match(text, i)):
            i = lit.end()  # char literal such as '"'
        else:
            i += 1
    return mask


def show(rev, path):
    try:
        return git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return ""  # absent at this revision


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b, paths = argv[1], argv[2], argv[3:]
    files = [f for f in git("diff", "--no-renames", "--name-only", a, b,
                            "--", *paths).split("\n") if f.endswith(".scala")]
    hunk = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")
    rows = []
    for f in files:
        old_mask, new_mask = code_mask(show(a, f)), code_mask(show(b, f))
        added = removed = 0
        for h in git("diff", "--no-renames", "-U0", a, b, "--", f).split("\n"):
            m = hunk.match(h)
            if not m:
                continue
            o0, oc = int(m.group(1)), int(m.group(2) or 1)
            n0, nc = int(m.group(3)), int(m.group(4) or 1)
            removed += sum(old_mask[k - 1] for k in range(o0, o0 + oc))
            added += sum(new_mask[k - 1] for k in range(n0, n0 + nc))
        if added or removed:
            rows.append((f, added, removed))
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'path':{width}s} {'added':>7s} {'removed':>7s} {'net':>7s}")
    for f, ad, rm in rows:
        print(f"{f:{width}s} {ad:7d} {rm:7d} {ad - rm:+7d}")
    ta, tr = sum(r[1] for r in rows), sum(r[2] for r in rows)
    print(f"{'total':{width}s} {ta:7d} {tr:7d} {ta - tr:+7d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
