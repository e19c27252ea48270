#!/usr/bin/env python3
"""Code-line count of the Scala sources under src/main.

  python3 tools/loc.py [--per-file] [ROOT]

Prints the total, and with --per-file one line per file (largest
first). A line counts when it holds at least one character of code
outside a comment: blank lines and lines holding only a `//` comment or
part of a `/* */` block (Scaladoc included; Scala nests block comments)
are not counted. A line with code and a trailing comment counts. Comment
markers inside string literals ("...", triple-quoted and interpolated)
and character literals are code. ROOT defaults to the checkout holding
this script.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` (Scala) holding code outside comments."""
    count = 0
    depth = 0            # block-comment nesting
    in_str = None        # None, '"' or '"""'
    i, n = 0, len(text)
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            if has_code:
                count += 1
            has_code = False
            i += 1
            continue
        if depth > 0:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str is not None:
            has_code = True
            if in_str == '"""':
                if text.startswith('"""', i):
                    # a run of quotes closes on its last three
                    j = i
                    while j < n and text[j] == '"':
                        j += 1
                    in_str = None
                    i = j
                else:
                    i += 1
            elif c == "\\":
                i += 2
            elif c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            in_str = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            in_str = '"'
            has_code = True
            i += 1
            continue
        if c == "'":
            # character literal: 'x' or an escape such as '\n' or 'A'
            if i + 2 < n and text[i + 1] != "\\" and text[i + 2] == "'":
                i += 3
            elif i + 1 < n and text[i + 1] == "\\":
                j = text.find("'", i + 2)
                i = i + 2 if j < 0 else j + 1
            else:
                i += 1
            has_code = True
            continue
        if not c.isspace():
            has_code = True
        i += 1
    if has_code:
        count += 1
    return count


def main(argv):
    per_file = "--per-file" in argv
    args = [a for a in argv if a != "--per-file"]
    root = args[0] if args else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main")
    counts = []
    for d, _, names in os.walk(src):
        for name in names:
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as fh:
                    counts.append((code_lines(fh.read()), os.path.relpath(path, root)))
    if per_file:
        for c, path in sorted(counts, key=lambda t: (-t[0], t[1])):
            print(f"{c:7d}  {path}")
    print(f"{sum(c for c, _ in counts):7d}  total ({len(counts)} files under src/main)")


if __name__ == "__main__":
    main(sys.argv[1:])
