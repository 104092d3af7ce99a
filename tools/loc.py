#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of Scala source.

    python3 tools/loc.py [PATH ...]

Prints one line per path: `src/main` and `src/test` always, then any
paths given (files or directories, searched for `*.scala`):

    src/main   17328  (86 files)

A line counts when it holds at least one character of code outside a
comment. Comments are `//` to end of line and `/* ... */` blocks, nested
as Scala nests them; comment markers inside string literals (plain,
triple-quoted or interpolated) and character literals are code. Run it
from the root of a checkout.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    n = 0
    depth = 0        # block-comment nesting depth
    in_str = None    # None, '"' or '"""'
    has_code = False
    i, end = 0, len(text)
    while i < end:
        c = text[i]
        if c == "\n":
            if has_code:
                n += 1
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            has_code = has_code or not c.isspace()
            if in_str == '"""':
                if text.startswith('"""', i):
                    # a run of quotes ends the literal on its last three
                    j = i
                    while j < end and text[j] == '"':
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
            while i < end and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        has_code = True
        if text.startswith('"""', i):
            in_str = '"""'
            i += 3
        elif c == '"':
            in_str = '"'
            i += 1
        elif c == "'" and i + 2 < end and (text[i + 2] == "'" or
                                          text[i + 1] == "\\"):
            # a character literal: 'x' or an escape such as '\n', '\''
            j = i + 2 if text[i + 1] == "\\" else i + 1
            while j < end and text[j] != "'" and text[j] != "\n":
                j += 1
            i = j + 1
        else:
            i += 1
    if has_code:
        n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path] if path.endswith(".scala") else []
    found = []
    for d, _, names in os.walk(path):
        found += [os.path.join(d, f) for f in names if f.endswith(".scala")]
    return sorted(found)


def main(argv):
    paths = ["src/main", "src/test"] + [p for p in argv if
                                        p not in ("src/main", "src/test")]
    width = max(len(p) for p in paths)
    for p in paths:
        files = scala_files(p)
        lines = 0
        for f in files:
            with open(f, encoding="utf-8") as fh:
                lines += code_lines(fh.read())
        print(f"{p:<{width}}  {lines:>6}  ({len(files)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
