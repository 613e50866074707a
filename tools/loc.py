#!/usr/bin/env python3
"""Count code lines of Scala and Java sources: lines that hold anything
besides whitespace and comments.

    python3 tools/loc.py [PATH ...]

PATH is a source file or a directory searched recursively (default:
`src/main`, relative to the repository root). Prints one line per file,
`<code lines> <all lines> <path>`, sorted by path, then the totals.

Blank lines and lines holding only `//` or `/* ... */` comments (nested
block comments and scaladoc included) do not count. Comment markers inside
string literals (plain and triple-quoted) and character literals are not
comments.
"""
import os
import sys

EXTS = (".scala", ".java")


def code_lines(text):
    """Return the number of lines of `text` that carry code."""
    count = 0
    depth = 0          # block-comment nesting depth
    string = None      # None, '"' or '"""'
    i, n = 0, len(text)
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
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
        if string:
            if not c.isspace():
                has_code = True
            if string == '"""':
                if text.startswith('"""', i):
                    # a closing run may be longer than three quotes
                    while text.startswith('"', i + 3):
                        i += 1
                    string = None
                    i += 3
                else:
                    i += 1
            elif c == "\\":
                i += 2
            else:
                if c == '"':
                    string = None
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
        if not c.isspace():
            has_code = True
        if text.startswith('"""', i):
            string = '"""'
            i += 3
        elif c == '"':
            string = '"'
            i += 1
        elif c == "'" and text.startswith("\\", i + 1):
            end = text.find("'", i + 3)
            i = end + 1 if end > 0 else i + 1
        elif c == "'" and i + 2 < n and text[i + 2] == "'":
            i += 3
        else:
            i += 1
    return count + has_code


def sources(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for d, _, files in os.walk(p):
            for f in files:
                if f.endswith(EXTS):
                    yield os.path.join(d, f)


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(root, "src", "main")]
    code_total = all_total = 0
    for path in sorted(set(sources(paths))):
        with open(path, encoding="utf-8") as f:
            text = f.read()
        code, every = code_lines(text), len(text.splitlines())
        code_total += code
        all_total += every
        print(f"{code:6d} {every:6d} {os.path.relpath(path, root)}")
    print(f"{code_total:6d} {all_total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
