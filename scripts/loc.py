#!/usr/bin/env python3
"""Count non-blank, non-comment source lines.

    python3 scripts/loc.py src/main                 # every .scala/.java under it
    python3 scripts/loc.py src/main/scala/graft/sources/JdbcSync.scala ...

`//` line comments and `/* */` block comments (nested, as Scala allows)
are stripped outside string and character literals; a line that keeps
any other non-whitespace character counts. Prints one `count path` line
per file, then `count total`. Standard library only.
"""
import os
import sys

EXTS = (".scala", ".java")


def code_lines(text):
    """The number of lines of `text` holding code once comments are gone."""
    n, i, depth = 0, 0, 0
    has_code = False
    in_str = None  # None, '"', '"""' or "'"
    L = len(text)
    while i < L:
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
                    # a run of quotes closes on its last three
                    j = i
                    while j < L and text[j] == '"':
                        j += 1
                    i, in_str = j, None
                else:
                    i += 1
            elif c == "\\":
                i += 2
            elif c == in_str:
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < L and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            in_str, has_code = '"""', True
            i += 3
            continue
        if c == '"':
            in_str, has_code = '"', True
            i += 1
            continue
        if c == "'" and is_char_literal(text, i):
            in_str, has_code = "'", True
            i += 1
            continue
        has_code = has_code or not c.isspace()
        i += 1
    if has_code:
        n += 1
    return n


def is_char_literal(text, i):
    """True when the quote at `i` opens a character literal ('a', '\\n'),
    not a Scala symbol or a type-parameter tick."""
    if text.startswith("\\", i + 1):
        return True
    return i + 2 < len(text) and text[i + 2] == "'"


def files_under(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for name in sorted(names):
            if name.endswith(EXTS):
                yield os.path.join(root, name)


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for arg in argv:
        for f in files_under(arg):
            with open(f, encoding="utf-8") as fh:
                k = code_lines(fh.read())
            total += k
            print(f"{k:7d} {f}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
