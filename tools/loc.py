#!/usr/bin/env python3
"""Non-blank, non-comment Scala line counts of two checkouts.

    python3 tools/loc.py TREE_A TREE_B

For each tree, counts the lines of every `*.scala` file under
`src/main` and `src/test` that hold code once `//` line comments and
(nested) `/* ... */` block comments, scaladoc included, are removed and
blank lines are dropped. String literals, triple-quoted ones included,
are kept intact, so a `//` inside a string is code. Prints one row per
tree and source set, then the change from TREE_A to TREE_B, so a
change that only deletes comments shows no fall.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` with code outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ comments
    in_str = None      # None, '"' or '"""'
    i, n = 0, len(text)
    line_has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            if line_has_code:
                count += 1
            line_has_code = False
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
        if in_str == '"""':
            line_has_code = True
            if text.startswith('"""', i):
                in_str = None
                i += 3
            else:
                i += 1
            continue
        if in_str == '"':
            line_has_code = True
            if c == "\\":
                i += 2
            elif c == '"':
                in_str = None
                i += 1
            else:
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
        if text.startswith('"""', i):
            in_str = '"""'
            line_has_code = True
            i += 3
            continue
        if c == '"':
            in_str = '"'
            line_has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < n and (text[i + 2] == "'" or
                                       text[i + 1] == "\\"):
            # a char literal such as '"' or '\n': skip it whole
            end = text.find("'", i + 2)
            line_has_code = True
            i = end + 1 if end != -1 else i + 1
            continue
        if not c.isspace():
            line_has_code = True
        i += 1
    if line_has_code:
        count += 1
    return count


def tree_counts(root):
    out = {}
    for part in ("main", "test"):
        total = 0
        base = os.path.join(root, "src", part)
        for dirpath, _, files in os.walk(base):
            for f in files:
                if f.endswith(".scala"):
                    with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                        total += code_lines(fh.read())
        out[part] = total
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = tree_counts(argv[1]), tree_counts(argv[2])
    print(f"{'tree':<40} {'src/main':>9} {'src/test':>9}")
    for name, c in ((argv[1], a), (argv[2], b)):
        print(f"{name:<40} {c['main']:>9} {c['test']:>9}")
    print(f"{'change':<40} {b['main'] - a['main']:>+9} "
          f"{b['test'] - a['test']:>+9}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
