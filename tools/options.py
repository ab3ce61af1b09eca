#!/usr/bin/env python3
"""Independently settable values in `src/main` of two checkouts.

    python3 tools/options.py TREE_A TREE_B

Counts, in every `*.scala` file under `src/main`, the parameters that
have a default value in the parameter lists of public and
`private[graft]` defs, plus the defaulted fields of public case
classes: every value a caller may set or leave alone. A def counts
when its own modifiers and those of every enclosing object, class or
trait allow it (no `private`, `protected` or `private[x]` other than
`private[graft]`) and it is a member, not a local def inside a body.
Comments are ignored; string literals are kept opaque, so a `=` inside
one is not a default. Prints one row per file whose count is not zero
in either tree, with both counts and the change from TREE_A to TREE_B,
then the totals.
"""
import os
import re
import sys

OPEN = "([{"
CLOSE = ")]}"


def strip(text):
    """`text` with comments blanked and string contents replaced by
    spaces, offsets kept (newlines survive)."""
    out = []
    i, n = 0, len(text)
    depth = 0
    while i < n:
        if depth:
            if text.startswith("/*", i):
                depth += 1
                out.append("  ")
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                out.append("  ")
                i += 2
            else:
                out.append("\n" if text[i] == "\n" else " ")
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                out.append(" ")
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            out.append("  ")
            i += 2
            continue
        if text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end == -1 else end
            while end + 3 < n and text[end + 3] == '"':
                end += 1
            body = text[i + 3:end]
            out.append('"""' + re.sub(r"[^\n]", " ", body) + '"""')
            i = end + 3
            continue
        if text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append('"' + " " * (j - i - 1) + '"')
            i = j + 1
            continue
        if text[i] == "'" and i + 2 < n and (text[i + 2] == "'" or
                                             text[i + 1] == "\\"):
            end = text.find("'", i + 2)
            end = i + 1 if end == -1 else end
            out.append("'" + " " * (end - i - 1) + "'")
            i = end + 1
            continue
        out.append(text[i])
        i += 1
    return "".join(out)


MODS = re.compile(r"\b(private|protected)\b(\s*\[\s*(\w+)\s*\])?")
DECL = re.compile(
    r"((?:(?:private|protected)(?:\s*\[\s*\w+\s*\])?|override|final|"
    r"implicit|lazy|sealed|abstract|case)\s+)*(def|object|class|trait)\b")


def visible(mods):
    """True when the modifiers leave a member public or
    `private[graft]`."""
    for m in MODS.finditer(mods):
        if m.group(1) == "protected" or m.group(3) != "graft":
            return False
    return True


def match(s, j):
    """Index of the bracket closing the one at `s[j]`."""
    depth = 0
    for k in range(j, len(s)):
        if s[k] in OPEN:
            depth += 1
        elif s[k] in CLOSE:
            depth -= 1
            if depth == 0:
                return k
    return len(s) - 1


def skip_name(s, i):
    """Index after the identifier (or backquoted name) at `s[i]`."""
    while i < len(s) and s[i] in " \t\n":
        i += 1
    if i < len(s) and s[i] == "`":
        return s.index("`", i + 1) + 1
    while i < len(s) and (s[i].isalnum() or s[i] in "_$" or
                          s[i] in "+-*/<>=!&|^~%:?#@\\"):
        i += 1
    return i


def param_groups(s, i):
    """The `(...)` parameter groups of a declaration whose name ends at
    `s[i]` (type parameter groups skipped): their (start, end) spans and
    the index after the last group."""
    spans = []
    while True:
        j = i
        while j < len(s) and s[j] in " \t\n":
            j += 1
        if j >= len(s) or s[j] not in "([":
            return spans, i
        close = match(s, j)
        if s[j] == "(":
            spans.append((j + 1, close))
        i = close + 1


def defaults(params):
    """Number of top-level parameters in `params` with a default."""
    count = 0
    depth = 0
    cur = []
    for c in params + ",":
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        if c == "," and depth == 0:
            if re.search(r"(?<![=<>!:])=(?![=>])", "".join(cur)):
                count += 1
            cur = []
        else:
            cur.append(c if depth == 0 else " ")
    return count


def continues(s, j):
    """True when a declaration goes on past the line break at `s[j]`
    (an `extends`/`with` clause wrapped onto the next line)."""
    before = s[:j].rstrip()
    after = s[j:].lstrip()
    return (before.endswith(("extends", "with", ",")) or
            after.startswith(("extends", "with", "{")))


def template_brace(s, i):
    """Index of the `{` opening the body of a template declaration whose
    parameters end at `s[i]`, or None when it has no body."""
    j = i
    while j < len(s):
        c = s[j]
        if c == "{":
            return j
        if c in "([":
            j = match(s, j) + 1
            continue
        if c in ";}" or (c == "\n" and not continues(s, j)):
            return None
        j += 1
    return None


def count_file(text):
    """Settable values declared in one Scala source."""
    s = strip(text)
    decls = []       # (start, mods, kind, param spans)
    templates = {}   # body brace index -> members visible
    for m in DECL.finditer(s):
        mods, kind = s[m.start():m.start(2)], m.group(2)
        spans, after = param_groups(s, skip_name(s, m.end()))
        decls.append((m.start(), mods, kind, spans))
        if kind != "def":
            body = template_brace(s, after)
            if body is not None:
                templates[body] = visible(mods)
    total = 0
    stack = []       # open `{` indexes enclosing the scan position
    k = 0
    for start, mods, kind, spans in decls:
        while k < start:
            if s[k] == "{":
                stack.append(k)
            elif s[k] == "}" and stack:
                stack.pop()
            k += 1
        # a member of visible templates only: a def in a method body or
        # a block is local, and a private template hides its members
        if not all(templates.get(b, False) for b in stack):
            continue
        if not visible(mods) or not spans:
            continue
        if kind == "def":
            total += sum(defaults(s[a:b]) for a, b in spans)
        elif kind == "class" and "case" in mods.split() and \
                not MODS.search(mods):
            total += defaults(s[spans[0][0]:spans[0][1]])
    return total


def tree_counts(root):
    out = {}
    base = os.path.join(root, "src", "main")
    for dirpath, _, files in os.walk(base):
        for f in files:
            if f.endswith(".scala"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    out[os.path.relpath(path, base)] = count_file(fh.read())
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = tree_counts(argv[1]), tree_counts(argv[2])
    files = sorted(f for f in set(a) | set(b) if a.get(f, 0) or b.get(f, 0))
    width = max([len("file")] + [len(f) for f in files])
    print(f"{'file':<{width}} {'A':>6} {'B':>6} {'change':>7}")
    for f in files:
        x, y = a.get(f, 0), b.get(f, 0)
        print(f"{f:<{width}} {x:>6} {y:>6} {y - x:>+7}")
    ta, tb = sum(a.values()), sum(b.values())
    print(f"{'total':<{width}} {ta:>6} {tb:>6} {tb - ta:>+7}")
    print(f"A = {argv[1]}\nB = {argv[2]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
