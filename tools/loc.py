#!/usr/bin/env python3
"""Count the lines of the engine's Scala sources by kind.

    python3 tools/loc.py [DIR] [-v]

DIR defaults to src/main of this checkout; -v adds one row per file.
Each line falls in exactly one class:

  string   touches a triple-quoted string: the DuckDB oracles and the rest
           of the SQL the engine writes as text. SqlSurface's engine SQL
           (its triple-quoted `spark.sql` bodies) counts here too, as does
           a `${...}` interpolation inside such a string.
  code     any other line with code outside comments; a one-line "..."
           string is code.
  comment  nothing but comments (a blank line inside a block comment too).
  blank    nothing but whitespace.

A cut that only moves SQL shows in `string`, not in `code`.
"""
import os
import sys

KINDS = ("code", "string", "comment", "blank")


def classify(text):
    """Per-line kinds of one Scala source."""
    lines = []
    # one set of flags per line: 'code', 'string', 'comment'
    flags = set()
    # the lexer's mode stack: ("code", brace_depth) | ("triple", interp)
    # | ("single", interp) | ("block", depth)
    stack = [("code", 0)]
    i, n = 0, len(text)

    def in_triple():
        return any(m[0] == "triple" for m in stack)

    def line_start_flags():
        top = stack[-1][0]
        if in_triple():
            return {"string"}
        if top == "block":
            return {"comment"}
        return set()

    flags = line_start_flags()
    while i < n:
        c = text[i]
        mode = stack[-1]
        if c == "\n":
            lines.append(flags)
            i += 1
            flags = line_start_flags()
            continue
        if mode[0] == "block":
            flags.add("string" if in_triple() else "comment")
            if text.startswith("/*", i):
                stack[-1] = ("block", mode[1] + 1)
                i += 2
            elif text.startswith("*/", i):
                if mode[1] == 1:
                    stack.pop()
                else:
                    stack[-1] = ("block", mode[1] - 1)
                i += 2
            else:
                i += 1
            continue
        if mode[0] in ("triple", "single"):
            flags.add("string" if in_triple() else "code")
            interp = mode[1]
            if interp and text.startswith("$$", i):
                i += 2
            elif interp and text.startswith("${", i):
                stack.append(("code", 0))
                i += 2
            elif mode[0] == "single" and c == "\\":
                i += 2
            elif mode[0] == "triple" and text.startswith('"""', i):
                j = i
                while j < n and text[j] == '"':
                    j += 1
                stack.pop()
                i = j
            elif mode[0] == "single" and c == '"':
                stack.pop()
                i += 1
            else:
                i += 1
            continue
        # code
        if c in " \t\r":
            i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            flags.add("string" if in_triple() else "comment")
            i = j
            continue
        if text.startswith("/*", i):
            stack.append(("block", 1))
            flags.add("string" if in_triple() else "comment")
            i += 2
            continue
        flags.add("string" if in_triple() else "code")
        if c == '"':
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            if text.startswith('"""', i):
                stack.append(("triple", interp))
                i += 3
            else:
                stack.append(("single", interp))
                i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            i = j + 1 if j > 0 else i + 1
        elif c == "{":
            stack[-1] = ("code", mode[1] + 1)
            i += 1
        elif c == "}":
            if mode[1] == 0 and len(stack) > 1:
                stack.pop()  # end of a ${...} interpolation
            else:
                stack[-1] = ("code", mode[1] - 1)
            i += 1
        else:
            i += 1
    if text and not text.endswith("\n"):
        lines.append(flags)
    kinds = []
    for f in lines:
        if "string" in f:
            kinds.append("string")
        elif "code" in f:
            kinds.append("code")
        elif "comment" in f:
            kinds.append("comment")
        else:
            kinds.append("blank")
    return kinds


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")
    total = dict.fromkeys(KINDS, 0)
    rows = []
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            p = os.path.join(d, f)
            with open(p, encoding="utf-8") as fh:
                kinds = classify(fh.read())
            counts = {k: kinds.count(k) for k in KINDS}
            for k in KINDS:
                total[k] += counts[k]
            rows.append((os.path.relpath(p, root), counts))
    header = "%-56s %7s %7s %7s %7s %7s" % (("file",) + KINDS + ("total",))
    print(header)
    if verbose:
        for name, c in sorted(rows):
            print("%-56s %7d %7d %7d %7d %7d" % (
                (name,) + tuple(c[k] for k in KINDS) + (sum(c.values()),)))
    print("%-56s %7d %7d %7d %7d %7d" % (
        ("TOTAL (%d files)" % len(rows),) + tuple(total[k] for k in KINDS)
        + (sum(total.values()),)))


if __name__ == "__main__":
    main(sys.argv[1:])
