#!/usr/bin/env python3
"""Counts the default-valued parameters of public defs in src/main.

    python3 tools/count_defaults.py [--list] [srcDir]

A parameter counts when it is declared with a default value
(`name: T = value`) in any parameter list of a `def` that carries no
`private` or `protected` modifier (qualified ones such as
`private[graft]` included). Constructor parameters (case-class fields)
are not defs and do not count. Comments and string literals are blanked
before parsing, so an `=` inside them is never read as a default.

Prints the total; `--list` first prints one `file:line def param` line per
counted parameter. `srcDir` defaults to `src/main` under the repository
root (the parent of this script's directory). Standard library only.
"""
import os
import re
import sys


def blank(src):
    """`src` with comments and string/char literals replaced by spaces
    (newlines kept, so offsets map to the same lines)."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # closing quotes may run long
                j += 1
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
        elif c == "'" and CHAR.match(src, i):
            j = CHAR.match(src, i).end()
        else:
            out.append(c)
            i += 1
            continue
        out.append(re.sub(r"[^\n]", " ", src[i:j]))
        i = j
    return "".join(out)


CHAR = re.compile(r"'(\\.[^'\n]*|[^'\\\n])'")
DEF = re.compile(r"\bdef\s+([^\s(\[:=]+)")
PRIVATE = re.compile(r"\b(private|protected)\b(\[[^\]]*\])?\s*$")
MODIFIERS = re.compile(
    r"(\b(override|final|implicit|lazy|inline|sealed|abstract)\s+|"
    r"\b(private|protected)(\[[^\]]*\])?\s+|@\w+(\([^)]*\))?\s+)*$")


def closing(s, i):
    """Index just past the bracket group opening at s[i]."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = []
    for j in range(i, len(s)):
        if s[j] in pairs:
            stack.append(pairs[s[j]])
        elif stack and s[j] == stack[-1]:
            stack.pop()
            if not stack:
                return j + 1
    return len(s)


def params(group):
    """Top-level comma-separated parameters of a `( ... )` group."""
    inner, parts, depth, cur = group[1:-1], [], 0, []
    for c in inner:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return [p for p in parts if p.strip()]


def has_default(param):
    depth = 0
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = param[k - 1] if k else ""
            nxt = param[k + 1] if k + 1 < len(param) else ""
            if nxt not in "=>" and prev not in "=!<>":
                return True
    return False


def defaults(path):
    src = blank(open(path, encoding="utf-8").read())
    for m in DEF.finditer(src):
        mods = MODIFIERS.search(src, 0, m.start())
        if mods and PRIVATE.search(mods.group(0)):
            continue
        j = m.end()
        while True:
            while j < len(src) and src[j].isspace():
                j += 1
            if j >= len(src) or src[j] not in "([":
                break
            end = closing(src, j)
            if src[j] == "(":
                for p in params(src[j:end]):
                    if has_default(p):
                        line = src.count("\n", 0, j) + 1
                        yield line, m.group(1), p.split(":")[0].split()[-1]
            j = end


def main(argv):
    listing = "--list" in argv
    args = [a for a in argv if a != "--list"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src_dir = args[0] if args else os.path.join(root, "src", "main")
    total = 0
    for d, _, files in sorted(os.walk(src_dir)):
        for f in sorted(files):
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                for line, name, param in defaults(path):
                    total += 1
                    if listing:
                        rel = os.path.relpath(path, src_dir)
                        print(f"{rel}:{line} {name} {param}")
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
