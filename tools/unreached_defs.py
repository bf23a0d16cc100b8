#!/usr/bin/env python3
"""List every `def` in src/main that no src/main code references.

Run from the repository root, with no arguments:

    python3 tools/unreached_defs.py

A def counts as reached when its name appears as a whole word on some
non-comment line of src/main outside the def's own body (so plain recursion
does not reach it). Comments and scaladoc are stripped first; string
literals are kept, so a name spliced into generated code still counts.
Overloads share a name and are reached together. Entry points (`main`),
`apply`/`unapply` (called by syntax) and `override` defs (called by the
framework) are never listed.

Each unreached def is printed as `path:line  name`, followed by the src/test
files that mention it, or `(no test reference)`.
"""
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main"
TEST = ROOT / "src" / "test"

DEF_RE = re.compile(r"^(\s*)((?:[\w\[\]]+\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)")
ALWAYS_REACHED = {"main", "apply", "unapply"}


def strip_comments(text: str) -> str:
    """Blank out // and /* */ comments (nested, as Scala allows), keeping
    string literals and line breaks so line numbers stay aligned."""
    out = []
    i, n, depth = 0, len(text), 0
    in_str = triple = False
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
        elif in_str:
            if triple and text.startswith('"""', i):
                out.append('"""')
                i += 3
                in_str = triple = False
            elif not triple and c == "\\":
                out.append(text[i:i + 2])
                i += 2
            else:
                out.append(c)
                i += 1
                if not triple and c in '"\n':
                    in_str = False
        elif text.startswith('"""', i):
            out.append('"""')
            i += 3
            in_str = triple = True
        elif c == '"':
            out.append(c)
            i += 1
            in_str = True
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            end = text.index("'", i + 2 if text[i + 1] == "\\" else i + 1)
            out.append(text[i:end + 1])
            i = end + 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def body_end(lines, start, indent):
    """Index one past the last line of the def opened at `start`: the body
    runs until the next non-blank line indented no deeper than the def."""
    j = start + 1
    while j < len(lines):
        line = lines[j]
        if line.strip() and len(line) - len(line.lstrip()) <= indent:
            # a closing brace or paren at the def's own indent still belongs to it
            if line.strip()[0] in ")}" and len(line) - len(line.lstrip()) == indent:
                return j + 1
            return j
        j += 1
    return j


def main():
    files = {p: strip_comments(p.read_text()).split("\n")
             for p in sorted(MAIN.rglob("*.scala"))}
    defs = []  # (path, line index, name, body start, body end)
    for path, lines in files.items():
        for k, line in enumerate(lines):
            m = DEF_RE.match(line)
            if not m or "override" in m.group(2).split():
                continue
            name = m.group(3)
            if name in ALWAYS_REACHED:
                continue
            defs.append((path, k, name, k, body_end(lines, k, len(m.group(1)))))

    by_name = {}
    for d in defs:
        by_name.setdefault(d[2], []).append(d)

    tests = {p: strip_comments(p.read_text()) for p in sorted(TEST.rglob("*.scala"))}
    unreached = []
    for name, group in by_name.items():
        word = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")
        reached = False
        for path, lines in files.items():
            own = [(s, e) for (p, _, _, s, e) in group if p == path]
            for k, line in enumerate(lines):
                if any(s <= k < e for s, e in own):
                    continue
                if word.search(line):
                    reached = True
                    break
            if reached:
                break
        if not reached:
            users = [str(p.relative_to(ROOT)) for p, t in tests.items() if word.search(t)]
            for path, k, _, _, _ in group:
                unreached.append((str(path.relative_to(ROOT)), k + 1, name, users))

    for path, line, name, users in sorted(unreached):
        print(f"{path}:{line}  {name}")
        print("    " + (", ".join(users) if users else "(no test reference)"))
    print(f"{len(unreached)} unreached defs")


if __name__ == "__main__":
    main()
