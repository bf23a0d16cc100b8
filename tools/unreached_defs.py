#!/usr/bin/env python3
"""List every definition in src/main that no production code reaches.

The audited definitions are every `def`, `class` and `trait` (at any
nesting level), every `val` that is a member of an `object`, and every
`object` nested in another object.

Run from the repository root, with no arguments:

    python3 tools/unreached_defs.py

Reaching code is every non-comment line of src/main plus perfbench/src (the
benchmark calls into the library). A definition is reached when reaching
code outside its own body (so plain recursion does not count) names it:

- a member of an `object Obj` (a def, a val, a class, a trait or a nested
  object) by a qualified reference `Obj.name`, or by the bare name in its
  own file or in a file that imports `Obj._` / `Obj.name`;
- any other definition (a top-level class or trait, a class, trait or
  anonymous-class member, or a local def) by its bare name anywhere;
- a member of `Obj` by a string literal whose whole text is its name, in a
  file that takes `Obj.getClass` or `classOf[Obj]` (a kernel method invoked
  through reflection, e.g. `NativeFn(..., SketchKernel.getClass, "simhash")`).

A `def name` line declares a name and references nothing, whoever owns it:
another object's def of the same name does not reach this one.
Comments are stripped first, and string literals count only as a whole:
an error label such as "LanguageModel.bigramSurprisal" reaches nothing,
while the `$x` / `${...}` parts of an interpolated string are code.
A definition is audited wherever it opens a statement: at the start of
a line, or after a `{` or a `;`, as in `object X { def y = 1 }`.
Overloads of a def are told apart by argument count: a reference followed
by an argument list of k top-level arguments reaches an overload only when
its required parameter count <= k <= its total parameter count (defaults
and varargs counted), and a sibling overload's body counts as reaching
code for it. A reference without an argument list (an eta-expansion, a
reflective name), and overloads that k cannot tell apart, are reached
together. Entry points (`main`),
`apply`/`unapply` (called by syntax), `override` members (called by the
framework) and `implicit` vals (used by the compiler) are never listed.

Each unreached definition is printed as `path:line  Owner.name`, followed by
the src/test files that mention it, or by its KEEP reason. A KEEP entry is a
definition that is reached from outside the build. The exit status is 1 when
any definition outside KEEP is listed, 0 otherwise.
"""
import bisect
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main"
BENCH = ROOT / "perfbench" / "src"
TEST = ROOT / "src" / "test"

KEEP = {
    "SparkEntry.entry":
        "the smoke hook that an outside caller invokes by name with a live session",
    "ParquetManifestTable.readLatest":
        "reads back the replace-style tables that graft.Extract writes",
    "GraftExtensions":
        "Spark loads it by class name from the spark.sql.extensions setting",
}

# a definition that opens a statement: at a line start, or after `{` or `;`
DEF_RE = re.compile(r"(?:^|(?<=[{;]))([ \t]*)((?:[\w\[\]]+[ \t]+)*)(def|val|object|class|trait)\s+"
                    r"([A-Za-z_][A-Za-z0-9_]*)", re.M)
IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
ALWAYS_REACHED = {"main", "apply", "unapply"}
# the keyword nearest before a `{` says what the brace opens
OPENER_RE = re.compile(r"\b(object|class|trait|new|def|val|var|if|else|for|while|"
                       r"match|try|yield|do|case|with|extends)\b|=>|(?<![=<>!])=(?![=>])")


def scrub(text):
    """Blank out comments (nested, as Scala allows) and the text of string
    literals, keeping line breaks so line numbers stay aligned. The `$x` and
    `${...}` parts of an interpolated string stay, since they are code.
    Returns the scrubbed text and `(offset, literal)` for every plain
    string literal."""
    out, literals = [], []
    i, n = 0, len(text)

    def blank(s):
        return "".join("\n" if ch == "\n" else " " for ch in s)

    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(text[i:j]))
            i = j
        elif text.startswith("/*", i):
            j, depth = i + 2, 1
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(text[i:j]))
            i = j
        elif c == '"':
            interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            triple = text.startswith('"""', i)
            quote = '"""' if triple else '"'
            j = i + len(quote)
            body = []
            while j < n and not text.startswith(quote, j):
                if not triple and text[j] == "\n":
                    break
                if not triple and text[j] == "\\":
                    body.append(blank(text[j:j + 2]))
                    j += 2
                elif interpolated and text.startswith("$$", j):
                    body.append("  ")
                    j += 2
                elif interpolated and text.startswith("${", j):
                    k, depth = j + 2, 1
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(text[k], 0)
                        k += 1
                    body.append(" " + text[j + 1:k])
                    j = k
                elif interpolated and text[j] == "$":
                    m = IDENT_RE.match(text, j + 1)
                    k = m.end() if m else j + 1
                    body.append(" " + text[j + 1:k])
                    j = k
                else:
                    body.append(blank(text[j]))
                    j += 1
            if triple:
                while text.startswith('""""', j):  # """ may close after extra quotes
                    body.append(" ")
                    j += 1
            raw = text[i + len(quote):j]
            if not interpolated:
                literals.append((i, raw))
            out.append(quote + "".join(body) + (quote if j < n else ""))
            i = j + len(quote)
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.index("'", i + 3 if text[i + 1] == "\\" else i + 2)
            out.append("'" + " " * (j - i - 1) + "'")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out), literals


def strip_parens(segment):
    """Drop parenthesized and bracketed text, so a default argument's `=`
    or a type argument does not read as the keyword before a brace."""
    out, depth = [], 0
    for ch in segment:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(depth - 1, 0)
        elif not depth:
            out.append(ch)
    return "".join(out)


def owners(code):
    """The innermost brace scope open at each offset, as `(offsets,
    scopes)`: `scopes[j]` holds from `offsets[j]` to the next offset. A
    scope is ("object", name), ("template", name) for a class or trait, or
    None for an anonymous class, a block or a def body."""
    stack, offsets, scopes, start = [], [0], [None], 0
    for i, ch in enumerate(code):
        if ch == "{":
            segment = strip_parens(code[start:i])
            kw = OPENER_RE.findall(segment)
            scope = None
            if kw and kw[-1] in ("object", "class", "trait", "extends", "with"):
                head = re.findall(r"\b(object|class|trait)\s+([A-Za-z_]\w*)", segment)
                if head and not re.search(r"\b(new|def|val|var)\b",
                                          segment[segment.rfind(head[-1][1]):]):
                    scope = ("object" if head[-1][0] == "object" else "template", head[-1][1])
            stack.append(scope)
            start = i + 1
        elif ch == "}":
            if stack:
                stack.pop()
            start = i + 1
        elif ch == ";":
            start = i + 1
        else:
            continue
        offsets.append(i + 1)
        scopes.append(stack[-1] if stack else None)
    return offsets, scopes


def statement_end(code, i):
    """Offset of the end of the statement that starts at `i`: the first
    `;` or line break outside brackets, or the bracket that closes the
    enclosing one."""
    depth = 0
    for j in range(i, len(code)):
        ch = code[j]
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            if not depth:
                return j
            depth -= 1
        elif not depth and ch in ";\n":
            return j
    return len(code)


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


def word(name):
    return re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")


class Source:
    """One scrubbed file: its code, the line of each offset, its plain
    string literals and the owners it takes reflectively."""

    def __init__(self, path):
        code, literals = scrub(path.read_text())
        self.path = path
        self.code = code
        self.lines = code.split("\n")
        self.starts = [0]
        for line in self.lines[:-1]:
            self.starts.append(self.starts[-1] + len(line) + 1)
        self.literals = literals
        self.scope = owners(code)
        self.reflected = {a or b for a, b in
                          re.findall(r"\b(\w+)\.getClass\b|classOf\[(\w+)", code)}
        # (Obj, member) per `import ...Obj.member`, `Obj._` or `Obj.{a, b => c}`
        self.imports = set()
        for obj, sel in re.findall(r"\bimport\s+[\w.]*?(\w+)\.(\{[^}]*\}|\w+)", code):
            for member in re.findall(r"(\w+)(?:\s*=>\s*\w+)?", sel):
                self.imports.add((obj, member))

    def line(self, offset):
        return bisect.bisect_right(self.starts, offset) - 1

    def scope_at(self, offset):
        offsets, scopes = self.scope
        return scopes[bisect.bisect_right(offsets, offset) - 1]


def arg_list(code, i):
    """The top-level items of the parenthesized list that starts at or after
    `code[i]` (past whitespace and one `[...]` type-argument list), or None
    when no `(` follows. A `{` block argument is one item."""
    def skip_ws(j):
        while j < len(code) and code[j] in " \t\n":
            j += 1
        return j

    j = skip_ws(i)
    if code.startswith("[", j):
        depth = 0
        while j < len(code):
            depth += {"[": 1, "]": -1}.get(code[j], 0)
            j += 1
            if not depth:
                break
        j = skip_ws(j)
    if code.startswith("{", j):
        return ["{"]
    if not code.startswith("(", j):
        return None
    items, cur, depth = [], [], 0
    for ch in code[j + 1:]:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            if not depth:
                break
            depth -= 1
        elif ch == "," and not depth:
            items.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    items.append("".join(cur))
    return [] if items == [""] or (len(items) == 1 and not items[0].strip()) else items


def arity(src, start, name):
    """(required, total) parameter counts of the def `name` declared at
    offset `start` of `src`, from its first parameter list."""
    m = re.compile(r"\bdef\s+" + re.escape(name) + r"(?![A-Za-z0-9_])").search(src.code, start)
    params = arg_list(src.code, m.end()) or []
    defaults = sum(1 for p in params if re.search(r"(?<![=<>!])=(?![=>])", strip_parens(p)))
    if params and params[-1].rstrip().endswith("*"):
        # a varargs parameter may take no argument at all
        return len(params) - 1 - defaults, float("inf")
    return len(params) - defaults, len(params)


DECL_RE = re.compile(r"\bdef\s+$")


def reaching_sites(sources, path, kind, owner, name, own):
    """The argument count of every reference to `name` outside the `own`
    offset spans of `path` (None where no argument list follows). A
    `def name` declaration, of any owner, is not a reference."""
    bare = word(name)
    qualified = word(f"{owner}.{name}")
    sites = []
    for src in sources:
        skip = own if src.path == path else []
        if (kind == "object" and src.path != path
                and not {(owner, "_"), (owner, name)} & src.imports):
            pattern = qualified
        else:
            pattern = bare
        for m in pattern.finditer(src.code):
            if (any(s <= m.start() < e for s, e in skip)
                    or DECL_RE.search(src.code, src.starts[src.line(m.start())], m.start())):
                continue
            args = arg_list(src.code, m.end())
            sites.append(None if args is None else len(args))
        if owner in src.reflected and any(
                lit == name and not any(s <= i < e for s, e in skip)
                for i, lit in src.literals):
            sites.append(None)
    return sites


def unreached(sources, path, kind, owner, name, spans):
    """The spans of the group's defs that no reaching code names: a lone
    def is reached by any reference outside its body, an overload only by
    one its argument count admits."""
    if len(spans) == 1:
        return [] if reaching_sites(sources, path, kind, owner, name, spans) else spans
    src = next(s for s in sources if s.path == path)
    out = []
    for span in spans:
        lo, hi = arity(src, span[0], name)
        if not any(k is None or lo <= k <= hi
                   for k in reaching_sites(sources, path, kind, owner, name, [span])):
            out.append(span)
    return out


def main():
    sources = [Source(p) for p in sorted(MAIN.rglob("*.scala")) + sorted(BENCH.rglob("*.scala"))]
    groups = {}  # (path, owner kind, owner name, def name) -> [(start, end) offsets]
    for src in sources:
        if not src.path.is_relative_to(MAIN):
            continue
        for m in DEF_RE.finditer(src.code):
            if {"override", "implicit"} & set(m.group(2).split()) or m.group(4) in ALWAYS_REACHED:
                continue
            kind, owner = src.scope_at(m.start(3)) or (None, None)
            # vals and objects are audited only as members of an object
            if m.group(3) in ("val", "object") and kind != "object":
                continue
            k = src.line(m.start())
            if src.starts[k] == m.start():
                # a def that opens its line runs until the indentation ends it
                end = body_end(src.lines, k, len(m.group(1)))
                span = (m.start(), src.starts[end] if end < len(src.lines) else len(src.code))
            else:
                span = (m.start(), statement_end(src.code, m.start(3)))
            groups.setdefault((src.path, kind, owner, m.group(4)), []).append(span)

    tests = {p: scrub(p.read_text())[0] for p in sorted(TEST.rglob("*.scala"))}
    listed = []
    for (path, kind, owner, name), spans in groups.items():
        missed = unreached(sources, path, kind, owner, name, spans)
        if not missed:
            continue
        label = f"{owner}.{name}" if owner else name
        users = [str(p.relative_to(ROOT)) for p, t in tests.items() if word(name).search(t)]
        src = next(s for s in sources if s.path == path)
        for start, _ in missed:
            listed.append((str(path.relative_to(ROOT)), src.line(start) + 1, label, users))

    outside = 0
    for path, line, label, users in sorted(listed):
        print(f"{path}:{line}  {label}")
        if label in KEEP:
            print(f"    KEEP: {KEEP[label]}")
        else:
            outside += 1
            print("    " + (", ".join(users) if users else "(no test reference)"))
    print(f"{outside} unreached defs outside KEEP")
    return 1 if outside else 0


if __name__ == "__main__":
    sys.exit(main())
