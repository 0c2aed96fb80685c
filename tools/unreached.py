#!/usr/bin/env python3
"""List the definitions in src/main/scala that nothing outside the specs uses.

For each name that a `def`, `val`, `object`, `class` or `trait` defines in
src/main/scala, count its word-boundary uses in src/main, perfbench/src and
tools/. Comments do not count, and neither does the definition itself.
Names that are `private`, `override`, `apply` or `unapply` are skipped.

Prints one JSON line per name with no use:

  {"name": ..., "kind": ..., "file": ..., "line": ..., "test_only": true|false}

`test_only` says whether src/test names it. Stdlib only; run from anywhere:

  python3 tools/unreached.py [repo_root]
"""
import collections
import io
import json
import os
import re
import sys
import tokenize

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MODIFIER = r"(?:(?:private|protected|override|final|implicit|lazy|sealed|abstract|case)(?:\[[^\]]*\])?\s+)"
DEFINITION = re.compile(
    r"(?P<mods>(?:@\w+\s+)*" + MODIFIER + r"*)(?P<kind>def|val|object|class|trait)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
SKIP_NAMES = {"apply", "unapply"}
SOURCE_EXT = (".scala", ".py", ".sh")


def strip_scala(text):
    """Blank out // and /* */ comments (nested, as Scala allows), keeping
    string and char literals and every newline."""
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # """ may close with extra quotes
                j += 1
            out.append(text[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            j = n if j < 0 else j + 1
            out.append(text[i:j])
            i = j
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_python(text):
    try:
        tokens = [t for t in tokenize.generate_tokens(io.StringIO(text).readline)
                  if t.type != tokenize.COMMENT]
        return tokenize.untokenize(tokens)
    except (tokenize.TokenError, SyntaxError, IndentationError):
        return text


def strip_shell(text):
    return re.sub(r"(^|\s)#.*", r"\1", text)


def stripped(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        text = f.read()
    if path.endswith(".scala"):
        return strip_scala(text)
    if path.endswith(".py"):
        return strip_python(text)
    return strip_shell(text)


def sources(root, rel, exclude=()):
    base = os.path.join(root, rel)
    for dirpath, _, files in os.walk(base):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            if name.endswith(SOURCE_EXT) and os.path.abspath(path) not in exclude:
                yield path


def count_idents(paths):
    counts = collections.Counter()
    for path in paths:
        counts.update(IDENT.findall(stripped(path)))
    return counts


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    me = {os.path.abspath(__file__)}
    definitions = []
    own = collections.Counter()
    for path in sources(root, "src/main/scala"):
        text = stripped(path)
        for m in DEFINITION.finditer(text):
            name = m.group("name")
            own[name] += 1
            mods = m.group("mods")
            if name in SKIP_NAMES or re.search(r"\b(private|override)\b", mods):
                continue
            definitions.append((name, m.group("kind"), os.path.relpath(path, root),
                                text.count("\n", 0, m.start("name")) + 1))
    uses = count_idents(sources(root, "src/main"))
    uses.update(count_idents(sources(root, "perfbench/src")))
    uses.update(count_idents(sources(root, "tools", exclude=me)))
    tests = count_idents(sources(root, "src/test"))
    for name, kind, path, line in definitions:
        if uses[name] - own[name] <= 0:
            print(json.dumps({"name": name, "kind": kind, "file": path, "line": line,
                              "test_only": tests[name] > 0}))


if __name__ == "__main__":
    main()
