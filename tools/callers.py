#!/usr/bin/env python3
"""Caller count for every public `def` in src/main.

For each public member `def` of a class, trait or object under
src/main/scala, count the references to its name (whole word, Scala
comments stripped, string literals kept so SQL-registered names count)
in src/main, src/test, perfbench/ and tools/, and its mentions in
README.md and SURVEY.md. Occurrences inside the def's own definition
(its signature and body) are not references.

A def is
  production  when src/main (outside its definition), perfbench/ or
              tools/ reference it;
  test-only   when only src/test references it;
  orphan      when nothing references it.

Overrides, `main` and `apply`/`unapply` are skipped: the JVM, a
supertype or the compiler calls them, not a name.

Usage: python3 tools/callers.py [--all]
  Prints the test-only and orphan defs (--all: every def) with their
  reference counts per area, then a summary line. Exits 1 when a def is
  an orphan, or test-only without a mention in README.md or SURVEY.md.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP = {"main", "apply", "unapply"}
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
TYPE = re.compile(r"\b(object|class|trait)\s+[A-Za-z_]")
MEMBER = re.compile(r"\b(val|var)\s")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
HIDDEN = re.compile(r"\b(private|protected|override)\b")
CHAR = re.compile(r"'(\\.|[^\\'])'")


def strip_comments(src):
    """Blank out // and /* */ comments, keeping line breaks and strings."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif m := CHAR.match(src, i):
            out.append(m.group(0))
            i = m.end()
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def code_only(line):
    """The line with string and char literal contents removed."""
    return re.sub(r'"(\\.|[^"\\])*"|\'(\\.|[^\\\'])\'', '""', line)


def member_defs(lines):
    """(name, first line, last line) of each public member def.

    A def is a member when every enclosing brace block was opened by a
    class, trait or object header; its extent runs to the line before
    the next member at the same depth or the end of the enclosing block.
    """
    stack, pending_type, found = [], False, []
    open_defs = {}  # depth -> index into found of the last member there
    for no, raw in enumerate(lines):
        line = code_only(raw)
        m = DEF.search(line)
        if TYPE.search(line):
            pending_type = True
        elif m or MEMBER.search(line):
            pending_type = False
        depth = len(stack)
        if m and all(stack):
            if depth in open_defs:
                k = open_defs.pop(depth)
                found[k][2] = no - 1
            head = line[:m.start()]
            public = not HIDDEN.search(head) and m.group(1) not in SKIP
            found.append([m.group(1) if public else None, no, len(lines) - 1])
            open_defs[depth] = len(found) - 1
        for ch in line:
            if ch == "{":
                stack.append(pending_type)
                pending_type = False
            elif ch == "}" and stack:
                stack.pop()
                d = len(stack) + 1
                if d in open_defs:
                    found[open_defs.pop(d)][2] = no
    return [tuple(f) for f in found if f[0]]


def load(top, exts):
    """path -> source lines of each file under `top` (a directory or one
    file) ending in one of `exts`, Scala comments stripped."""
    full = os.path.join(ROOT, top)
    paths = [full] if os.path.isfile(full) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
    out = {}
    for p in paths:
        if p.endswith(exts) and p != os.path.abspath(__file__):
            with open(p, encoding="utf-8") as fh:
                text = fh.read()
            out[os.path.relpath(p, ROOT)] = (
                strip_comments(text) if p.endswith(".scala") else text).split("\n")
    return out


def index(files):
    """word -> [(path, line number)], one entry per occurrence."""
    out = {}
    for path, lines in files.items():
        for no, line in enumerate(lines):
            for w in WORD.findall(line):
                out.setdefault(w, []).append((path, no))
    return out


def count(name, idx, skip=None):
    skip = skip or {}
    return sum(1 for path, no in idx.get(name, ())
               if not any(a <= no <= b for a, b in skip.get(path, ())))


def main(argv):
    show_all = "--all" in argv
    main_src = load("src/main", (".scala",))
    idx = {"main": index(main_src),
           "test": index(load("src/test", (".scala",))),
           "perfbench": index(load("perfbench", (".scala", ".py"))),
           "tools": index(load("tools", (".scala", ".py"))),
           "docs": index({**load("README.md", (".md",)), **load("SURVEY.md", (".md",))})}

    defs = {}
    for path, lines in main_src.items():
        for name, a, b in member_defs(lines):
            defs.setdefault(name, []).append((path, a, b))

    rows, bad = [], 0
    for name in sorted(defs):
        skip = {}
        for path, a, b in defs[name]:
            skip.setdefault(path, []).append((a, b))
        n = {area: count(name, words, skip if area == "main" else None)
             for area, words in idx.items()}
        if n["main"] or n["perfbench"] or n["tools"]:
            kind = "production"
        elif n["test"]:
            kind = "test-only"
        else:
            kind = "orphan"
        undocumented = kind != "production" and not n["docs"]
        flag = kind == "orphan" or undocumented
        bad += flag
        if show_all or kind != "production":
            where = ", ".join(f"{p}:{a + 1}" for p, a, _ in defs[name])
            print(f"{'FAIL ' if flag else '     '}{kind:10} {name:32} "
                  + " ".join(f"{k}={v}" for k, v in n.items())
                  + f"  ({where})")
        rows.append((kind, n["docs"] > 0))

    kinds = [k for k, _ in rows]
    print(f"{len(rows)} public defs: {kinds.count('production')} production, "
          f"{kinds.count('test-only')} test-only "
          f"({sum(1 for k, d in rows if k == 'test-only' and d)} documented), "
          f"{kinds.count('orphan')} orphan; {bad} failing")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
