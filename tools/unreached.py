#!/usr/bin/env python3
"""List main code that only the specs reach.

Prints every public object, class, trait and def under src/main whose
name no other main file and no perfbench/harness file mentions, while a
spec under src/test does. A name its own file uses beyond its
definitions counts as reached (a public helper of a reached def).
Comments and string literals are not mentions. Names are matched as
whole words, so a common name (apply, run) mentioned anywhere never
lists: the output is a candidate list for deletion or wiring into a
command, not a proof.

Usage: python3 tools/unreached.py [REPO_ROOT]
Output: one `path:line kind name` per candidate, then a count.
"""
import os
import re
import sys

DEF = re.compile(
    r"^(?P<mods>[ \t]*(?:(?:final|case|abstract|sealed|implicit|lazy|override|"
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)"
    r"(?P<kind>object|class|trait|def)\s+(?P<name>[A-Za-z_]\w*)",
    re.M)
CODE_NOISE = re.compile(r'/\*.*?\*/|//[^\n]*|"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"', re.S)


def sources(root, sub, exts):
    for d, dirs, files in os.walk(os.path.join(root, sub)):
        dirs[:] = [x for x in dirs if x not in ("target", "project", ".bsp")]
        for f in sorted(files):
            if f.endswith(exts):
                yield os.path.join(d, f)


def code(path):
    """The file's text with comments and string literals blanked, so
    line numbers survive."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    return CODE_NOISE.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)


def words(text):
    return set(re.findall(r"[A-Za-z_]\w*", text))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    mains = {p: code(p) for p in sources(root, "src/main", (".scala",))}
    main_words = {p: words(t) for p, t in mains.items()}
    harness = set()
    for p in sources(root, "perfbench/harness", (".scala", ".py", ".sbt")):
        harness |= words(code(p))
    specs = set()
    for p in sources(root, "src/test", (".scala",)):
        specs |= words(code(p))

    found = []
    for path, text in mains.items():
        counts = {}
        for w in re.findall(r"[A-Za-z_]\w*", text):
            counts[w] = counts.get(w, 0) + 1
        defs = list(DEF.finditer(text))
        n_defs = {}
        for m in defs:
            n_defs[m.group("name")] = n_defs.get(m.group("name"), 0) + 1
        for m in defs:
            name, mods = m.group("name"), m.group("mods")
            if "private" in mods or "protected" in mods or "override" in mods:
                continue
            # every def line holds the name once; more mentions are uses
            if counts[name] > n_defs[name]:
                continue
            if any(name in ws for p, ws in main_words.items() if p != path):
                continue
            if name in harness or name not in specs:
                continue
            line = text.count("\n", 0, m.start("name")) + 1
            found.append(f"{os.path.relpath(path, root)}:{line} {m.group('kind')} {name}")
    for f in sorted(found):
        print(f)
    print(f"{len(found)} public names reached only from specs")


if __name__ == "__main__":
    main()
