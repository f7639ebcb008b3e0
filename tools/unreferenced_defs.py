#!/usr/bin/env python3
"""Count the public members of src/main that no other file references,
and those that nothing references at all.

A public member is a `def`, `val` or `object` declared at the top level
or one indent level in (column 0 or 2) of a `src/main` Scala file with
no access modifier; `override` members and `main` methods are left out
(the supertype or the launcher is their caller). Names are matched as
identifiers over every Scala file under `src/main`, `src/test` and
`perfbench/src`, from one index built in one pass. Matching is by name,
so a member that shares its name with anything else counts as
referenced: both counts are lower bounds.

- UNREFERENCED: the name appears in no OTHER file. Most of these are
  file-local helpers (called only in their own file), not dead code.
- DEAD: the name appears nowhere in code except its own declarations:
  comment lines and scaladoc do not count as a reference. Objects that
  define a `main` are left out (the launcher names them).

Usage: python3 tools/unreferenced_defs.py
Prints `UNREFERENCED_DEFS <n>` and one `  <file>: <name>` line each,
then `DEAD_DEFS <n>` and its lines.
"""
import os
import re
import sys
from collections import Counter

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
DIRS = ["src/main", "src/test", "perfbench/src"]
DECL = re.compile(
    r"^(?:  )?(?:(?:final|implicit|lazy|case)\s+)*(def|val|object)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)")
ANY_DECL = re.compile(
    r"\b(?:def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def scala_files(top):
    for base, _, names in os.walk(os.path.join(ROOT, top)):
        for n in names:
            if n.endswith(".scala"):
                yield os.path.relpath(os.path.join(base, n), ROOT)


def code_lines(text):
    """The lines of `text` that are not comments: block comments that
    open a line (scaladoc included) and whole-line `//` comments are
    dropped; a `/*` or `//` after code (SQL's `//` division lives in
    strings) is kept, so stripping never hides a reference."""
    out, in_block = [], False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s
            continue
        if not s.startswith("//"):
            out.append(line)
    return out


def main():
    idents = {}       # identifier -> set of files it appears in
    uses = Counter()  # identifier -> occurrences in code lines
    decl_sites = Counter()  # name -> declarations in code lines
    decls = []        # (file, kind, name) of public src/main members
    mains = set()     # files that define a `main`
    for top in DIRS:
        for f in scala_files(top):
            with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
                text = fh.read()
            for ident in set(IDENT.findall(text)):
                idents.setdefault(ident, set()).add(f)
            for line in code_lines(text):
                uses.update(IDENT.findall(line))
                decl_sites.update(ANY_DECL.findall(line))
                if re.search(r"\bdef\s+main\s*\(", line):
                    mains.add(f)
            if top == "src/main":
                for line in text.splitlines():
                    m = DECL.match(line)
                    if m and m.group(2) != "main":
                        decls.append((f, m.group(1), m.group(2)))
    unref = sorted({(f, n) for f, _, n in decls if not idents[n] - {f}})
    dead = sorted({(f, n) for f, kind, n in decls
                   if uses[n] <= decl_sites[n]
                   and not (kind == "object" and f in mains)})
    print(f"UNREFERENCED_DEFS {len(unref)}")
    for f, n in unref:
        print(f"  {f}: {n}")
    print(f"DEAD_DEFS {len(dead)}")
    for f, n in dead:
        print(f"  {f}: {n}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
