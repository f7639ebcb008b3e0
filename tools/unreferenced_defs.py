#!/usr/bin/env python3
"""Count the public members of src/main that no other file references.

A public member is a `def`, `val` or `object` declared at the top level
or one indent level in (column 0 or 2) of a `src/main` Scala file with
no access modifier; `override` members and `main` methods are left out
(the supertype or the launcher is their caller). It is unreferenced when
its name appears as an identifier in no OTHER Scala file under
`src/main`, `src/test` or `perfbench/src`. One identifier index is built
over all files, so the check is one pass, not a grep per name. Matching
is by name, so a member that shares its name with anything elsewhere
counts as referenced: the count is a lower bound.

Usage: python3 tools/unreferenced_defs.py
Prints `UNREFERENCED_DEFS <n>`, then one `  <file>: <name>` line each.
"""
import os
import re
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
DIRS = ["src/main", "src/test", "perfbench/src"]
DECL = re.compile(
    r"^(?:  )?(?:(?:final|implicit|lazy|case)\s+)*(def|val|object)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def scala_files(top):
    for base, _, names in os.walk(os.path.join(ROOT, top)):
        for n in names:
            if n.endswith(".scala"):
                yield os.path.relpath(os.path.join(base, n), ROOT)


def main():
    idents = {}   # identifier -> set of files it appears in
    decls = []    # (file, name) of public src/main members
    for top in DIRS:
        for f in scala_files(top):
            with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
                text = fh.read()
            for ident in set(IDENT.findall(text)):
                idents.setdefault(ident, set()).add(f)
            if top == "src/main":
                for line in text.splitlines():
                    m = DECL.match(line)
                    if m and m.group(2) != "main":
                        decls.append((f, m.group(2)))
    unref = sorted({(f, n) for f, n in decls if not idents[n] - {f}})
    print(f"UNREFERENCED_DEFS {len(unref)}")
    for f, n in unref:
        print(f"  {f}: {n}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
