#!/usr/bin/env python3
"""List library defs that nothing else in the library names (report only,
never fails).

Usage: python3 scripts/unused_defs.py [srcRoot]
       (default: src/main)

Reads every .scala file under srcRoot with its comments removed. A def
counts as unused when its name occurs nowhere in that text except at
`def <name>` declarations. Tests are not read, so a def that only tests
call is listed too. Prints one `Owner.name  path:line` line per unused
def, then the total.

Skipped: `override` defs, `main`, and `apply`/`unapply`/`update`,
which a framework, the JVM or Scala syntax calls. A def named only in a
comment counts as unused. Names are matched as whole words, so a def
whose name another identifier also uses is never listed: the report can
miss an unused def, but no library code names a def it lists.
"""
import glob
import os
import re
import sys

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"^\s*(?:[\w\[\]]+\s+)*(?:object|class|trait)\s+(\w+)")
SKIP = {"main", "apply", "unapply", "update"}


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string literals and line
    breaks (so line numbers stay valid)."""
    out = []
    i, n = 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    paths = sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                             recursive=True))
    texts = {p: strip_comments(open(p).read()) for p in paths}
    decls = []  # (owner, name, path, line)
    for p, text in texts.items():
        owner = os.path.splitext(os.path.basename(p))[0]
        for ln, line in enumerate(text.split("\n"), 1):
            m = OWNER.match(line)
            if m and not line.startswith((" ", "\t")):
                owner = m.group(1)
            for d in DEF.finditer(line):
                if d.group(1) in SKIP or re.search(
                        r"\boverride\b[^=]*\bdef\s+" + d.group(1) + r"\b",
                        line):
                    continue
                decls.append((owner, d.group(1), p, ln))
    every = "\n".join(texts.values())
    unused = []
    for owner, name, p, ln in decls:
        word = re.compile(r"\b" + re.escape(name) + r"\b")
        uses = len(word.findall(every))
        declared = len(re.findall(r"\bdef\s+" + re.escape(name) + r"\b",
                                  every))
        if uses == declared:
            unused.append((owner, name, p, ln))
    for owner, name, p, ln in unused:
        print(f"{owner}.{name}  {p}:{ln}")
    print(f"unused defs: {len(unused)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
