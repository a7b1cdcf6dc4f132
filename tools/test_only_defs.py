#!/usr/bin/env python3
"""List public defs in src/main that nothing outside the tests calls.

Usage: python3 tools/test_only_defs.py

Prints `path:line name` for each public `def` under src/main whose name
appears nowhere else in src/main, perfbench/ or tools/ (comments and
scaladoc links do not count as uses; string literals do). Such a def is
reached only from src/test, or from nowhere, so it is a candidate to delete
or to wire into a real caller. `override`, `implicit` and `main` defs are
skipped: the framework or the JVM calls them. Matching is by bare name, so
a def that shares its name with any other identifier is never reported;
the list errs toward too few entries, never too many. It only reports.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCAN = ["src/main", "perfbench", "tools"]
SOURCE_SUFFIXES = {".scala", ".java", ".py", ".sh"}
DEF = re.compile(r"^(?P<mods>[^\n]*?)\bdef\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)", re.M)
SKIP_MODS = re.compile(r"\b(private|protected|override|implicit)\b")
TOKEN = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*(?:.|\n)*?\*/')


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string literals and the
    line structure (so line numbers still match the file)."""
    def blank(m):
        tok = m.group(0)
        return tok if tok.startswith('"') else re.sub(r"[^\n]", " ", tok)
    return TOKEN.sub(blank, text)


def main():
    files = {}
    for d in SCAN:
        for p in sorted((ROOT / d).rglob("*")):
            if p.is_file() and p.suffix in SOURCE_SUFFIXES:
                text = p.read_text(encoding="utf-8", errors="replace")
                if p.suffix in {".scala", ".java"}:
                    text = strip_comments(text)
                files[p.relative_to(ROOT).as_posix()] = text

    defs = []
    for path, text in files.items():
        if not path.startswith("src/main/") or not path.endswith(".scala"):
            continue
        for m in DEF.finditer(text):
            if SKIP_MODS.search(m.group("mods")) or m.group("name") == "main":
                continue
            defs.append((path, text.count("\n", 0, m.start()) + 1, m.group("name")))

    uses = {}
    for text in files.values():
        for word in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text):
            uses[word] = uses.get(word, 0) + 1
    # a def's own declaration is one use; any overload or second declaration
    # of the same name counts as another, which keeps the name off the list
    unused = [d for d in defs if uses.get(d[2], 0) <= 1]
    for path, line, name in unused:
        print(f"{path}:{line} {name}")
    print(f"{len(unused)} public defs used only by tests (of {len(defs)})", file=sys.stderr)


if __name__ == "__main__":
    main()
