"""Count non-blank, non-comment source lines under src/main.

    python3 tools/loc.py            # counts ./src/main
    python3 tools/loc.py <root>     # counts <root>/src/main

A line counts unless it is blank, a `//` line comment, or inside a
`/* ... */` or `/** ... */` block comment. Code that shares a line with a
comment still counts. Prints one line per package (the directory of each
file below src/main/scala, as a dotted name), then the total. The totals
of different commits compare directly: reformatting changes them, comment
edits do not.
"""

import os
import sys
from collections import Counter


def count_file(path):
    """Non-blank, non-comment lines of one source file."""
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            code = False
            while line:
                if in_block:
                    end = line.find("*/")
                    if end < 0:
                        line = ""
                    else:
                        in_block = False
                        line = line[end + 2:].strip()
                elif line.startswith("//"):
                    line = ""
                elif line.startswith("/*"):
                    in_block = True
                    line = line[2:]
                else:
                    code = True
                    line = ""
            n += code
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    base = os.path.join(root, "src", "main")
    per_pkg = Counter()
    for d, _, files in os.walk(base):
        for name in files:
            if name.endswith((".scala", ".java")):
                rel = os.path.relpath(d, os.path.join(base, "scala"))
                per_pkg[rel.replace(os.sep, ".")] += count_file(os.path.join(d, name))
    width = max(map(len, per_pkg), default=0)
    for pkg in sorted(per_pkg):
        print(f"{pkg:<{width}}  {per_pkg[pkg]:>6}")
    print(f"{'total':<{width}}  {sum(per_pkg.values()):>6}")


if __name__ == "__main__":
    main()
