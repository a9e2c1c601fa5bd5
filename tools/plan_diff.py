#!/usr/bin/env python3
"""Compare two `graft.tools.PlanDump` outputs for plan identity.

Usage: python3 tools/plan_diff.py A.txt B.txt

Expression ids (`#123`, `#123L`) and plan-node ids (`plan_id=…`,
`[id=#…]`) differ between any two runs of the same query, so both files
are normalised before comparing: those tags are stripped. Prints `same`
and exits 0 when the normalised plans are equal; otherwise prints a
unified diff of the normalised plans and exits 1.
"""
import difflib
import re
import sys

_TAGS = [
    re.compile(r",?\s*\[(plan_id=\d+|id=#\d+)\]"),
    re.compile(r"#\d+L?"),
]


def normalise(text):
    lines = []
    for line in text.splitlines():
        for tag in _TAGS:
            line = tag.sub("", line)
        lines.append(line.rstrip())
    return lines


def main(argv):
    if len(argv) != 3:
        print("usage: plan_diff.py A.txt B.txt", file=sys.stderr)
        return 2
    a_path, b_path = argv[1], argv[2]
    with open(a_path) as f:
        a = normalise(f.read())
    with open(b_path) as f:
        b = normalise(f.read())
    if a == b:
        print("same")
        return 0
    sys.stdout.writelines(
        line + "\n"
        for line in difflib.unified_diff(a, b, a_path, b_path, lineterm=""))
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
