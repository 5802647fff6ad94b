#!/usr/bin/env python3
"""Count the code lines that sit in repeated runs of four or more lines.

Each .scala file is reduced to its code lines: blank lines and lines that
are wholly comment (// lines, /* ... */ and /** ... */ blocks) are
skipped, runs of whitespace become one space, and a leading `|`
stripMargin margin is dropped. Every window of MIN (default 4)
consecutive code lines is hashed; a window that occurs more than once
among the files of one directory marks all its lines as repeated. A run
of N >= MIN repeated lines is the union of its windows, so every line of
it is counted once.

Prints one line per directory (its own .scala files, not its
subdirectories): repeated code lines, total code lines, directory; then
the total over everything listed.

  python3 tools/dupblocks.py src/main/scala/graft/queries
  python3 tools/dupblocks.py --min 5 --show src/main/scala/graft/queries
"""
import argparse
import os
import re
import sys
from collections import defaultdict

WS = re.compile(r"\s+")


def code_lines(path):
    """[(line number, normalized text)] for the code lines of one file."""
    out, inblk = [], False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line, code = raw, False
            while line:
                if inblk:
                    i = line.find("*/")
                    if i < 0:
                        break
                    line, inblk = line[i + 2:], False
                else:
                    line = line.lstrip()
                    if not line or line.startswith("//"):
                        break
                    if line.startswith("/*"):
                        line, inblk = line[2:], True
                        continue
                    code = True
                    break
            if code:
                text = WS.sub(" ", raw.strip())
                if text.startswith("|"):
                    text = text[1:].strip()
                out.append((no, text))
    return out


def scan(files, width):
    """Repeated-line marks per file, plus the windows that repeat."""
    lines = {p: code_lines(p) for p in files}
    seen = defaultdict(list)
    for p, ls in lines.items():
        for i in range(len(ls) - width + 1):
            seen[tuple(t for _, t in ls[i:i + width])].append((p, i))
    marks = {p: [False] * len(ls) for p, ls in lines.items()}
    repeats = {w: at for w, at in seen.items() if len(at) > 1}
    for at in repeats.values():
        for p, i in at:
            for j in range(i, i + width):
                marks[p][j] = True
    return lines, marks, repeats


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--min", type=int, default=4, help="shortest run counted")
    ap.add_argument("--show", action="store_true",
                    help="also print each repeated window and where it occurs")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    args = ap.parse_args(argv)
    dirs = defaultdict(list)
    for root in args.paths:
        if os.path.isfile(root):
            dirs[os.path.dirname(root)].append(root)
            continue
        for d, _, names in os.walk(root):
            dirs[d] += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    tot_rep = tot_all = 0
    for d in sorted(k for k, v in dirs.items() if v):
        lines, marks, repeats = scan(sorted(dirs[d]), args.min)
        rep = sum(sum(m) for m in marks.values())
        allc = sum(len(ls) for ls in lines.values())
        tot_rep += rep
        tot_all += allc
        print(f"{rep:7d} {allc:7d}  {d}")
        if args.show:
            for w, at in sorted(repeats.items(), key=lambda kv: -len(kv[1])):
                where = ", ".join(f"{os.path.basename(p)}:{lines[p][i][0]}"
                                  for p, i in at)
                print(f"  x{len(at)} {where}\n    " + "\n    ".join(w))
    print(f"{tot_rep:7d} {tot_all:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
