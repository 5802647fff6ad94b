#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories (one <query>.txt of
`explain("formatted")` per query) after normalizing what differs between
two runs of the same plan: expression ids (`#123`), plan and exchange ids
(`plan_id=12`), RDD ids (`MapPartitionsRDD[34]`), lambda variable and
closure names, and the random suffixes of temporary roots. Prints the
query names that were added, removed or changed, then a one-line
summary; exits 1 on any difference, 0 when every plan is identical.

One difference is not counted: Spark's distinct-aggregate rewrite (an
`Expand` that outputs `gid`) orders its distinct groups by expression
hash codes, which depend on expression ids, so two runs of one plan can
list the same groups in another order and number them differently. A
plan that matches once those groups are put in one canonical order is
listed as `regroup`. Only the `Expand` (its projections and output
columns) and the operators whose input carries `gid` (their attribute
lists Output, Input, Keys and Results, their hash-partitioning keys
and their `gid` numbers) are put in that order; every other line, and
every expression within a list, must match exactly.

  python3 tools/plan_diff.py A B
"""
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b(plan_id|planId|Subquery subquery)[=#]?\d+"), r"\1=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    # lambda variables take their names from a JVM-wide counter, and
    # closures print as class-and-identity-hash names
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\$\$Lambda\$[\w/$]+@[0-9a-f]+"), "$$Lambda"),
    # temporary roots: java.io.tmpdir / Files.createTempDirectory style
    # names end in a long random number or a hex/uuid suffix
    (re.compile(r"(/[A-Za-z][\w.-]*?[_-])\d{6,}"), r"\1N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "UUID"),
]

SECTION = re.compile(r"^\(\d+\) (\w+)")
LIST_LINE = re.compile(r"^(Output|Input|Keys|Results)( \[\d+\])?: \[(.*)\]$")
HASHPART = re.compile(r"^(Arguments: hashpartitioning\()(.*)(, \d+\)(,.*)?)$")
GID_EQ = re.compile(r"(gid#N = )(\d+)")
GID = "gid#N"


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def split_top(s):
    """`s` split at its top-level ", " separators; None when its
    brackets or quotes do not balance."""
    parts, depth, start, quote, i = [], 0, 0, False, 0
    while i < len(s):
        c = s[i]
        if c == "'":
            quote = not quote
        elif not quote:
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
                if depth < 0:
                    return None
            elif c == "," and depth == 0 and s.startswith(", ", i):
                parts.append(s[start:i])
                start = i + 2
                i += 1
        i += 1
    if depth or quote:
        return None
    parts.append(s[start:])
    return parts


def bracketed(s):
    """The top-level elements of the list `s` (`[a, b, ...]`); None
    when `s` is not one balanced list."""
    return split_top(s[1:-1]) if s.startswith("[") and s.endswith("]") \
        else None


def canonical_expand(lines):
    """The `Expand` section `lines` (`Arguments: [projections], [output
    columns]`) with its output columns sorted, each projection permuted
    to match, gid renumbered by the sorted projections and the
    projections sorted; with the old -> new gid map. None when the
    section does not parse."""
    at = next((n for n, l in enumerate(lines)
               if l.startswith("Arguments: [")), None)
    args = split_top(lines[at][len("Arguments: "):]) if at is not None \
        else None
    if args is None or len(args) != 2:
        return None
    projs, cols = bracketed(args[0]), bracketed(args[1])
    if projs is None or cols is None or GID not in cols:
        return None
    rows = [bracketed(p) for p in projs]
    if any(r is None or len(r) != len(cols) for r in rows):
        return None
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    g = cols.index(GID)
    rows.sort(key=lambda r: [(cols[i], r[i]) for i in order if i != g])
    gids = {r[g]: str(n) for n, r in enumerate(rows)}
    canon = ["[" + ", ".join(gids[r[g]] if i == g else r[i]
                             for i in order) + "]" for r in rows]
    new = list(lines)
    new[at] = "Arguments: [" + ", ".join(canon) + "], [" + \
        ", ".join(sorted(cols)) + "]"
    return new, gids


def canonical_gid_consumer(lines, gids):
    """A section reading `gid`: gid numbers mapped by `gids`, and its
    attribute lists and hash-partitioning keys sorted."""
    new = []
    for l in lines:
        l = GID_EQ.sub(lambda m: m.group(1) + gids.get(m.group(2), "?"), l)
        m, h = LIST_LINE.match(l), HASHPART.match(l)
        if m:
            parts = split_top(m.group(3))
            if parts is not None:
                l = f"{m.group(1)}{m.group(2) or ''}: [" + \
                    ", ".join(sorted(parts)) + "]"
        elif h:
            parts = split_top(h.group(2))
            if parts is not None:
                l = h.group(1) + ", ".join(sorted(parts)) + h.group(3)
        new.append(l)
    return new


def group_order_canonical(text):
    """`text` with every distinct-aggregate group set in canonical
    order (see the module doc); None when an `Expand` on gid does not
    parse."""
    sections, cur = [], []
    for line in text.splitlines():
        if SECTION.match(line) and cur:
            sections.append(cur)
            cur = []
        cur.append(line)
    sections.append(cur)
    out, gids = [], None
    for sec in sections:
        head = SECTION.match(sec[0])
        reads_gid = any(l.startswith("Input") and GID in l for l in sec)
        if head and head.group(1) == "Expand" and any(
                l.startswith("Arguments") and GID in l for l in sec):
            canon = canonical_expand(sec)
            if canon is None:
                return None
            sec, gids = canon
        elif head and reads_gid and gids is not None:
            sec = canonical_gid_consumer(sec, gids)
        out.extend(sec)
    return "\n".join(out)


def same_up_to_group_order(a, b):
    if GID not in a or GID not in b:
        return False
    ca, cb = group_order_canonical(a), group_order_canonical(b)
    return ca is not None and ca == cb


def plans(d):
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt"):
            with open(os.path.join(d, name), encoding="utf-8") as f:
                out[name[:-4]] = normalize(f.read())
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    added = sorted(b.keys() - a.keys())
    removed = sorted(a.keys() - b.keys())
    differ = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    regrouped = [k for k in differ if same_up_to_group_order(a[k], b[k])]
    changed = [k for k in differ if k not in regrouped]
    for tag, names in (("added", added), ("removed", removed),
                       ("regroup", regrouped), ("changed", changed)):
        for n in names:
            print(f"{tag:8} {n}")
    print(f"{len(a)} -> {len(b)} plans: {len(added)} added, "
          f"{len(removed)} removed, {len(changed)} changed")
    return 1 if added or removed or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
