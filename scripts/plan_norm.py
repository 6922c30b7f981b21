#!/usr/bin/env python3
"""Compare the initial (pre-AQE) plans in two `graft.Tool explain` outputs.

    python3 scripts/plan_norm.py BEFORE AFTER      # diff, per query
    python3 scripts/plan_norm.py --print OUTPUT    # normalized plans only

BEFORE, AFTER and OUTPUT are each a Tool explain output file or a
directory of them (one file per query is fine). A query is the text after
its `===== <name> =====` header. From each query the script keeps the
`Initial Plan` tree of the formatted plan and the detail blocks of the
operators in that tree, then strips what differs between two runs of the
same plan:

  - expression ids (`#12`, `#12L`)
  - operator ids, renumbered in order of first appearance
  - codegen ids and `plan_id=` query-stage ids
  - RDD ids and call sites of `ExistingRDD`/`LogicalRDD` scans
  - generated lambda variable and class names
  - object hashes (`@1a2b3c4d`)
  - temporary and warehouse paths

The AQE final plan is skipped: it depends on runtime statistics and can
differ between two runs of one commit. Exit status is 0 when every query
present on either side has identical normalized plans, 1 otherwise.
"""
import difflib
import os
import re
import sys

HEADER = re.compile(r"^===== ([a-z][a-z0-9_]*) =====$")
TREE_ID = re.compile(r"\((\d+)\)$")
DETAIL = re.compile(r"^\((\d+)\) ")

SUBS = [
    (re.compile(r"#\d+L?\b"), "#n"),
    (re.compile(r"\[codegen id : \d+\]"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"\b\w*RDD\[\d+\] at \w+ at [\w.$]+:\d+"), "<rdd>"),
    (re.compile(r"\b(x|y|acc|k|v)_\d+\b"), r"\1_n"),
    (re.compile(r"\$\$Lambda[\w$/]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]+\b"), "@hash"),
    (re.compile(r"file:/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"(file:)?/[^\s,\]\)]*spark-warehouse[^\s,\]\)]*"), "<warehouse>"),
]


def read_queries(path):
    """{query name: its explain text}, from a file or every file in a dir."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if os.path.isfile(os.path.join(path, f)))
    queries, name = {}, None
    for f in files:
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if line.startswith("[info] "):
                    line = line[len("[info] "):]
                m = HEADER.match(line)
                if m:
                    name = m.group(1)
                    queries[name] = []
                elif name is not None:
                    queries[name].append(line)
    return queries


def initial_plan(lines):
    """The Initial Plan tree lines and the detail block of each operator id."""
    tree, details = [], {}
    start = next((i for i, l in enumerate(lines) if "== Initial Plan ==" in l), None)
    if start is None:  # not adaptive: the physical plan is the only plan
        start = next((i for i, l in enumerate(lines) if l == "== Physical Plan =="), -1)
    depth = len(lines[start]) - len(lines[start].lstrip(" +-")) if start >= 0 else 0
    for line in lines[start + 1:]:
        if not line.strip():
            break
        if len(line) - len(line.lstrip(" :+-")) < depth:
            break  # back at the parent's indentation: the tree is over
        tree.append(line)
    current = None
    for line in lines:
        m = DETAIL.match(line)
        if m:
            current = m.group(1)
            details[current] = [line]
        elif current is not None:
            if line.strip():
                details[current].append(line)
            else:
                current = None
    return tree, details


def normalize(lines):
    tree, details = initial_plan(lines)
    ids = {}
    for line in tree:
        for i in TREE_ID.findall(line.rstrip()):
            ids.setdefault(i, str(len(ids) + 1))

    def new_id(m):
        return m.group(1) + ids.get(m.group(2), "?") + m.group(3)

    def renumber(text, id_at):
        text = id_at.sub(new_id, text.rstrip())
        text = re.sub(r"(operator id[:=] ?)(\d+)()", new_id, text)
        for pattern, repl in SUBS:
            text = pattern.sub(repl, text)
        return text.rstrip()

    in_tree = re.compile(r"(\()(\d+)(\))$")
    in_header = re.compile(r"^(\()(\d+)(\) )")
    out = [renumber(l, in_tree) for l in tree]
    for i in ids:  # detail blocks in tree order
        out.append("")
        out.extend(renumber(l, in_header)
                   for l in details.get(i, ["(%s) <no detail>" % i]))
    return out


def main(argv):
    if len(argv) == 3 and argv[1] == "--print":
        for name, lines in sorted(read_queries(argv[2]).items()):
            print("===== %s =====" % name)
            print("\n".join(normalize(lines)))
        return 0
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    before, after = read_queries(argv[1]), read_queries(argv[2])
    failed = False
    for name in sorted(set(before) | set(after)):
        if name not in before or name not in after:
            print("MISSING %s (only in %s)" % (name, argv[1] if name in before else argv[2]))
            failed = True
            continue
        a, b = normalize(before[name]), normalize(after[name])
        if a == b:
            print("SAME %s" % name)
        else:
            failed = True
            print("DIFF %s" % name)
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a, b, argv[1] + ":" + name, argv[2] + ":" + name, lineterm=""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
