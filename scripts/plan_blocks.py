#!/usr/bin/env python3
"""Summarize the per-materialization plans of a SPARK_GRAFT_EXPLAIN_MAT=1 run.

`Ckpt.mat` prints a `---------- mat() plan ----------` line and the
frame's formatted plan before every materialization. This script splits
such a dump into one block per materialization and counts, in each
block's `== Physical Plan ==` tree, the nodes a loop refactor must keep:
Exchange, BroadcastExchange, BroadcastHashJoin, SortMergeJoin,
HashAggregate and Window.

    scripts/plan_blocks.py plans.txt              # one line per block
    scripts/plan_blocks.py --diff before.txt after.txt

With --diff it compares the block counts and prints the first block
whose node counts differ (exit status 1), or reports that all match.
"""
import re
import sys

MARKER = "---------- mat() plan ----------"
NODES = ["Exchange", "BroadcastExchange", "BroadcastHashJoin",
         "SortMergeJoin", "HashAggregate", "Window"]
# a tree line: optional indentation and tree glyphs, an optional `*(n) `
# codegen stage, then the node name
TREE_NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)")


def blocks(path):
    """List of per-block plan-tree line lists, in materialization order."""
    out, cur = [], None
    with open(path, errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith(MARKER):
                cur = {"tree": [], "in_tree": False}
                out.append(cur)
            elif cur is not None:
                if line.startswith("== Physical Plan =="):
                    cur["in_tree"] = True
                elif cur["in_tree"]:
                    # the formatted tree ends at the first blank line;
                    # the per-node details follow it
                    if not line.strip():
                        cur["in_tree"] = False
                    else:
                        cur["tree"].append(line)
    return [b["tree"] for b in out]


def counts(tree):
    names = [m.group(1) for m in map(TREE_NODE.match, tree) if m]
    return tuple(sum(1 for n in names if n == node) for node in NODES)


def summary(path):
    return [counts(t) for t in blocks(path)]


def show(i, c):
    return f"block {i + 1}: " + ", ".join(
        f"{n}={v}" for n, v in zip(NODES, c))


def main(argv):
    if len(argv) == 3 and argv[0] == "--diff":
        a, b = summary(argv[1]), summary(argv[2])
        print(f"blocks: {len(a)} vs {len(b)}")
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y:
                print("first differing " + show(i, x))
                print("               vs " + show(i, y))
                return 1
        if len(a) != len(b):
            print("node counts match over the common prefix; "
                  "the block counts differ")
            return 1
        print("all blocks match")
        return 0
    if len(argv) == 1:
        for i, c in enumerate(summary(argv[0])):
            print(show(i, c))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
