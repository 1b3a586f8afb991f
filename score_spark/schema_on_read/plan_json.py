"""Reconstruct Catalyst's ``TreeNode.toJSON`` flat pre-order encoding into
nested python trees — for both logical-plan nodes and expression trees. The
exporter sends the walker view of that encoding (vendor/plan-export-src,
``PlanJson``), which keeps its shape.

Catalyst serializes a tree as a flat JSON array in pre-order where each node
carries ``num-children``; expression-valued fields hold either one flattened
expression tree (list of dicts) or a list of flattened trees (list of lists).
"""

from __future__ import annotations

from typing import Any

Node = dict[str, Any]


def build_tree(flat: list[Node]) -> Node:
    """Nest a flat pre-order node list; children land under '_children'.

    Iterative with an explicit stack (review r9): deep chained plans — a
    loop of withColumn calls stacks one Project per iteration — overflowed
    Python's recursion limit, and the RecursionError was swallowed by
    generate()'s best-effort fallback, silently disabling pruning on
    exactly the large plans where it matters most.
    """
    it = iter(flat)
    root = next(it)
    root["_children"] = []
    stack: list[tuple[Node, int]] = [(root, root.get("num-children", 0))]
    while stack:
        node, remaining = stack[-1]
        if remaining == 0:
            stack.pop()
            continue
        stack[-1] = (node, remaining - 1)
        child = next(it)
        child["_children"] = []
        node["_children"].append(child)
        stack.append((child, child.get("num-children", 0)))
    return root


def cls_name(node: Node) -> str:
    return node["class"].rsplit(".", 1)[-1]


def expr_trees(value: Any) -> list[Node]:
    """Parse an expression-valued plan field into a list of expression trees.

    Shapes seen in Spark 4.x JSON:
      - single flattened tree: [ {class:...}, ... ]
      - list of flattened trees: [ [ {...}, ... ], ... ]
      - None / scalars: no expressions
    """
    if not isinstance(value, list) or not value:
        return []
    if isinstance(value[0], dict) and "class" in value[0]:
        # memoized on the installed '_children' key: the generator parses
        # the same field from several handlers (Join condition in the
        # pre-pass AND _on_Join; relation output in _on_LogicalRelation AND
        # _node_output per set-op position) — build_tree mutates the shared
        # dicts in place, so a rebuilt nesting is identical (review r9)
        if "_children" not in value[0]:
            build_tree(list(value))
        return [value[0]]
    out = []
    for item in value:
        if isinstance(item, list) and item and isinstance(item[0], dict) and "class" in item[0]:
            if "_children" not in item[0]:
                build_tree(list(item))
            out.append(item[0])
    return out


def expr_id(node: Node) -> tuple[str, int] | None:
    e = node.get("exprId")
    return exprid_key(e) if isinstance(e, dict) else None


def exprid_key(e: dict[str, Any]) -> tuple[str, int]:
    """An exprId as the exporter writes it, ``{id[, jvmId]}``, as a
    ``(jvmId, id)`` key; the jvmId is "" for this JVM's ids."""
    return (e.get("jvmId", ""), e["id"])
