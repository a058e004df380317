"""Driver-side fetch and DOT serialization of a BFS result (SURVEY.md
§2.9 G3/G4, §2.1 K4).

The reference master gathers the workers' replies into ``{Vertices, Edges}``
(``master.erl:261-263``) and renders the digraph to PNG via GraphViz
(the reference's ``src/master/graphviz.erl:63-100``, ``graph.erl:47-79``).
Here :func:`fetch` is that gather: one ``collect()`` of the budget-bounded
result edges; the vertex list and both orders are built on the driver.
Rendering (``dot -Tpng``) stays outside the engine; the DOT text is:

- node ids sanitized with ``[^A-Za-z0-9] → _`` — the reference's char class
  omits ``0`` (``graph.erl:30``), mangling names containing the digit zero;
  documented bug, not replicated;
- movies in lexicographic order (O1, ``graph.erl:92``), actors by surname =
  last space-separated token (O2, ``graph.erl:93-98``, scalar X6), then name;
- tree linearization: depth-first emission from the root (G3,
  ``graph.erl:67-79``).
"""

from __future__ import annotations

import re
from collections import defaultdict

from imdb_mapreduce_spark.operators.graph import ACTOR, BfsResult

_SANITIZE = re.compile(r"[^A-Za-z0-9]")


def sanitize_id(name: str) -> str:
    """DOT identifier sanitization (X5) with the zero-digit bug fixed."""
    return _SANITIZE.sub("_", name)


def _display_key(node_type: str):
    """The one display-order rule: movies by name (O1), actors by
    (surname, name) with surname = last space-separated token (O2, X6)."""
    if node_type == ACTOR:
        return lambda name: (name.rsplit(" ", 1)[-1], name)
    return lambda name: name


def fetch(result: BfsResult) -> tuple[list[str], list[tuple[str, str, int]]]:
    """The reply ``{Vertices, Edges}`` (``master.erl:263``): display-ordered
    vertices and (src, dst, level) edges in (level, src, dst) order, from
    at most one Spark job (none for a result without edges)."""
    edges = sorted(
        ((r["src"], r["dst"], r["level"]) for r in result.edges.collect()),
        key=lambda e: (e[2], e[0], e[1]),
    )
    names = {result.root}.union(*((src, dst) for src, dst, _ in edges))
    return sorted(names, key=_display_key(result.node_type)), edges


def to_dot(result: BfsResult) -> str:
    """Assemble DOT text (G4) via DFS from the root (G3)."""
    _, edges = fetch(result)
    children: dict[str, list[str]] = defaultdict(list)
    for src, dst, _ in edges:
        children[src].append(dst)
    key = _display_key(result.node_type)
    for v in children.values():
        v.sort(key=key)

    lines = ["digraph G {", f'  label="{result.root} (level graph)";']
    emitted: set[str] = set()

    def dfs(node: str) -> None:
        if node in emitted:
            return
        emitted.add(node)
        nid = sanitize_id(node)
        lines.append(f'  {nid} [label="{node}"];')
        for child in children.get(node, []):
            lines.append(f"  {nid} -> {sanitize_id(child)};")
            dfs(child)

    dfs(result.root)  # every vertex hangs off the root: the result is a tree
    lines.append("}")
    return "\n".join(lines)


def write_dot(result: BfsResult, path: str) -> str:
    dot = to_dot(result)
    with open(path, "w", encoding="utf-8") as f:
        f.write(dot)
    return path


def render_png(result: BfsResult, path: str) -> str:
    """Render the BFS graph to PNG via the ``dot`` binary, matching the
    reference's ``os:cmd("dot -Tpng ...")`` step
    (``/root/reference/src/master/graphviz.erl:94-100``; the viewer launch
    on the line after stays out of engine scope). Requires GraphViz on
    PATH — raises ``RuntimeError`` if absent (check ``shutil.which("dot")``
    before calling to degrade gracefully)."""
    import shutil
    import subprocess

    if shutil.which("dot") is None:
        raise RuntimeError(
            "GraphViz 'dot' binary not found on PATH; install graphviz or "
            "use write_dot() and render elsewhere"
        )
    proc = subprocess.run(
        ["dot", "-Tpng", "-o", path],
        input=to_dot(result).encode("utf-8"),
        capture_output=True,
        check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"dot -Tpng failed: {proc.stderr.decode(errors='replace')}")
    return path
