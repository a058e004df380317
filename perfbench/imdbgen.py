"""Seeded synthetic IMDb inputs and the pure-Python reference co-star BFS.

``write_imdb`` writes the three TSVs in the reference's formats (titles and
principals with a header row, names without one, ``\\N`` for NULL) with the
properties the engine's behaviour depends on:

- power-law cast sizes and power-law actor popularity, so a few hub titles
  and hub actors dominate the expansion work;
- namesakes (distinct ``nconst`` sharing one ``primaryName``) and duplicate
  original titles, which the engine merges into one vertex;
- non-acting principals (filtered out) and principals whose ``nconst`` is
  not in the names file (dropped by the inner join);
- names and titles with punctuation and the digit 0.

``ReferenceGraph`` rebuilds the engine's ``cast_edges`` semantics in plain
Python and answers a request exactly as ``ImdbEngine.request`` should:
one global visited set, each child attached to its minimum discovering
parent, level k = k-1 rounds, vertices in display order (movies by title,
actors by surname then name) and edges ordered by (level, src, dst).
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
from collections import defaultdict

ACTING = ("actor", "actress")
NON_ACTING = ("director", "writer", "producer", "self", "composer")
TITLE_TYPES = ("movie", "short", "tvSeries", "tvEpisode", "video")
GENRES = ("Drama", "Comedy", "Action", "Horror", "Romance", "Documentary", "Crime")
FIRST = (
    "Ada", "Bea", "Cy", "Dov", "Eli", "Fay", "Gus", "Hal", "Ida", "Jo", "Kai",
    "Lea", "Max", "Nia", "Oz", "Pia", "Quin", "Rae", "Sol", "Tia", "Uma", "Vic",
    "Wes", "Xia", "Yan", "Zoe", "Mary-Ann", "J.", "D'Arcy",
)
LAST = (
    "Abe", "Baker", "Cole", "Diaz", "Ernst", "Fox", "Gray", "Hart", "Ito",
    "Jones", "Khan", "Lund", "Moss", "Nair", "O'Hara", "Park", "Quist", "Ruiz",
    "Sato", "Tran", "Ueda", "Vidal", "Wolfe", "Xu", "Young", "Zhou", "Smith 0",
    "van Dyke", "St. John",
)
WORDS = (
    "Night", "River", "Echo", "Zero", "Blue", "Last", "Iron", "Glass", "Storm",
    "Garden", "Signal", "North", "Paper", "Moon", "Silent", "Golden", "Wild",
    "Empire", "Mirror", "Road", "Dust", "Fire", "0", "II", "Part 2", "Love!",
)

UNKNOWN_NCONST_BASE = 9_000_000
MEAN_CAST = 7.0  # scale of the Pareto cast-size draw


def write_imdb(
    out_dir: str,
    seed: int,
    n_titles: int,
    n_names: int,
) -> dict[str, str]:
    """Write ``titles.tsv``, ``principals.tsv`` and ``names.tsv`` under
    ``out_dir``; the same arguments always give byte-identical files."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    names: list[str] = []
    for i in range(n_names):
        if names and rng.random() < 0.03:
            names.append(rng.choice(names))  # namesake: a second person, same name
        elif rng.random() < 0.04:
            names.append(rng.choice(LAST))  # single-token name
        else:
            names.append(f"{rng.choice(FIRST)} {rng.choice(LAST)} {i % 97}")

    titles: list[str] = []
    for i in range(n_titles):
        if titles and rng.random() < 0.04:
            titles.append(rng.choice(titles))  # duplicate original title
        else:
            k = rng.randint(1, 3)
            titles.append(" ".join(rng.choice(WORDS) for _ in range(k)) + f" {i}")

    # actor popularity: rank-Zipf over a shuffled id order, so hubs are
    # spread over the id space instead of being the first ids
    actor_ids = list(range(n_names))
    rng.shuffle(actor_ids)
    cum = list(itertools.accumulate(1.0 / (rank + 1) ** 0.9 for rank in range(n_names)))

    paths = {
        "titles": os.path.join(out_dir, "titles.tsv"),
        "principals": os.path.join(out_dir, "principals.tsv"),
        "names": os.path.join(out_dir, "names.tsv"),
    }
    with open(paths["titles"], "w", encoding="utf-8") as f:
        f.write(
            "tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\t"
            "startYear\tendYear\truntimeMinutes\tgenres\n"
        )
        for i, t in enumerate(titles):
            year = "\\N" if rng.random() < 0.05 else str(rng.randint(1920, 2024))
            genres = ",".join(rng.sample(GENRES, rng.randint(1, 3)))
            f.write(
                f"tt{i:07d}\t{rng.choice(TITLE_TYPES)}\t{t.upper()}\t{t}\t"
                f"{int(rng.random() < 0.02)}\t{year}\t\\N\t{rng.randint(5, 200)}\t{genres}\n"
            )
    with open(paths["principals"], "w", encoding="utf-8") as f:
        f.write("tconst\tordering\tnconst\tcategory\tjob\tcharacters\n")
        for i in range(n_titles):
            # power-law cast size: Pareto tail around the mean
            cast = max(1, int(rng.paretovariate(1.6) * MEAN_CAST * 0.4))
            cast = min(cast, 60)
            members = {
                actor_ids[bisect.bisect_left(cum, rng.random() * cum[-1])]
                for _ in range(cast)
            }
            ordering = 0
            for m in sorted(members):
                ordering += 1
                cat = rng.choice(ACTING) if rng.random() < 0.85 else rng.choice(NON_ACTING)
                chars = '["Role"]' if cat in ACTING else "\\N"
                f.write(f"tt{i:07d}\t{ordering}\tnm{m:07d}\t{cat}\t\\N\t{chars}\n")
            if rng.random() < 0.05:
                ordering += 1
                ghost = UNKNOWN_NCONST_BASE + rng.randint(0, 9999)
                f.write(f"tt{i:07d}\t{ordering}\tnm{ghost:07d}\tactor\t\\N\t\\N\n")
    with open(paths["names"], "w", encoding="utf-8") as f:
        for i, n in enumerate(names):
            death = "\\N" if rng.random() < 0.9 else str(rng.randint(1990, 2024))
            f.write(
                f"nm{i:07d}\t{n}\t{rng.randint(1900, 2005)}\t{death}\t"
                f"actor,producer\ttt{rng.randrange(n_titles):07d}\n"
            )
    return paths


class ReferenceGraph:
    """The bipartite title↔actor graph, keyed by display strings exactly as
    the engine's ``cast_edges`` (original title, primary name)."""

    def __init__(self, paths: dict[str, str]):
        titles: dict[str, str] = {}
        with open(paths["titles"], encoding="utf-8") as f:
            next(f)
            for line in f:
                cols = line.rstrip("\n").split("\t")
                titles[cols[0]] = cols[3]
        names: dict[str, str] = {}
        with open(paths["names"], encoding="utf-8") as f:
            for line in f:
                cols = line.rstrip("\n").split("\t")
                names[cols[0]] = cols[1]
        self.actor_titles: dict[str, set[str]] = defaultdict(set)
        self.title_actors: dict[str, set[str]] = defaultdict(set)
        with open(paths["principals"], encoding="utf-8") as f:
            next(f)
            for line in f:
                tconst, _, nconst, category = line.split("\t", 4)[:4]
                if category not in ACTING or nconst not in names or tconst not in titles:
                    continue
                title, actor = titles[tconst], names[nconst]
                self.actor_titles[actor].add(title)
                self.title_actors[title].add(actor)

    def adjacency(self, node_type: str):
        if node_type == "actor":
            return self.actor_titles, self.title_actors
        return self.title_actors, self.actor_titles

    def bfs(self, root: str, node_type: str, level: int):
        """(vertices in display order, edges as (src, dst, level) sorted by
        (level, src, dst))."""
        out, back = self.adjacency(node_type)
        visited = {root}
        frontier = {root}
        edges: list[tuple[str, str, int]] = []
        for lvl in range(1, level):
            parent: dict[str, str] = {}
            for src in frontier:
                for via in out.get(src, ()):
                    for dst in back[via]:
                        if dst != src and (dst not in parent or src < parent[dst]):
                            parent[dst] = src
            children = {d: s for d, s in parent.items() if d not in visited}
            if not children:
                break
            edges.extend((s, d, lvl) for d, s in children.items())
            visited.update(children)
            frontier = set(children)
        vertices = sorted(visited, key=_actor_key if node_type == "actor" else None)
        edges.sort(key=lambda e: (e[2], e[0], e[1]))
        return vertices, edges

    def expected_reply(self, req: dict) -> dict:
        """The one correct service reply for ``req``: the graph, or (when
        the answer has more vertices than the request's budget) an error."""
        vertices, edges = self.bfs(req["name"], req["type"], req["level"])
        budget = req.get("max_vertices")
        if budget is not None and len(vertices) > budget:
            return {"error": "BfsBudgetExceeded"}
        return {"vertices": vertices, "edges": [list(e) for e in edges]}


def _actor_key(name: str) -> tuple[str, str]:
    """Display order of actors: surname (last space-separated token), then
    the whole name."""
    return (name.split(" ")[-1], name)


def reply_matches(expected: dict, reply: dict) -> bool:
    """Exact match; a budget error matches any ``BfsBudgetExceeded`` reply
    (its message carries the engine's own round counts)."""
    if "error" in expected:
        return str(reply.get("error", "")).startswith("BfsBudgetExceeded")
    return reply == expected
