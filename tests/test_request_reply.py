"""The interactive reply ``{Vertices, Edges}`` (``master.erl:261-263``):
display order, edge order, the DOT text built from the same fetch, the
Spark jobs of the fetch after the BFS (one; none for a level-1 reply), and
the DOT export's vertex budget.

Runs on the conftest ``imdb_dir`` cast graph plus one extra title, Zeta,
whose cast "Ann O'Hara" shares a surname with "Bob O'Hara" (the
same-surname tiebreak). The graph is then:

    Alpha Zero 0: John Q. Smith 0, Jane Doe    Beta!: Jane Doe, Bob O'Hara
    Gamma: Bob O'Hara                          Epsilon: John Q. Smith 0
    Zeta: Bob O'Hara, Ann O'Hara

where the two "John Q. Smith 0" namesakes (one in Alpha, one in Epsilon)
are one vertex, as in the reference's name-keyed tables.
"""

from __future__ import annotations

import uuid

import pytest

from imdb_mapreduce_spark import api
from imdb_mapreduce_spark.operators.graph import BfsBudgetExceeded

JANE, JOHN, BOB, ANN = "Jane Doe", "John Q. Smith 0", "Bob O'Hara", "Ann O'Hara"


@pytest.fixture(scope="module")
def engine(spark, cast_edges):
    zeta = spark.createDataFrame(
        [(6, "Zeta", BOB), (6, "Zeta", ANN)], cast_edges.schema
    )
    eng = api.ImdbEngine(cast_edges.unionByName(zeta))
    yield eng
    eng.unpersist()


@pytest.mark.parametrize(
    "name, node_type, level, vertices, edges",
    [
        # actors by (surname, name): "0" < "Doe" < "O'Hara"; Ann before Bob
        (
            JANE, "actor", 3,
            [JOHN, JANE, ANN, BOB],
            [(JANE, BOB, 1), (JANE, JOHN, 1), (BOB, ANN, 2)],
        ),
        # the root is not listed first; both namesakes' movies are reached
        (
            JOHN, "actor", 4,
            [JOHN, JANE, ANN, BOB],
            [(JOHN, JANE, 1), (JANE, BOB, 2), (BOB, ANN, 3)],
        ),
        (JOHN, "actor", 1, [JOHN], []),
        # movies by name; (level, src, dst) puts the level-1 edge first
        (
            "Epsilon", "movie", 4,
            ["Alpha Zero 0", "Beta!", "Epsilon", "Gamma", "Zeta"],
            [
                ("Epsilon", "Alpha Zero 0", 1),
                ("Alpha Zero 0", "Beta!", 2),
                ("Beta!", "Gamma", 3),
                ("Beta!", "Zeta", 3),
            ],
        ),
    ],
)
def test_request_display_order(engine, name, node_type, level, vertices, edges):
    assert engine.request(name, node_type, level) == (vertices, edges)


def test_dot_children_follow_display_order(engine):
    assert engine.to_dot(JANE, "actor", 3).splitlines() == [
        "digraph G {",
        '  label="Jane Doe (level graph)";',
        '  Jane_Doe [label="Jane Doe"];',
        "  Jane_Doe -> John_Q__Smith_0;",
        '  John_Q__Smith_0 [label="John Q. Smith 0"];',
        "  Jane_Doe -> Bob_O_Hara;",
        '  Bob_O_Hara [label="Bob O\'Hara"];',
        "  Bob_O_Hara -> Ann_O_Hara;",
        '  Ann_O_Hara [label="Ann O\'Hara"];',
        "}",
    ]


@pytest.mark.parametrize("export", ["request", "to_dot"])
@pytest.mark.parametrize("level, jobs", [(3, 1), (1, 0)])
def test_result_fetch_spark_jobs(engine, spark, monkeypatch, export, level, jobs):
    """Every job after the BFS returns runs in a fresh job group; the
    fetch and ordering of the reply must be exactly one of them, and none
    for a level-1 reply (the root alone, no expansion round)."""
    sc = spark.sparkContext
    group = f"fetch-{uuid.uuid4().hex}"
    bfs = api.costar_bfs

    def bfs_then_tag(*args, **kwargs):
        res = bfs(*args, **kwargs)
        sc.setJobGroup(group, "result fetch")
        return res

    monkeypatch.setattr(api, "costar_bfs", bfs_then_tag)
    try:
        getattr(engine, export)(JANE, "actor", level)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_to_dot_is_budgeted(engine, monkeypatch):
    monkeypatch.setattr(engine, "REQUEST_MAX_VERTICES", 1)
    with pytest.raises(BfsBudgetExceeded):
        engine.to_dot(JANE, "actor", 2)
