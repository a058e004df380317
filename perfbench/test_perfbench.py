"""Self-tests for the benchmark's own generators, reference BFS and result
comparison. Run from the root of a checkout:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import socket
import sys
import threading

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import imdbgen  # noqa: E402
import stargen  # noqa: E402
from run import canonical, make_requests  # noqa: E402


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _principals(paths):
    with open(paths["principals"], encoding="utf-8") as f:
        next(f)
        return [line.rstrip("\n").split("\t") for line in f]


@pytest.fixture(scope="module")
def imdb(tmp_path_factory):
    paths = imdbgen.write_imdb(str(tmp_path_factory.mktemp("imdb")), 5, 300, 400)
    return paths, imdbgen.ReferenceGraph(paths)


def test_imdb_generator_is_seeded(tmp_path):
    a = imdbgen.write_imdb(str(tmp_path / "a"), 3, 200, 250)
    b = imdbgen.write_imdb(str(tmp_path / "b"), 3, 200, 250)
    c = imdbgen.write_imdb(str(tmp_path / "c"), 4, 200, 250)
    for k in a:
        assert _read(a[k]) == _read(b[k])
    assert _read(a["principals"]) != _read(c["principals"])


def test_imdb_generator_has_the_hard_cases(imdb):
    paths, ref = imdb
    with open(paths["names"], encoding="utf-8") as f:
        first = f.readline()
        names = [first] + f.readlines()
    assert first.startswith("nm0000000\t")  # names file has no header row
    primary = [line.split("\t")[1] for line in names]
    assert len(set(primary)) < len(primary)  # namesakes
    with open(paths["titles"], encoding="utf-8") as f:
        next(f)
        originals = [line.split("\t")[3] for line in f]
    assert len(set(originals)) < len(originals)  # duplicate original titles
    rows = _principals(paths)
    assert any(r[3] not in imdbgen.ACTING for r in rows)
    known = {line.split("\t")[0] for line in names}
    assert any(r[2] not in known for r in rows)  # unknown nconst
    cast = sorted(len(v) for v in ref.title_actors.values())
    assert cast[-1] >= 5 * cast[len(cast) // 2]  # heavy-tailed cast sizes
    degree = sorted(len(v) for v in ref.actor_titles.values())
    assert degree[-1] >= 10 * degree[len(degree) // 2]  # hub actors


def test_reference_bfs_min_parent_and_visited_set():
    ref = imdbgen.ReferenceGraph.__new__(imdbgen.ReferenceGraph)
    # R and X both reach C in round 2; C attaches to its minimum parent.
    ref.actor_titles = {"R": {"t1", "t2"}, "A": {"t1", "t3"}, "X": {"t2", "t3"},
                        "C": {"t3"}}
    ref.title_actors = {"t1": {"R", "A"}, "t2": {"R", "X"}, "t3": {"A", "X", "C"}}
    vertices, edges = ref.bfs("R", "actor", 3)
    assert edges == [("R", "A", 1), ("R", "X", 1), ("A", "C", 2)]
    assert set(vertices) == {"R", "A", "X", "C"}
    assert ref.bfs("R", "actor", 1) == (["R"], [])


def test_reference_matches_engine(spark, imdb):
    from imdb_mapreduce_spark.api import ImdbEngine
    from imdb_mapreduce_spark.operators.graph import BfsBudgetExceeded

    paths, ref = imdb
    engine = ImdbEngine.from_tsv(spark, paths["titles"], paths["principals"], paths["names"])
    requests = make_requests(ref, 24)
    assert any("max_vertices" in r for r in requests)
    for req in requests:
        want = ref.expected_reply(req)
        try:
            vertices, edges = engine.request(
                req["name"], req["type"], req["level"],
                max_vertices=req.get("max_vertices", engine.REQUEST_MAX_VERTICES),
            )
            got = {"vertices": vertices, "edges": [list(e) for e in edges]}
        except BfsBudgetExceeded as e:
            got = {"error": f"{type(e).__name__}: {e}"}
        assert imdbgen.reply_matches(want, got), req
    engine.unpersist()


def test_reference_matches_service_reply(spark, imdb):
    from imdb_mapreduce_spark.api import ImdbEngine
    from imdb_mapreduce_spark.service import ImdbService

    paths, ref = imdb
    engine = ImdbEngine.from_tsv(spark, paths["titles"], paths["principals"], paths["names"])
    server = ImdbService(engine)
    thread = threading.Thread(target=server.serve_forever)
    thread.start()
    try:
        hub = max(ref.actor_titles, key=lambda a: (len(ref.actor_titles[a]), a))
        with socket.create_connection(server.server_address, timeout=120) as sock:
            f = sock.makefile("rwb")
            for req in ({"name": hub, "type": "actor", "level": 3},
                        {"name": hub, "type": "actor", "level": 3, "max_vertices": 2}):
                f.write((json.dumps(req) + "\n").encode())
                f.flush()
                reply = json.loads(f.readline())
                assert imdbgen.reply_matches(ref.expected_reply(req), reply), req
    finally:
        server.shutdown()
        server.server_close()
        thread.join()
        engine.unpersist()


def test_star_generator_is_seeded_and_typed(tmp_path):
    a = stargen.write_star(str(tmp_path / "a"), 1, 0.0005)
    b = stargen.write_star(str(tmp_path / "b"), 1, 0.0005)
    for t in stargen.TABLES:
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
        assert ta.num_rows > 0
    events = pq.read_schema(os.path.join(a, "events.parquet"))
    assert str(events.field("ts").type) == "timestamp[ns]"
    emb = pq.read_table(os.path.join(a, "embeddings.parquet")).column("embedding")
    assert len(emb[0]) == stargen.EMBED_DIM


def test_canonical_is_order_insensitive_and_exact():
    assert canonical(["b", "a"], [(1, "x"), (2, "y")]) == canonical(["a", "b"], [("y", 2), ("x", 1)])
    assert canonical(["a"], [(0.0,)]) != canonical(["a"], [(-0.0,)])
    assert canonical(["a"], [(0.1 + 0.2,)]) != canonical(["a"], [(0.3,)])
    assert canonical(["a"], [(1,)]) != canonical(["a"], [(1.0,)])


@pytest.fixture(scope="module")
def spark():
    from imdb_mapreduce_spark.session import get_spark

    session = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield session
    session.stop()
