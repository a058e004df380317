"""User-facing engine API — the drop-in replacement for the reference's
client surface.

Reference lifecycle (SURVEY.md §3): start master + workers, stream three
TSVs through the scatter protocol, then issue
``#request{name, type ∈ {movie, actor}, level ∈ 1..4}`` via the GUI client
(``/root/reference/src/client/client.erl:80-94``) and receive
``{Vertices, Edges}`` (``src/master/master.erl:261-263``) plus a rendered
PNG. Here the same session is:

    eng = ImdbEngine.from_tsv(spark, basics, principals, names)   # "ingest"
    vertices, edges = eng.request("Name", "actor", level=3)        # query
    eng.to_dot(...)                                                # render

plus the persistence the reference got from snapshot replication:
``eng.save(path)`` / ``ImdbEngine.load(spark, path)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from imdb_mapreduce_spark.ingest import (
    actor_to_movies,
    build_cast_edges,
    movie_to_cast,
)
from imdb_mapreduce_spark.operators import graph_export
from imdb_mapreduce_spark.operators.graph import BfsResult, costar_bfs
from imdb_mapreduce_spark.operators.lookup import cast_of, movies_of
from imdb_mapreduce_spark.sources.imdb import (
    read_names_tsv,
    read_prejoined_csv,
    read_principals_tsv,
    read_titles_tsv,
)


class ImdbEngine:
    """The engine over one silver ``cast_edges`` table (tconst, title,
    actor). Keep ``cache=True`` for interactive query latency (the
    reference holds everything in ETS RAM; we make that an explicit,
    droppable choice)."""

    def __init__(self, cast_edges: DataFrame, cache: bool = True):
        self.cast_edges = cast_edges.cache() if cache else cast_edges

    # -- construction ------------------------------------------------------

    @classmethod
    def from_tsv(
        cls,
        spark: SparkSession,
        basics_path: str,
        principals_path: str,
        names_path: str,
        cache: bool = True,
    ) -> "ImdbEngine":
        """The three-file ETL (reference §3.2, minus the scatter protocol)."""
        edges = build_cast_edges(
            read_titles_tsv(spark, basics_path),
            read_principals_tsv(spark, principals_path),
            read_names_tsv(spark, names_path),
        )
        return cls(edges, cache=cache)

    @classmethod
    def from_prejoined(
        cls, spark: SparkSession, path: str, cache: bool = True
    ) -> "ImdbEngine":
        """The step0 pre-joined path (reference §3.3): title→cast CSV."""
        from pyspark.sql import functions as F

        wide = read_prejoined_csv(spark, path)
        # id assigned BEFORE the explode: Catalyst evaluates expressions in
        # the same select above the Generate, which would mint a distinct
        # id per exploded (title, actor) row instead of per title
        edges = wide.withColumn("tconst", F.monotonically_increasing_id()).select(
            "tconst", "title", F.explode("cast").alias("actor")
        )
        return cls(edges, cache=cache)

    @classmethod
    def load(cls, spark: SparkSession, path: str, cache: bool = True) -> "ImdbEngine":
        return cls(spark.read.parquet(path), cache=cache)

    def save(self, path: str) -> None:
        self.cast_edges.write.mode("overwrite").parquet(path)

    # -- queries (the reference's full interactive surface) ----------------

    # Service-grade request budget (VERDICT r05 item 8): the traversal
    # aborts between rounds once it has reached this many vertices — the
    # bounded-failure analog of the reference master's 10 s pcall timeout
    # (master.erl:240). A request that would collect an unbounded graph
    # fails fast with a clear error instead of stalling the service.
    REQUEST_MAX_VERTICES = 100_000

    def request(
        self,
        name: str,
        node_type: str = "actor",
        level: int = 2,
        max_vertices: int | None = REQUEST_MAX_VERTICES,
    ) -> tuple[list[str], list[tuple[str, str, int]]]:
        """The flagship query, reference reply shape ``{Vertices, Edges}``
        (``master.erl:263``): display-sorted vertices + (src, dst, level)
        edges. One collect — the result is bounded by the ``max_vertices``
        budget (pass ``None`` for an explicitly unbounded batch use)."""
        return graph_export.fetch(self.request_df(name, node_type, level, max_vertices))

    def request_df(
        self,
        name: str,
        node_type: str = "actor",
        level: int = 2,
        max_vertices: int | None = None,
    ) -> BfsResult:
        """Same query, distributed result (no collect) for composition —
        unbudgeted by default (a DataFrame consumer composes further
        instead of collecting)."""
        return costar_bfs(
            self.cast_edges, name, node_type, level, max_vertices=max_vertices
        )

    def cast_of(self, title: str) -> DataFrame:
        return cast_of(self.cast_edges, title)

    def movies_of(self, actor: str) -> DataFrame:
        return movies_of(self.cast_edges, actor)

    def movie_adjacency(self) -> DataFrame:
        """title → sorted cast array (reference ``titles_db`` view)."""
        return movie_to_cast(self.cast_edges)

    def actor_adjacency(self) -> DataFrame:
        """actor → sorted titles array (reference ``actors_db`` view)."""
        return actor_to_movies(self.cast_edges)

    def to_dot(self, name: str, node_type: str = "actor", level: int = 2) -> str:
        """DOT text of the request graph (reference's PNG pipeline minus
        the GraphViz shell-out, which stays outside the engine), under the
        same vertex budget as :meth:`request`."""
        return graph_export.to_dot(
            self.request_df(name, node_type, level, self.REQUEST_MAX_VERTICES)
        )

    def unpersist(self) -> None:
        self.cast_edges.unpersist()
