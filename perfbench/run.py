"""The repository benchmark: the co-star service under concurrent clients
(``costar_c4``) and a sequence of registry queries, reads and state-writing
maintenance together (``registry_mix``).

    python3 perfbench/run.py --workload costar_c4 --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout, which also holds the Spark
warehouse, temporary files and (with ``--trace 1``) the event log and
spans. Every output is checked: service replies against a pure-Python
reference BFS, registry results against the DuckDB oracle of each query.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a traced run,
after the same run untraced in a child process, which gives the tracing
overhead.
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import ExitStack

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import imdbgen  # noqa: E402
import stargen  # noqa: E402
from tracing import (  # noqa: E402
    EventLog,
    NullTracer,
    Tracer,
    durations,
    jobs_in_spans,
    spark_metrics,
)

CPUS = min(4, len(os.sched_getaffinity(0)))
CLIENTS = CPUS

# The registry workload: one query of each module the per-layer run
# reports on, reads and the queries that rewrite versioned state beside
# their reads. An even count makes the median the mean of two queries.
REGISTRY = (
    "pricing_summary",  # plans.relational
    "orders_by_month",  # plans.analytics
    "events_rollup_user_erasure",  # plans.events: erasure log + overlap threads
    "copurchase_bfs_l3",  # plans.graph_queries: unipartite _bfs_rounds on silver
    "hll_distinct_users",  # plans.quality
    "simhash_near_dups",  # pipeline.dedup
    "ann_ivf_det_topk",  # pipeline.similarity: persisted IVF index
    "tfidf_top_terms",  # pipeline.text
    "cdc_orders_upsert",  # pipeline.curation: bucketed CDC base (sources.storage)
    "streaming_10min_counts",  # streaming.jobs
)
MODULES = (
    "plans.relational",
    "plans.analytics",
    "plans.graph_queries",
    "plans.quality",
    "plans.events",
    "streaming.jobs",
    "pipeline.dedup",
    "pipeline.similarity",
    "pipeline.text",
    "pipeline.curation",
)
STAR_SF = 0.01
WARMUP_QUERY = "priority_segment_union"  # untimed, warms the JVM read path
# silver tables and the IVF index are keyed by this directory's basename
STAR_DIR_NAME = "perfbench_star"

# costar graph size and request mix
N_TITLES, N_NAMES = 20000, 30000  # ~100k cast edges
LEVEL_PATTERN = (2, 3, 1, 4, 3, 2, 2, 3, 2, 3, 1, 3, 2, 3, 4, 2, 3, 2, 1, 4)
KIND_PATTERN = ("actor", "actor", "movie", "actor", "actor", "actor", "movie", "actor",
                "movie", "actor")
ZIPF_S = 0.8
GOLDEN = 0.6180339887498949
BUDGET_SLOT = 0  # a level-2 request, so every run sends one (see README)
REQUEST_TIMEOUT_S = 120
CHILD_TIMEOUT_S = 170
REQUESTS_PER_RUN = 400


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s), -(-len(s) * pct // 100)) - 1)]


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------- session


def start_spark(run_dir: str, trace: bool):
    """Session start through the package's factory, with every file the
    JVM writes kept under ``run_dir``."""
    from imdb_mapreduce_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": fresh_dir(os.path.join(run_dir, "spark-local")),
        "spark.sql.warehouse.dir": fresh_dir(os.path.join(run_dir, "warehouse")),
        # no hsperfdata file under /tmp: the JVM writes only in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} "
        "-XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + fresh_dir(os.path.join(run_dir, "eventlog")),
        })
    return get_spark("perfbench", master=f"local[{CPUS}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py, jvm = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
    log(f"peak RSS: python {py:.0f} MB, JVM {jvm:.0f} MB")
    return py + jvm


# ----------------------------------------------------------- costar_c4


def make_requests(ref, n: int) -> list[dict]:
    """The request mix. Levels and root types follow fixed interleaved
    patterns (levels 15/35/35/15 % for 1-4, roots 70/30 actor/movie, one
    request in 20 with a budget a quarter of its answer's vertex count),
    and roots are Zipf by degree rank at evenly spread quantiles, so hubs
    are requested most and every few requests carry the whole mix. The
    seed picks the graph; the rank sequence is the same for every seed."""
    ranked = {}
    for kind, adj in (("actor", ref.actor_titles), ("movie", ref.title_actors)):
        by_degree = sorted(adj, key=lambda k: (-len(adj[k]), k))
        cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(by_degree))))
        ranked[kind] = (by_degree, [c / cum[-1] for c in cum])
    out: list[dict] = []
    u = 0.0
    for i in range(n):
        kind = KIND_PATTERN[i % len(KIND_PATTERN)]
        level = LEVEL_PATTERN[i % len(LEVEL_PATTERN)]
        names, cdf = ranked[kind]
        while True:
            u = (u + GOLDEN) % 1.0  # low-discrepancy quantiles
            req = {"name": names[bisect.bisect_left(cdf, u)], "type": kind, "level": level}
            if i % len(LEVEL_PATTERN) != BUDGET_SLOT:
                break
            n_vertices = len(ref.bfs(req["name"], kind, level)[0])
            if n_vertices >= 8:
                req["max_vertices"] = n_vertices // 4
                break
        out.append(req)
    return out


class TracedEngine:
    """What the traced service serves: the engine, with one job group and
    one ``api.request`` span per request set in the handler thread."""

    def __init__(self, engine, tracer) -> None:
        self._engine = engine
        self._tracer = tracer
        self.REQUEST_MAX_VERTICES = engine.REQUEST_MAX_VERTICES

    def request(self, name, node_type, level, max_vertices=None):
        op = self._tracer.start_op(f"costar {node_type} L{level}")
        with self._tracer.span("api.request", op):
            return self._engine.request(name, node_type, level, max_vertices=max_vertices)


class Costar:
    """``costar_c4``: closed-loop clients, one TCP connection each, sending
    the seeded request mix to ``service.ImdbService``."""

    # A run completes one concurrent wave of 4 requests, too few to keep
    # ten samples beyond any tail percentile; the tail is the second
    # highest latency.
    TAIL_PCT = 75

    def __init__(self, seed: int, run_dir: str) -> None:
        self.paths = imdbgen.write_imdb(os.path.join(run_dir, "imdb"), seed, N_TITLES, N_NAMES)
        self.ref = imdbgen.ReferenceGraph(self.paths)
        self.requests = make_requests(self.ref, REQUESTS_PER_RUN)
        self.untimed: list[dict] = []  # none: a run measures the cold wave
        self.server = None
        self.socks: list[socket.socket] = []
        self.conns: list = []

    def setup(self, spark, tracer) -> None:
        """Ingest with cache fill, then the service and one connection per
        client."""
        from imdb_mapreduce_spark.api import ImdbEngine
        from imdb_mapreduce_spark.service import ImdbService

        t = time.perf_counter()
        self.engine = ImdbEngine.from_tsv(
            spark, self.paths["titles"], self.paths["principals"], self.paths["names"]
        )
        n_edges = self.engine.cast_edges.count()  # fills the cache
        self.layer = {"ingest.build_s": time.perf_counter() - t}
        log(f"ingest {self.layer['ingest.build_s']:.2f} s, {n_edges} cast edges")

        self.server = ImdbService(
            TracedEngine(self.engine, tracer) if tracer.enabled else self.engine
        )
        self.server_thread = threading.Thread(target=self.server.serve_forever)
        self.server_thread.start()
        self.socks = [
            socket.create_connection(self.server.server_address, timeout=REQUEST_TIMEOUT_S)
            for _ in range(CLIENTS)
        ]
        self.conns = [sock.makefile("rwb") for sock in self.socks]

    def _send(self, c: int, req: dict) -> dict:
        t0 = time.perf_counter()
        f = self.conns[c]
        try:
            f.write((json.dumps(req) + "\n").encode())
            f.flush()
            line = f.readline()
            reply = json.loads(line) if line else {"error": "client: connection closed"}
        except (OSError, ValueError) as e:
            reply = {"error": f"client: {e!r}"}
        return {"req": req, "client": c, "t0": t0, "lat": time.perf_counter() - t0,
                "reply": reply}

    def window(self, tracer, seconds: float) -> list[dict]:
        """Each client sends its own share of the request sequence until the
        deadline; requests sent before it run to completion and count."""
        from imdb_mapreduce_spark import api

        ops: list[dict] = []
        start = time.perf_counter()
        deadline = start + seconds

        def client(c: int) -> None:
            for i in range(c, REQUESTS_PER_RUN, CLIENTS):
                if time.perf_counter() >= deadline:
                    return
                op = self._send(c, self.requests[i])
                op["end"] = op["t0"] + op["lat"] - start
                ops.append(op)
                if op["reply"].get("error", "").startswith("client"):
                    return

        with ExitStack() as stack:
            if tracer.enabled:
                stack.enter_context(tracer.patched(api, "costar_bfs", "graph.bfs"))
            threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
        return ops

    def close(self) -> None:
        for f in self.conns + self.socks:
            f.close()
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server_thread.join()

    def throughput(self, ops: list[dict]) -> float:
        """Correct replies per second of client time: per client, its
        correct replies over the time to its last reply."""
        total = 0.0
        for c in range(CLIENTS):
            mine = [op for op in ops if op["client"] == c]
            if mine:
                total += sum(op["ok"] for op in mine) / max(op["end"] for op in mine)
        return total

    def check(self, ops: list[dict]) -> None:
        """Sets ``ok`` on every op: its reply against the reference BFS."""
        expected: dict[tuple, dict] = {}
        for op in ops:
            req = op["req"]
            key = (req["name"], req["type"], req["level"], req.get("max_vertices"))
            if key not in expected:
                expected[key] = self.ref.expected_reply(req)
            op["ok"] = imdbgen.reply_matches(expected[key], op["reply"])
            if not op["ok"]:
                log(f"wrong reply to {req}: {str(op['reply'])[:300]}")

    def layers(self, ops: list[dict], spans: list[dict], event_log) -> dict:
        api_s = durations(spans, "api.request")
        bfs_s = durations(spans, "graph.bfs")
        req_jobs = jobs_in_spans(event_log, spans, "api.request")
        bfs_jobs = jobs_in_spans(event_log, spans, "graph.bfs")
        replies = [op["reply"] for op in ops]
        rt = [op["lat"] for op in ops]
        return {
            "service.roundtrip_s": statistics.median(rt),
            "service.overhead_s": statistics.fmean(rt) - statistics.fmean(api_s.values()),
            "api.request_s": statistics.median(api_s.values()),
            "api.budget_rejected": sum("error" in r for r in replies),
            "graph.bfs_s": statistics.median(bfs_s.values()),
            "graph.rounds": statistics.fmean(
                max((e[2] for e in r.get("edges", [])), default=0) for r in replies
            ),
            "graph.vertices": statistics.fmean(len(r.get("vertices", [])) for r in replies),
            "graph.jobs_per_op": statistics.fmean(bfs_jobs[op] for op in api_s),
            "export.fetch_s": statistics.median(api_s[op] - bfs_s[op] for op in api_s),
            "export.jobs_per_op": statistics.fmean(req_jobs[op] - bfs_jobs[op] for op in api_s),
        }


# ------------------------------------------------------------ registry


def _canon(v):
    """A sortable, exact stand-in for one collected value: floats by their
    bits, so -0.0, NaN and last-ulp differences all count."""
    if v is None:
        return ("",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", v.hex())
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("dict", tuple(sorted((str(k), _canon(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    from decimal import Decimal

    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()) if v else "0")
    return (type(v).__name__, str(v))


def canonical(columns: list[str], rows) -> tuple:
    """Column names and rows, both sorted: an order-insensitive result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        tuple(columns[i] for i in order),
        tuple(sorted(tuple(_canon(r[i]) for i in order) for r in rows)),
    )


class Registry:
    """One client running registry queries in sequence: each op is one
    ``spark_fn`` call plus its ``collect()``."""

    # One pass of 10 ops per run; the tail is the second slowest query.
    # p75 would fall between mid-cost queries whose order changes from
    # run to run.
    TAIL_PCT = 90

    def __init__(self, seed: int, run_dir: str) -> None:
        self.sf_dir = stargen.write_star(
            os.path.join(run_dir, STAR_DIR_NAME), seed, STAR_SF
        )
        self.untimed: list[dict] = []

    def setup(self, spark, tracer) -> None:
        """The untimed warm-up query, after deleting the persisted state of
        these inputs so that every run starts from the same cache state."""
        from imdb_mapreduce_spark.plans.registry import all_queries

        self.spark = spark
        for kind in ("silver", "ivf"):
            shutil.rmtree(os.path.join(ROOT, "spark-warehouse", kind, STAR_DIR_NAME),
                          ignore_errors=True)
        registry = all_queries()
        self.queries = [registry[q] for q in REGISTRY]
        t = time.perf_counter()
        self.untimed.append(self._op(registry[WARMUP_QUERY], tracer))
        self.layer = {"warmup.query_s": time.perf_counter() - t}

    def window(self, tracer, seconds: float) -> list[dict]:
        """Whole passes over the query list until the deadline, so every
        query weighs the same in every statistic. The first pass is each
        query's first run in the session: it builds the silver tables and
        the IVF index."""
        from imdb_mapreduce_spark.sources import silver

        ops: list[dict] = []
        deadline = time.perf_counter() + seconds
        with ExitStack() as stack:
            if tracer.enabled:
                for fn in ("materialized", "materialized_bucketed"):
                    stack.enter_context(tracer.patched(silver, fn, "silver.build"))
            while time.perf_counter() < deadline:
                ops.extend(self._op(q, tracer) for q in self.queries)
        return ops

    def _op(self, q, tracer) -> dict:
        op = tracer.start_op(q.name)
        t0 = time.perf_counter()
        try:
            with tracer.span("query.call", op):
                df = q.spark_fn(self.spark, self.sf_dir)
            with tracer.span("query.collect", op):
                rows = df.collect()
            lat = time.perf_counter() - t0
            result = canonical(df.columns, rows)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            lat = time.perf_counter() - t0
            log(f"{q.name} raised {type(e).__name__}: {e}")
            result = None
        return {"query": q, "lat": lat, "result": result, "op": op}

    def close(self) -> None:
        pass

    def throughput(self, ops: list[dict]) -> float:
        """Correct ops per second of a pass: the query count over the sum
        of each query's mean latency, so where the deadline cuts a pass
        does not weigh one query more than another."""
        lat: dict[str, list[float]] = {}
        for op in ops:
            lat.setdefault(op["query"].name, []).append(op["lat"])
        ok_share = sum(op["ok"] for op in ops) / len(ops)
        return ok_share * len(lat) / sum(statistics.fmean(v) for v in lat.values())

    def check(self, ops: list[dict]) -> None:
        """Sets ``ok`` on every op: its collected result against the
        query's DuckDB oracle, which runs once per query."""
        import duckdb

        con = duckdb.connect()
        for t in stargen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
            )
        oracle: dict[str, tuple] = {}
        for op in ops:
            q = op["query"]
            if q.name not in oracle:
                cur = con.execute(q.oracle)
                oracle[q.name] = canonical([d[0] for d in cur.description], cur.fetchall())
            op["ok"] = op["result"] == oracle[q.name]
            if not op["ok"]:
                got = op["result"]
                log(f"{q.name} differs from its oracle: "
                    f"{'raised' if got is None else (got[0], len(got[1]))} vs "
                    f"{(oracle[q.name][0], len(oracle[q.name][1]))}")
        con.close()

    def layers(self, ops: list[dict], spans: list[dict], event_log) -> dict:
        call = durations(spans, "query.call")
        collect = durations(spans, "query.collect")
        call_jobs = jobs_in_spans(event_log, spans, "query.call")
        collect_jobs = jobs_in_spans(event_log, spans, "query.collect")
        passes = len(ops) / len(self.queries)
        out = {
            "silver.build_s": sum(durations(spans, "silver.build").values()) / passes,
            "query.call_s": statistics.median(call.values()),
            "query.collect_s": statistics.median(collect.values()),
            "query.call_jobs": statistics.fmean(call_jobs[op["op"]] for op in ops),
            "query.collect_jobs": statistics.fmean(collect_jobs[op["op"]] for op in ops),
        }
        for module in MODULES:
            out[f"{module}.wall_s"] = sum(
                op["lat"] for op in ops
                if op["query"].spark_fn.__module__ == f"imdb_mapreduce_spark.{module}"
            ) / passes
        return out


# ---------------------------------------------------------------- main

WORKLOADS = {"costar_c4": Costar, "registry_mix": Registry}

def end_to_end(wl, ops: list[dict], wall: float) -> dict:
    lat = [op["lat"] for op in ops]
    tail = percentile(lat, wl.TAIL_PCT)
    log(f"{len(ops)} ops in {wall:.1f} s; tail p{wl.TAIL_PCT} has "
        f"{sum(x > tail for x in lat)} samples beyond it; "
        f"latencies {[round(x, 2) for x in sorted(lat)]}")
    return {
        "ops_per_s": wl.throughput(ops),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    untraced = None
    if args.trace:
        # the same run untraced, first and in its own process, for the
        # tracing overhead
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, check=True, timeout=CHILD_TIMEOUT_S,
        )
        untraced = json.loads(child.stdout.decode().strip().splitlines()[-1])

    run_dir = fresh_dir(os.path.join(WORK, args.workload))
    os.environ["TMPDIR"] = fresh_dir(os.path.join(run_dir, "tmp"))
    os.environ["TZ"] = "UTC"
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # the package's default heap
    time.tzset()
    tempfile.tempdir = None
    os.chdir(run_dir)

    # input generation and the reference answers are the benchmark's own
    # work, done before the set-up clock starts
    wl = WORKLOADS[args.workload](args.seed, run_dir)

    t = time.perf_counter()
    spark = start_spark(run_dir, bool(args.trace))
    session_s = time.perf_counter() - t
    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    try:
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t
        if tracer.enabled:
            tracer.spans.clear()  # only timed ops have spans
        start_epoch, t = time.time(), time.perf_counter()
        ops = wl.window(tracer, args.seconds)
        wall, interval = time.perf_counter() - t, (start_epoch, time.time())
        rss = peak_rss_mb(spark)
    finally:
        wl.close()
        stop_spark(spark)

    checked = wl.untimed + ops
    wl.check(checked)
    failed = sum(not op["ok"] for op in checked)
    if args.trace:
        event_log = EventLog(os.path.join(run_dir, "eventlog"))
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
        rate = wl.throughput(ops)
        metrics = {
            # layers the workload does not exercise read 0
            **{m["name"]: 0.0 for m in spec["per_layer"]},
            "session.start_s": session_s,
            "peak_rss_mb": rss,
            **wl.layer,
            **wl.layers(ops, tracer.spans, event_log),
            **spark_metrics(event_log, interval, len(ops), CPUS),
            "failed_ratio": failed / len(checked),
            "trace.ops_per_s": rate,
            "trace.overhead_frac": 1.0 - rate / untraced["metrics"]["ops_per_s"]["value"],
        }
        failed += untraced["failed"]
    else:
        metrics = {**end_to_end(wl, ops, wall), "setup_s": setup_s}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked) + (untraced["attempted"] if untraced else 0),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
