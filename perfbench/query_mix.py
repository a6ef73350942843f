"""`query_mix`: catalog queries over the sf0.1 fixture, closed loop, one
client. Each round runs every query once in an order drawn from the seed;
one op is one query forced with `.count()`.

`sf0.1/` beside this file holds the tables these queries read, copied
unchanged from the repository's sf0.1 test data (events 100k rows,
lineitem 600k, orders 150k, customer 15k, documents 5k, embeddings 2k).

`streaming_next_event` replays the events table through the streaming
layer (file source, `applyInPandasWithState`, state store, per-batch
commit); its micro-batch progress is read from a `StreamingQueryListener`.

Every query is checked against DuckDB over the same tables. The oracle
results do not depend on the seed, so they are built once per checkout
under `.bench_work/` and reused.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
import time
from pathlib import Path

from perfbench import reference
from perfbench.common import WORK, log

QUERIES = [
    "next_event",
    "pricing_summary",
    "dim_join_left",
    "flatten_props",
    "topk_orders",
    "flight_enrichment",
    "minhash_pairs",
    "embedding_topk",
    "dedup_clusters_exact",
    "simhash_pairs",
    "streaming_next_event",
]
SF_DIR = Path(__file__).resolve().parent / "sf0.1"
TABLES = ["events", "lineitem", "orders", "customer", "documents", "embeddings"]
MIN_ROUNDS = 1

#: The catalog's minhash_pairs oracle compares every pair of documents and
#: takes over 150 s on 4 threads at sf0.1. This one counts the shingles
#: two documents share through a join on the shingle, over the catalog's
#: own shingle sets; pairs sharing none cannot reach the threshold, and
#: for distinct sets |a ∪ b| = |a| + |b| - |a ∩ b|, so rows and values are
#: the same.
_MINHASH_PAIRS_BY_SHINGLE = """
    , g AS (SELECT doc_id, unnest(s) AS g, len(s) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS k,
             any_value(a.n) + any_value(b.n) AS nn
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, k::DOUBLE / (nn - k) AS jaccard
    FROM inter WHERE k::DOUBLE / (nn - k) >= 0.3
"""


def oracle_sql(name: str) -> str:
    from flight_data_ingestion_engine_spark import queries_catalog as qc

    if name == "minhash_pairs":
        return qc._SHINGLE_SQL + _MINHASH_PAIRS_BY_SHINGLE
    return qc.ORACLE_SQL[name]


def ensure_oracles() -> Path:
    """One DuckDB result parquet per query, keyed on the oracle SQL and
    the fixture; built atomically."""
    import duckdb

    h = hashlib.sha256()
    for q in QUERIES:
        h.update(oracle_sql(q).encode())
    for t in TABLES:
        h.update(f"{t}:{(SF_DIR / f'{t}.parquet').stat().st_size}".encode())
    final = WORK / f"query_oracle-{h.hexdigest()[:12]}"
    if (final / "_done").exists():
        return final
    tmp = WORK / f"query_oracle.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.perf_counter()
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        for q in QUERIES:
            con.execute(oracle_sql(q)).fetchdf().to_parquet(tmp / f"{q}.parquet")
    finally:
        con.close()
    (tmp / "_done").write_text("")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    log(f"query_mix: built oracle results in {time.perf_counter() - t0:.1f}s")
    return final


def _stream_listener(started: list, progress: list):
    """A listener keeping each query's run id as it starts (the start
    event is delivered synchronously from `start()`) and every
    micro-batch's progress (as a dict)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.append(str(event.runId))

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class QueryMix:
    def __init__(self, ctx):
        import pyarrow.parquet as pq

        self.ctx = ctx
        t0 = time.perf_counter()
        self.oracle = ensure_oracles()
        self.gen_s = time.perf_counter() - t0
        self.want_rows = {q: pq.read_metadata(self.oracle / f"{q}.parquet").num_rows for q in QUERIES}
        self.rng = random.Random(ctx.seed)
        self.per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.started: list[str] = []
        self.progress: list[dict] = []

    def _round(self) -> list[str]:
        order = list(QUERIES)
        self.rng.shuffle(order)
        return order

    def op(self, spark, name: str, op_id: int) -> tuple[float, int]:
        from flight_data_ingestion_engine_spark import queries_catalog as qc

        tracer = self.ctx.tracer
        n_started = len(self.started)
        t0 = time.perf_counter()
        with tracer.span(f"query.{name}", op_id) as s:
            n = qc.QUERIES[name](spark, str(SF_DIR)).count()
        lat = time.perf_counter() - t0
        if s is not None:
            # micro-batch jobs run in the stream's own job group, its run id
            for run_id in self.started[n_started:]:
                tracer.attribute(s, run_id)
        return lat, n

    def run(self, spark) -> dict:
        """One warm-up round in a fixed order (so every seed warms up
        alike), collecting every query's full output for the oracle
        check; then timed rounds."""
        from flight_data_ingestion_engine_spark import queries_catalog as qc

        spark.streams.addListener(_stream_listener(self.started, self.progress))
        warm = []
        self.outputs = {}
        for q in QUERIES:
            t0 = time.perf_counter()
            self.outputs[q] = qc.QUERIES[q](spark, str(SF_DIR)).toPandas()
            warm.append(time.perf_counter() - t0)
        # progress events arrive asynchronously: tell timed batches by start time
        self.timed_from = dt.datetime.now(dt.timezone.utc)
        lat, names, self.counts = [], [], []
        while sum(lat) < self.ctx.seconds or len(lat) < MIN_ROUNDS * len(QUERIES):
            for q in self._round():
                x, n = self.op(spark, q, len(lat))
                lat.append(x)
                names.append(q)
                self.counts.append(n)
                self.per_query[q].append(x)
        self.names = names
        return {"warmup_s": warm, "latencies": lat, "kinds": names}

    def span_ops(self, res: dict) -> set[int]:
        return set(range(len(res["latencies"])))

    def layer_metrics(self, lat: list[float]) -> dict[str, float]:
        """Streaming-layer figures from the timed `streaming_next_event`
        micro-batches (medians per batch)."""
        import statistics

        batches = [
            p for p in self.progress
            if p.get("numInputRows")
            and dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")) >= self.timed_from
        ]
        if not batches:
            return {}

        def med(f):
            return float(statistics.median(f(p) for p in batches))

        def state(p):
            return p["stateOperators"][0] if p.get("stateOperators") else {}

        return {
            "streaming.add_batch_ms": med(lambda p: p["durationMs"].get("addBatch", 0)),
            "streaming.wal_commit_ms": med(lambda p: p["durationMs"].get("walCommit", 0)),
            "streaming.query_planning_ms": med(lambda p: p["durationMs"].get("queryPlanning", 0)),
            "streaming.input_rows_per_batch": med(lambda p: p["numInputRows"]),
            "streaming.state_rows": med(lambda p: state(p).get("numRowsTotal", 0)),
            "streaming.state_memory_bytes": med(lambda p: state(p).get("memoryUsedBytes", 0)),
            "streaming.state_commit_ms": med(lambda p: state(p).get("commitTimeMs", 0)),
        }

    def check(self, spark) -> tuple[int, set[int]]:
        """(queries whose output differs from the oracle, failed timed ops):
        the warm-up output of each query is compared in full, and every
        timed op's row count against the oracle's."""
        import pandas as pd

        wrong = set()
        for q in QUERIES:
            want = pd.read_parquet(self.oracle / f"{q}.parquet")
            diff = reference.compare_query(self.outputs[q], want)
            if diff:
                log(f"query_mix: {q} differs from its oracle: {diff}")
                wrong.add(q)
        bad_ops = set()
        for i, (q, n) in enumerate(zip(self.names, self.counts)):
            if q in wrong or n != self.want_rows[q]:
                bad_ops.add(i)
                wrong.add(q)
        return len(wrong), bad_ops
