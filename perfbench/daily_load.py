"""`daily_load`: consecutive days of nested flight JSON through
`pipeline.run_daily` into one partitioned table, closed loop, one client.

Untraced, one op is one `run_daily` call. Traced, the op is the same
sequence of public calls `run_daily` makes (declared-schema read, flatten,
UTC enrichment, previous-slice read + lineage break, next-event window,
dynamic partition overwrite), each wrapped in a span and forced before
the next so its cost lands in its own span.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np

from perfbench import gen, reference
from perfbench.common import log

TABLE = "perfbench_flights"
FLIGHTS_PER_DAY = 30_000
#: warm-up days (discarded): JIT and codegen warm with the number of
#: executions more than with their size, so mostly small days; the last is
#: full size so the first timed op re-windows a full previous day
WARMUP_FLIGHTS = [5_000] * 5 + [FLIGHTS_PER_DAY]
MIN_OPS = 7
#: history_growth_ratio compares the last this-many timed ops with the first
HISTORY_OPS = 3


def _table_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


class DailyLoad:
    def __init__(self, ctx):
        self.ctx = ctx
        self.days = gen.FlightDays(ctx.seed)
        self.cfg = ctx.run_dir / "config.json"
        self.cfg.write_text(json.dumps(gen.flight_config(TABLE)))
        self.inputs = ctx.run_dir / "inputs"
        self.inputs.mkdir()
        self.loads: list[tuple[gen.FlightRows, np.ndarray]] = []
        self.input_bytes: list[int] = []
        self.gen_s = 0.0
        self.counts = {
            "rows_in": 0, "rows_flat": 0, "rows_enriched": 0, "rows_utc": 0,
            "rows_windowed": 0, "healed": 0, "prev_rows": 0,
            "bytes_written": 0, "files_written": 0, "inference_jobs": 0,
        }
        self.dates = gen.day_dates(400)

    def _next_input(self, n_flights: int) -> str:
        t0 = time.perf_counter()
        i = len(self.loads)
        text, rows = self.days.day(i, self.dates[i], n_flights)
        path = self.inputs / f"{self.dates[i].isoformat()}.json"
        path.write_text(text)
        self.loads.append((rows, reference.utc_micros(rows, self.days.tz)))
        self.input_bytes.append(len(text))
        self.gen_s += time.perf_counter() - t0
        return str(path)

    # -- one op ----------------------------------------------------------------

    def op(self, spark, op_id: int, n_flights: int = FLIGHTS_PER_DAY) -> float:
        path = self._next_input(n_flights)
        t0 = time.perf_counter()
        if self.ctx.tracer.enabled:
            self._traced_op(spark, path, op_id)
        else:
            from flight_data_ingestion_engine_spark.pipeline import run_daily

            run_daily(spark, str(self.cfg), path)
        return time.perf_counter() - t0

    def _traced_op(self, spark, path: str, op_id: int) -> None:
        from pyspark.sql import functions as F

        from flight_data_ingestion_engine_spark.config import DeclaredSchema
        from flight_data_ingestion_engine_spark.operators.enrich import with_flight_time_utc
        from flight_data_ingestion_engine_spark.operators.flatten import flatten
        from flight_data_ingestion_engine_spark.operators.next_event import (
            heal_union,
            with_next_event,
        )
        from flight_data_ingestion_engine_spark.pipeline import IncrementalPipeline
        from flight_data_ingestion_engine_spark.sources.readers import read_json
        from flight_data_ingestion_engine_spark.sources.sinks import (
            materialize,
            write_partitioned_table,
        )

        span, c = self.ctx.tracer.span, self.counts
        cached = []
        with span("op", op_id):
            declared = DeclaredSchema.from_json(str(self.cfg))
            with span("readers.ingest", op_id):
                with span("readers.infer", op_id) as s:
                    raw = read_json(spark, path)  # no schema: eager inference job
                c["inference_jobs"] += s.jobs
                with span("flatten", op_id):
                    flat = flatten(raw)
                    c["rows_in"] += raw.count()
                    c["rows_flat"] += flat.count()
                with span("config.apply", op_id):
                    slice_df = declared.apply(flat).cache()
                    cached.append(slice_df)
                    slice_df.count()
            with span("enrich", op_id):
                enriched = with_flight_time_utc(slice_df).cache()
                cached.append(enriched)
                c["rows_enriched"] += enriched.count()
                c["rows_utc"] += enriched.where(F.col("FlightTime").isNotNull()).count()
            pipe = IncrementalPipeline(
                table=declared.table,
                partition_col=(declared.partition_by or ("FlightDate",))[0],
                target_partitions=declared.output_partitions,
            )
            with span("pipeline.prev_slice", op_id):
                dates = [r[0] for r in enriched.select("FlightDate").distinct().collect() if r[0]]
                previous = pipe.previous_slice(spark, dates)
                unioned = heal_union(previous, enriched)
                if previous is not None:
                    open_before = previous.where(F.col("FlightTime_next").isNull()).count()
                    c["prev_rows"] += previous.count()
                    unioned = materialize(unioned, spark, None)
            with span("next_event", op_id):
                healed = with_next_event(
                    unioned, partition_by=pipe.key_col, time_col=pipe.time_col,
                    attrs=pipe.attrs, tiebreakers=pipe.tiebreakers,
                ).cache()
                cached.append(healed)
                c["rows_windowed"] += healed.count()
                if previous is not None:
                    prev_dates = sorted({x - dt.timedelta(days=1) for x in dates})
                    open_after = healed.where(
                        F.col(pipe.partition_col).isin(prev_dates) & F.col("FlightTime_next").isNull()
                    ).count()
                    c["healed"] += open_before - open_after
            root = str(self.ctx.run_dir / "warehouse" / TABLE)
            before = _table_files(root)
            with span("sinks.write", op_id):
                write_partitioned_table(
                    healed, pipe.table, partition_by=[pipe.partition_col],
                    target_partitions=pipe.target_partitions,
                )
            after = _table_files(root)
            new = {p: n for p, n in after.items() if p not in before}
            c["files_written"] += len(new)
            c["bytes_written"] += sum(new.values())
        for df in cached:
            df.unpersist()

    # -- the run ---------------------------------------------------------------

    def run(self, spark) -> dict:
        """Warm-up ops (discarded), then timed ops until `seconds` of op
        time and at least MIN_OPS ops have passed."""
        warm = [self.op(spark, -1 - i, n) for i, n in enumerate(WARMUP_FLIGHTS)]
        self.counts = dict.fromkeys(self.counts, 0)
        lat: list[float] = []
        while sum(lat) < self.ctx.seconds or len(lat) < MIN_OPS:
            lat.append(self.op(spark, len(lat)))
        n_warm = len(warm)
        return {
            "warmup_s": warm,
            "latencies": lat,
            "kinds": ["day"] * len(lat),
            "rows": [len(r) for r, _ in self.loads[n_warm:]],
            "input_bytes": sum(self.input_bytes[n_warm:]),
        }

    def span_ops(self, res: dict) -> set[int]:
        return set(range(len(res["latencies"])))

    def layer_metrics(self, lat: list[float]) -> dict[str, float]:
        c = self.counts
        first, last = lat[:HISTORY_OPS], lat[-HISTORY_OPS:]
        out = {
            "readers.inference_jobs": c["inference_jobs"] / max(len(lat), 1),
            "flatten.rows_out_per_row_in": c["rows_flat"] / max(c["rows_in"], 1),
            "enrich.tz_match_ratio": c["rows_utc"] / max(c["rows_enriched"], 1),
            "next_event.rows_windowed_per_new_row": c["rows_windowed"] / max(c["rows_enriched"], 1),
            "next_event.healed_rows": c["healed"] / max(len(lat), 1),
            "pipeline.prev_rows_read": c["prev_rows"] / max(len(lat), 1),
            "pipeline.history_growth_ratio": (sum(last) / len(last)) / (sum(first) / len(first)),
            "sinks.bytes_written_per_input_byte": c["bytes_written"]
            / max(sum(self.input_bytes[len(WARMUP_FLIGHTS):]), 1),
            "sinks.files_written": c["files_written"] / max(len(lat), 1),
        }
        return out

    # -- correctness -----------------------------------------------------------

    def check(self, spark) -> tuple[int, set[int]]:
        """(wrong rows, timed ops that last wrote a wrong partition)."""
        from pyspark.sql import functions as F

        null = F.lit(reference.NULL)
        pdf = (
            spark.read.table(TABLE)
            .select(
                "Origin",
                "FlightDate",
                F.coalesce(F.unix_micros("FlightTime"), null).alias("t"),
                F.coalesce(F.unix_micros("FlightTime_next"), null).alias("tn"),
                F.coalesce("diff_next", null).alias("diff"),
                F.col("Reporting_Airline_next").alias("airline_next"),
            )
            .toPandas()
        )
        expected = reference.daily_expected(self.loads)
        order = [rows.date for rows, _ in self.loads]
        # a partition is last written by the load of the following day
        n_warm = len(WARMUP_FLIGHTS)
        op_of_date = {}
        for i, d in enumerate(order):
            nxt = d + dt.timedelta(days=1)
            op_of_date[d] = (order.index(nxt) if nxt in order else i) - n_warm
        wrong_rows, wrong_ops = 0, set()
        groups = dict(tuple(pdf.groupby("FlightDate")))
        for d, exp in expected.items():
            got = groups.get(d)
            if got is None:
                bad = len(exp)
            else:
                bad = reference.compare_pairs(exp, got.drop(columns="FlightDate"))
            if bad:
                log(f"daily_load: {bad} wrong rows in partition {d}")
                wrong_rows += bad
                if op_of_date[d] >= 0:
                    wrong_ops.add(op_of_date[d])
        extra = set(groups) - set(expected)
        if extra:
            wrong_rows += sum(len(groups[d]) for d in extra)
        return wrong_rows, wrong_ops
