"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_load|query_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from the seed; every
file the run writes stays under `.bench_work/`. Outputs are checked
against pure-Python / DuckDB references after the timed window. The last
line on stdout is one JSON object: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1` (spans are also written to
`.bench_work/traces/`). Progress and diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("daily_load", "query_mix")

#: span names whose busy / self time and Spark job and task counts
#: are reported per op with --trace 1 (0 where a workload has no such span)
SPANS = [
    "op", "readers.ingest", "readers.infer", "flatten", "config.apply", "enrich",
    "pipeline.prev_slice", "next_event", "sinks.write",
]
LAYER_VALUES = [
    "readers.inference_jobs", "flatten.rows_out_per_row_in", "enrich.tz_match_ratio",
    "next_event.rows_windowed_per_new_row", "next_event.healed_rows",
    "pipeline.prev_rows_read", "pipeline.history_growth_ratio",
    "sinks.bytes_written_per_input_byte", "sinks.files_written",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.query_planning_ms",
    "streaming.state_rows", "streaming.state_memory_bytes", "streaming.state_commit_ms",
    "streaming.input_rows_per_batch",
]
#: busy-time names the layer→end-to-end mapping in BENCHMARK.json uses
BUSY_NAME = {"enrich": "enrich.busy_s", "next_event": "next_event.busy_s"}


class Ctx:
    def __init__(self, args, run_dir: Path):
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.tracer = Tracer(False)


def _workload(name: str, ctx: Ctx):
    if name == "daily_load":
        from perfbench.daily_load import DailyLoad

        return DailyLoad(ctx)
    from perfbench.query_mix import QueryMix

    return QueryMix(ctx)


def op_p50(lat: list[float], kinds: list[str]) -> float:
    """Median over op kinds of each kind's median latency. With one kind
    (daily_load) this is the plain median; for a mix of query kinds it
    stops the pooled median from jumping across the gap between cheap
    and expensive queries."""
    by: dict[str, list[float]] = {}
    for k, x in zip(kinds, lat):
        by.setdefault(k, []).append(x)
    return common.median([common.median(v) for v in by.values()])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the program under test: fail before any work if it is not here
    import flight_data_ingestion_engine_spark  # noqa: F401

    run_dir = common.new_run_dir(args.workload, args.seed, args.trace)
    common.prepare_env(run_dir)
    ctx = Ctx(args, run_dir)
    spark = None
    try:
        wl = _workload(args.workload, ctx)
        with common.RssSampler() as rss:
            spark, start_s = common.timed_session_start(run_dir)
            ctx.tracer = Tracer(bool(args.trace), spark.sparkContext)
            res = wl.run(spark)
        t_check = time.perf_counter()
        wrong, bad_ops = wl.check(spark)
        t_check = time.perf_counter() - t_check
        layers = {}
        if args.trace:
            layers = _layer_metrics(wl, ctx, res, start_s)
            layers["mem.peak_rss_mb"] = rss.peak_mb
            ctx.tracer.write(common.WORK / "traces" / f"{run_dir.name}.jsonl")
    finally:
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = res["latencies"]
    attempted = len(lat)
    failed = len(bad_ops)
    busy = sum(lat)
    p50 = op_p50(lat, res["kinds"])
    setup = start_s + sum(res["warmup_s"])
    summary = {
        "workload": args.workload, "seed": args.seed, "ops": attempted,
        "op_p50_s": p50,
        "error_rate": failed / attempted, "wrong_rows": wrong,
        "session_start_s": start_s, "warmup_s": res["warmup_s"],
        "input_gen_s": wl.gen_s, "check_s": t_check, "peak_rss_mb": rss.peak_mb,
        "latencies": [round(x, 4) for x in lat],
        "wall_s": time.perf_counter() - t_start,
        **{k: v for k, v in res.items() if k not in ("latencies", "kinds", "warmup_s")},
    }
    common.log(json.dumps(summary))
    values = layers if args.trace else {"setup_s": setup, "ops_per_s": attempted / busy}
    # the metric names and units the result line carries
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _layer_metrics(wl, ctx, res, start_s) -> dict[str, float]:
    lat = res["latencies"]
    out: dict[str, float] = {
        "session.start_s": start_s,
        "bench.input_gen_s": wl.gen_s,
        "op.traced_p50_s": op_p50(lat, res["kinds"]),
        "op.max_s": max(lat),
    }
    ops = wl.span_ops(res)
    n = max(len(ops), 1)
    by = ctx.tracer.by_layer(ops)
    for s in SPANS:
        a = by.get(s, {})
        out[BUSY_NAME.get(s, f"{s}_s")] = a.get("busy_s", 0.0) / n
        out[f"{s}.self_s"] = a.get("self_s", 0.0) / n
        out[f"{s}.spark_jobs"] = a.get("jobs", 0) / n
        out[f"{s}.spark_tasks"] = a.get("tasks", 0) / n
    out.update(dict.fromkeys(LAYER_VALUES, 0.0))
    out.update(wl.layer_metrics(lat))
    from perfbench.query_mix import QUERIES

    for q in QUERIES:
        xs = getattr(wl, "per_query", {}).get(q, [])
        out[f"query.{q}_s"] = common.median(xs)
        a = by.get(f"query.{q}", {})
        out[f"query.{q}.spark_tasks"] = a.get("tasks", 0) / max(len(xs), 1)
    return out


if __name__ == "__main__":
    sys.exit(main())
