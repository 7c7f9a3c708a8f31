"""Benchmark of the trend engine: one command, two workloads.

    python3 perfbench/run.py --workload pipeline_replay --seed 1 --seconds 18 --trace 0

Run from the repository root. The session comes only from
``session.get_spark(master="local[<cpus>]")`` with the console progress
bar off, so configuration the engine sets shows in the numbers. Inputs
are generated here from ``--seed`` (``gen.py``) under ``perfbench/.work``,
which is cleared each run. Every output is checked after the timed
region; a check that fails counts as a failed operation.

The last line of standard output is the result: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics taken
from spans around the engine calls, the job-group ledger and the
streaming queries' progress reports. The line before it carries the
workload's detail: the metrics under their workload-specific names,
traffic parameters, checks and host contention. See README.md.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
PINNED = os.path.join(HERE, "oracle_answers.json.gz")

CATALOG = (
    "sim_bitext_mining", "sim_knn_ivf", "sim_coreset_kcenter", "text_lang_id",
    "text_perplexity_buckets", "graph_label_propagation", "graph_modularity",
    "dedup_minhash_lsh_pairs", "dedup_dup_spans", "dedup_span_rewrite",
    "stream_quality_floor_state", "retrieval_bm25", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "serving_session_paths", "agg_serving_join",
)
# The catalog tables come from tools/gen_sf1.py, whose seed is fixed,
# so they do not vary with --seed: their oracle answers are pinned in
# PINNED because computing them costs as much as the catalog.
CATALOG_SF = 0.01
EVENTS_PER_BATCH = 2000
# Three priming batches start both queries and warm the JIT (the third
# still runs about 1.5x its steady time); a fixed number of batches is
# timed after them, so the sample count never depends on the speed.
# One timed batch keeps a whole run near a minute on a slow host.
PRIMING_BATCHES = 3
TIMED_BATCHES = 1
WARM_EVENTS = 1000  # sf0.001-sized warm-up lake: one day

E2E = {"setup_s": "s", "cpu_s_per_op": "s"}
_LAYERS = {
    "session.start_s": "s", "host.ref_loop_s": "s",
    "wall.latency_p50_s": "s", "wall.throughput_per_s": "1/s",
    "ingest.trigger_ms_p50": "ms", "ingest.add_batch_ms_p50": "ms",
    "ingest.wal_commit_ms_p50": "ms", "ingest.latest_offset_ms_p50": "ms",
    "ingest.lake_files_per_batch": "count",
    "windowed.trigger_ms_p50": "ms", "windowed.microbatches_per_input_batch": "count",
    "windowed.state_commit_ms_p50": "ms", "windowed.state_rows": "count",
    "windowed.state_memory_bytes": "B", "windowed.state_store_instances": "count",
    "windowed.rows_dropped_by_watermark": "count",
    "sinks.upsert_calls": "count", "sinks.upsert_s_p50": "s",
    "sinks.serving_bytes_rewritten_per_call": "B", "sinks.serving_files": "count",
    "backfill.call_s_p50": "s", "backfill.events_per_s": "1/s", "backfill.aggregate_s": "s",
    "backfill.input_bytes": "B",
    "dashboard.plan_s_p50": "s", "dashboard.execute_s_p50": "s",
    "dashboard.jobs_per_read": "count", "dashboard.tasks_per_read": "count",
    "catalog.construct_s": "s", "catalog.plan_s": "s", "catalog.execute_s": "s",
    "catalog.construct_jobs": "count", "catalog.execute_jobs": "count",
    "catalog.stages": "count", "catalog.tasks": "count", "catalog.executor_run_s": "s",
    "catalog.shuffle_write_bytes": "B", "catalog.spill_bytes": "B",
    "catalog.cache_entries": "count", "catalog.persisted_rdds_after_clear": "count",
    **{f"catalog.{q}.{m}": u for q in CATALOG
       for m, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))},
    "self_s.run_pipeline": "s", "self_s.process_all_available": "s",
    "self_s.upsert": "s", "self_s.aggregate": "s", "self_s.backfill": "s",
    "self_s.dashboard": "s", "self_s.catalog_construct": "s", "self_s.catalog_plan": "s",
    "self_s.catalog_execute": "s", "self_s.load_generator": "s",
    "trace.overhead_s": "s", "trace.top_span_coverage": "ratio",
    "failed_ops_ratio": "ratio", "host.other_cpu_share": "ratio", "peak_rss_mb": "MB",
}
# span name -> self-time metric, over the timed region
_SELF = {
    "jobs.run_pipeline": "self_s.run_pipeline",
    "streaming.processAllAvailable": "self_s.process_all_available",
    "sinks.upsert_parquet_batch": "self_s.upsert",
    "windowed.hourly_topic_aggregate": "self_s.aggregate",
    "jobs.backfill_serving": "self_s.backfill", "dashboard.read": "self_s.dashboard",
    "catalog.construct": "self_s.catalog_construct", "catalog.plan": "self_s.catalog_plan",
    "catalog.execute": "self_s.catalog_execute", "gen.land": "self_s.load_generator",
}


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """State one workload run shares: session, tracer, ledger and the
    operation tally."""

    def __init__(self, spark, tracer, ledger, args) -> None:
        self.spark, self.tr, self.led, self.args = spark, tracer, ledger, args
        self.attempted = self.failed = 0
        self.checks: dict[str, bool] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.reads: list[dict] = []
        self.upserts: list[tuple[float, int]] = []  # (start, serving bytes after)
        self.timed: tuple[float, float] = (0.0, 0.0)

    def op(self, name: str, fn):
        """One operation: spanned, counted, a raised error is a failure."""
        self.attempted += 1
        try:
            with self.tr.span(name):
                return fn()
        except Exception:  # a failed operation is a result, not a crash
            traceback.print_exc()
            self.failed += 1
            return None

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)

    def dashboard_read(self, serving: str, group: str) -> dict:
        """The dashboard's page: latest row per topic, the hourly series
        and emotion shares, each planned then collected."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from spark_app_twitter_spark.schemas import EMOTIONS

        with self.tr.span("dashboard.read"), self.led.group(group):
            t0 = time.perf_counter()
            table = self.spark.read.parquet(serving)
            latest = (table.withColumn("_rn", F.row_number().over(
                Window.partitionBy("topic").orderBy(F.desc("window_start"))))
                .where("_rn = 1").drop("_rn"))
            series = table.select("window_start", "topic", "counts").orderBy(
                "window_start", "topic")
            shares = table.groupBy("topic").agg(
                *[(F.sum(e) / F.sum("counts")).alias(e) for e in EMOTIONS])
            frames = (latest, series, shares)
            for df in frames:
                df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            rows = [df.collect() for df in frames]
            t2 = time.perf_counter()
        read = {"plan_s": t1 - t0, "execute_s": t2 - t1, "group": group,
                "total": sum(r["counts"] for r in rows[1])}
        self.reads.append(read)
        return read

    def read_layers(self) -> None:
        reads = self.reads
        self.layer["dashboard.plan_s_p50"] = p50([r["plan_s"] for r in reads])
        self.layer["dashboard.execute_s_p50"] = p50([r["execute_s"] for r in reads])
        if self.tr.enabled and reads:
            g = [self.led.groups[r["group"]] for r in reads]
            self.layer["dashboard.jobs_per_read"] = p50([x["jobs"] for x in g])
            self.layer["dashboard.tasks_per_read"] = p50([x["tasks"] for x in g])

    def upsert_layers(self, serving: str) -> None:
        t0 = self.timed[0]
        ups = self.tr.durations("sinks.upsert_parquet_batch", t0)
        self.layer["sinks.upsert_calls"] = len(ups)
        self.layer["sinks.upsert_s_p50"] = p50(ups)
        self.layer["sinks.serving_bytes_rewritten_per_call"] = p50(
            [b for start, b in self.upserts if start >= t0])
        self.layer["sinks.serving_files"] = dir_stats(serving)[0]


def _dirs(*names: str) -> dict[str, str]:
    """Paths under the work directory; the engine creates them."""
    return {n: os.path.join(WORK, n) for n in names}


def _progress(query, since_wall: float) -> list[dict]:
    """The query's progress reports for triggers started at or after
    ``since_wall`` (epoch seconds)."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        ts = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
        if ts >= since_wall:
            out.append(d)
    return out


# ---------------------------------------------------------------------------
# Workloads. Each returns (setup seconds beyond session start and
# warm-up, CPU seconds per timed operation).
# ---------------------------------------------------------------------------
def pipeline_replay(run: Run):
    """The reference's own flow as a closed loop: land one batch file,
    drain the ingest and serving queries, read the dashboard, repeat.
    After the loop, the operational catch-up rebuilds the serving cells
    from the lake the stream wrote, one backfill call per date."""
    import gen
    from pyspark.sql import functions as F
    from spans import tree_cpu_s

    from spark_app_twitter_spark import jobs

    d = _dirs("inbox", "staging", "lake", "serving", "ckpt", "backfill")
    os.makedirs(d["inbox"])
    os.makedirs(d["staging"])
    traffic = gen.WireTraffic(run.args.seed, EVENTS_PER_BATCH)
    cfg = jobs.PipelineConfig(file_source_path=d["inbox"], datalake_path=d["lake"],
                              serving_path=d["serving"], checkpoint_root=d["ckpt"])
    t_setup = time.perf_counter()
    ingest, serving = jobs.run_pipeline(run.spark, cfg)
    for q in (ingest, serving):
        run.tr.wrap(q, "processAllAvailable", "streaming.processAllAvailable")

    def batch(i: int):
        with run.tr.span("gen.batch"):
            lines = traffic.next_batch()
        expected = traffic.on_time_total()

        def step():
            t0 = time.perf_counter()
            with run.tr.span("gen.land"):
                gen.land(lines, d["staging"], d["inbox"], f"b{i:06d}.json")
            landed = time.perf_counter()
            ingest.processAllAvailable()
            serving.processAllAvailable()
            read = run.dashboard_read(cfg.serving_path, f"dashboard.{i}")
            end = time.perf_counter()
            return {"wall": end - t0, "fresh": end - landed,
                    "ok": read["total"] == expected}
        return run.op("op.batch", step)

    primed = [batch(i) for i in range(PRIMING_BATCHES)]
    setup_extra = time.perf_counter() - t_setup
    run.attempted = run.failed = 0
    run.reads.clear()
    files0 = dir_stats(d["lake"])[0]
    cpu0 = tree_cpu_s()
    wall0, t0 = time.time(), time.perf_counter()
    done = []
    for i in range(PRIMING_BATCHES, PRIMING_BATCHES + TIMED_BATCHES):
        r = batch(i)
        if r is None:
            if ingest.exception() or serving.exception():
                break
            continue
        done.append(r)
        if not r["ok"]:
            run.failed += 1
    cpu_per_batch = (tree_cpu_s() - cpu0) / len(done) if done else 0.0
    for q in (ingest, serving):
        q.stop()
    dates = sorted({gen.day_of(ts) for *_, ts in traffic.events})
    calls = []
    for day in dates:
        def call(day=day):
            with run.led.group(f"backfill.{day}"):
                s = time.perf_counter()
                jobs.backfill_serving(run.spark, d["lake"], d["backfill"], day, day)
                calls.append(time.perf_counter() - s)
        run.op("op.backfill", call)
    run.timed = (t0, time.perf_counter())

    run.check("priming batches visible", all(p is not None and p["ok"] for p in primed))
    lake = run.spark.read.parquet(cfg.datalake_path).select(
        "key", "topic", F.unix_millis("created_at").alias("ms")).collect()
    run.check("lake rows equal generated events",
              Counter(tuple(r) for r in lake) == Counter(traffic.events))
    run.check("serving cells equal on-time tally", _cells_match(
        _serving_cells(run.spark, cfg.serving_path),
        {k: (c.counts, c.positive, c.emotions) for k, c in traffic.cells.items()}))
    sprog = [p for p in _progress(serving, 0) if p["stateOperators"]]
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in sprog)
    # The state operator counts dropped rows after the partial
    # aggregation (on Spark 4.1 two per late (window, topic) group and
    # batch), so the count shows that late rows were dropped, not how
    # many; the serving check above pins exactly which events counted.
    run.check("rows dropped by watermark iff late events generated",
              (dropped > 0) == (traffic.dropped > 0))
    run.check("backfill equals DuckDB recompute of the lake", _cells_match(
        _serving_cells(run.spark, d["backfill"]), _lake_cells(d["lake"])))

    fresh = [r["fresh"] for r in done]
    throughput = EVENTS_PER_BATCH * len(done) / sum(r["wall"] for r in done) if done else 0.0
    backfill_rate = len(traffic.events) / sum(calls) if len(calls) == len(dates) else 0.0
    reads = [r["plan_s"] + r["execute_s"] for r in run.reads]
    run.detail.update({
        "traffic": traffic.params, "batches": len(done), "cpu_s_per_batch": cpu_per_batch,
        "freshness_s": [round(f, 3) for f in fresh],
        "pipeline_events_per_s": throughput, "pipeline_freshness_p50_s": p50(fresh),
        "pipeline_freshness_tail": _tail(fresh), "dashboard_read_p50_s": p50(reads),
        "dashboard_read_tail": _tail(reads), "backfill_events_per_s": backfill_rate,
        "backfill_dates": dates, "generated_events": len(traffic.events),
        "late_events": traffic.dropped, "late_groups": traffic.late_groups,
        "rows_dropped_by_watermark": dropped})

    tprog = [p for p in _progress(serving, wall0) if p["stateOperators"]]
    ing = [p for p in _progress(ingest, wall0) if p["numInputRows"] > 0]
    dur = lambda ps, k: p50([p["durationMs"].get(k, 0) for p in ps])  # noqa: E731
    state = tprog[-1]["stateOperators"][0] if tprog else {}
    run.layer.update({
        "wall.latency_p50_s": p50(fresh), "wall.throughput_per_s": throughput,
        "ingest.trigger_ms_p50": dur(ing, "triggerExecution"),
        "ingest.add_batch_ms_p50": dur(ing, "addBatch"),
        "ingest.wal_commit_ms_p50": dur(ing, "walCommit"),
        "ingest.latest_offset_ms_p50": dur(ing, "latestOffset"),
        "ingest.lake_files_per_batch": (dir_stats(d["lake"])[0] - files0) / max(1, len(done)),
        "windowed.trigger_ms_p50": dur(tprog, "triggerExecution"),
        "windowed.microbatches_per_input_batch": len(tprog) / max(1, len(done)),
        "windowed.state_commit_ms_p50": p50(
            [p["stateOperators"][0]["commitTimeMs"] for p in tprog]),
        "windowed.state_rows": state.get("numRowsTotal", 0),
        "windowed.state_memory_bytes": state.get("memoryUsedBytes", 0),
        "windowed.state_store_instances": state.get("numStateStoreInstances", 0),
        "windowed.rows_dropped_by_watermark": dropped,
        "backfill.call_s_p50": p50(calls),
        "backfill.events_per_s": backfill_rate,
        "backfill.aggregate_s": sum(
            run.tr.durations("windowed.hourly_topic_aggregate", run.timed[0])),
        "backfill.input_bytes": run.led.total("backfill.", "input_bytes"),
    })
    run.read_layers()
    run.upsert_layers(cfg.serving_path)
    return setup_extra, cpu_per_batch


def _tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it, or
    none when there are fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return {"value": None, "pct": None, "n": n}
    return {"value": sorted(xs)[n - 11], "pct": 100.0 * (n - 10) / n, "n": n}


def _serving_cells(spark, path: str) -> dict:
    from pyspark.sql import functions as F

    return {(r["ms"], r["topic"]): r for r in spark.read.parquet(path)
            .withColumn("ms", F.unix_millis("window_start")).collect()}


def _lake_cells(lake: str) -> dict:
    """DuckDB recompute of the hourly serving cells over a schema-R
    lake, with the lexicon SQL the engine's oracles use."""
    import duckdb

    from spark_app_twitter_spark.functions.text import emotion_sql, sentiment_sql
    from spark_app_twitter_spark.schemas import EMOTIONS

    emos = ", ".join(f"sum(CASE WHEN {emotion_sql('text')} = '{e}' THEN 1 ELSE 0 END)"
                     for e in EMOTIONS)
    con = duckdb.connect()
    try:
        rows = con.execute(f"""
            SELECT epoch_ms(created_at) // 3600000 * 3600000, topic, count(*),
                   sum(CASE WHEN {sentiment_sql('text')} = 'positive' THEN 1 ELSE 0 END),
                   {emos}
            FROM read_parquet('{lake}/*/*/*.parquet', hive_partitioning = false)
            GROUP BY 1, 2""").fetchall()
    finally:
        con.close()
    return {(h, topic): (c, pos, dict(zip(EMOTIONS, es))) for h, topic, c, pos, *es in rows}


def _cells_match(got: dict, want: dict) -> bool:
    """Serving rows against (counts, positives, emotion counts) per
    (hour ms, topic); positivity_rate is the positive share rounded to
    two places."""
    from spark_app_twitter_spark.schemas import EMOTIONS

    if set(got) != set(want):
        return False
    for k, (counts, pos, emos) in want.items():
        r = got[k]
        if r["counts"] != counts or any(r[e] != emos[e] for e in EMOTIONS):
            return False
        if abs(r["positivity_rate"] - pos / counts) > 0.005 + 1e-9:
            return False
    return True


def write_catalog_tables(out: str) -> None:
    """The catalog's tables at CATALOG_SF, written by the repository's
    fixture generator (its progress lines are not part of the result)."""
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf1.py"),
                    "--sf", str(CATALOG_SF), "--out", out],
                   check=True, stdout=subprocess.DEVNULL)


def catalog_cold(run: Run):
    """The fixed catalog list in order, artifact caches cold: each
    query's construct call, its physical plan, then its action."""
    import __spark_entry__ as entry
    import answers
    from spans import tree_cpu_s

    from spark_app_twitter_spark.functions import caches

    cat = os.path.join(WORK, "catalog")
    t = time.perf_counter()
    write_catalog_tables(cat)
    setup_extra = time.perf_counter() - t
    with gzip.open(PINNED, "rt") as f:
        pinned = json.load(f)["answers"]
    queries = entry.queries()
    caches.clear_session_caches()

    results = {}
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    for name in CATALOG:
        def one(name=name):
            t = [time.perf_counter()]
            with run.tr.span("catalog.construct"), run.led.group(f"catalog.{name}.construct"):
                df = queries[name](run.spark, cat)
            t.append(time.perf_counter())
            with run.tr.span("catalog.plan"), run.led.group(f"catalog.{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            t.append(time.perf_counter())
            with run.tr.span("catalog.execute"), run.led.group(f"catalog.{name}.execute"):
                rows = df.collect()
            t.append(time.perf_counter())
            results[name] = (df.columns, rows, [b - a for a, b in zip(t, t[1:])])
        run.op("op.query", one)
    run.timed = (t0, time.perf_counter())
    cpu_per_query = (tree_cpu_s() - cpu0) / len(results) if results else 0.0

    for name, (cols, rows, _) in results.items():
        why = answers.mismatch(cols, rows, pinned[name])
        run.check(f"{name} equals its oracle", why is None)
        if why is not None:
            print(f"{name}: {why}", file=sys.stderr)
    entries = sum(len(c) for c in caches._REGISTRY)
    caches.clear_session_caches()
    persisted = run.spark.sparkContext._jsc.getPersistentRDDs().size()

    walls = [sum(ph) for *_, ph in results.values()]
    total = run.timed[1] - run.timed[0]
    run.detail.update({"catalog_total_s": total, "queries": len(results),
                       "cpu_s_per_query": cpu_per_query,
                       "catalog_tables": f"tools/gen_sf1.py --sf {CATALOG_SF}"})
    led, lay = run.led, run.layer
    for name, (_, _, (c, p, e)) in results.items():
        lay[f"catalog.{name}.construct_s"] = c
        lay[f"catalog.{name}.execute_s"] = p + e
        lay[f"catalog.{name}.jobs"] = led.total(f"catalog.{name}.", "jobs")
    phases = list(zip(*(ph for *_, ph in results.values()))) or [(), (), ()]
    lay.update({
        "wall.latency_p50_s": p50(walls), "wall.throughput_per_s": len(results) / total,
        "catalog.construct_s": sum(phases[0]), "catalog.plan_s": sum(phases[1]),
        "catalog.execute_s": sum(phases[2]),
        "catalog.construct_jobs": led.total("catalog.", "jobs", ".construct"),
        "catalog.execute_jobs": led.total("catalog.", "jobs", ".execute")
        + led.total("catalog.", "jobs", ".plan"),
        "catalog.cache_entries": entries, "catalog.persisted_rdds_after_clear": persisted,
    })
    for key in ("stages", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
        lay[f"catalog.{key}"] = led.total("catalog.", key)
    return setup_extra, cpu_per_query


def warm_up(run: Run) -> None:
    """JIT warm-up at sf0.001: backfill a one-day, 1,000-event lake and
    read it once; artifact caches are cleared after."""
    import gen

    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.functions.caches import clear_session_caches

    d = _dirs("warm_lake", "warm_serving")
    day = gen.write_lake(d["warm_lake"], run.args.seed + 1, WARM_EVENTS)
    jobs.backfill_serving(run.spark, d["warm_lake"], d["warm_serving"], day, day)
    run.dashboard_read(d["warm_serving"], "warm_up")
    run.reads.clear()
    clear_session_caches()


# name -> (warm-up, workload); pipeline_replay's priming batch is its warm-up.
WORKLOADS = {"pipeline_replay": (None, pipeline_replay),
             "catalog_cold": (warm_up, catalog_cold)}


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # Accepted because the harness passes it. No workload reads it:
    # each runs a fixed amount of work.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Python workers import the engine, and every scratch file stays
    # under the benchmark's own directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")

    from spark_app_twitter_spark import jobs, session
    from spark_app_twitter_spark.sources import sinks
    from spark_app_twitter_spark.streaming import windowed

    from spans import HostSample, Ledger, Tracer, ref_loop_s, tree_peak_rss_mb

    refs = ref_loop_s()
    tracer = Tracer(args.trace == 1)
    host0 = HostSample()
    tracer.wrap(session, "get_spark", "session.get_spark")
    t_setup = time.perf_counter()
    spark = session.get_spark(master=f"local[{len(os.sched_getaffinity(0))}]",
                              extra_conf={"spark.ui.showConsoleProgress": "false"})
    start_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, tracer, Ledger(spark, tracer), args)
    try:
        warm, workload = WORKLOADS[args.workload]
        if warm is not None:
            warm(run)
        warm_s = time.perf_counter() - t_setup
        tracer.wrap(jobs, "run_pipeline", "jobs.run_pipeline")
        tracer.wrap(jobs, "backfill_serving", "jobs.backfill_serving")
        tracer.wrap(windowed, "hourly_topic_aggregate", "windowed.hourly_topic_aggregate")
        tracer.wrap(sinks, "upsert_parquet_batch", "sinks.upsert_parquet_batch",
                    after=lambda rec, a: run.upserts.append((rec["start"], dir_stats(a[2])[1])))
        host1 = HostSample()
        setup_extra, cpu_per_op = workload(run)
        host2 = HostSample()
        peak = tree_peak_rss_mb()
    finally:
        tracer.unwrap()
        _stop(spark)
    refs += ref_loop_s()

    t0, t1 = run.timed
    correct = run.failed == 0 and all(run.checks.values())
    failed = min(run.attempted, run.failed + sum(not ok for ok in run.checks.values()))
    e2e = {"setup_s": warm_s + setup_extra, "cpu_s_per_op": cpu_per_op}
    layer = dict.fromkeys(_LAYERS, 0.0)
    layer.update(run.layer)
    layer["session.start_s"] = start_s
    layer["host.ref_loop_s"] = statistics.median(refs)
    self_s = tracer.self_times(t0)
    for span, metric in _SELF.items():
        layer[metric] = self_s.get(span, 0.0)
    layer["trace.overhead_s"] = tracer.overhead_s(t0)
    layer["trace.top_span_coverage"] = tracer.covered(t0, t1) / (t1 - t0)
    layer["failed_ops_ratio"] = failed / max(1, run.attempted)
    layer["host.other_cpu_share"] = host2.other_cpu_share(host1)
    layer["peak_rss_mb"] = peak
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "timed_wall_s": t1 - t0, "setup_s": e2e["setup_s"], "session_start_s": start_s,
              "cpu_s_per_op": cpu_per_op, "ref_loop_s": [round(r, 5) for r in refs],
              **run.detail, "failed_ops_ratio": layer["failed_ops_ratio"],
              "peak_rss_mb": peak, "checks": run.checks,
              "host": {"loadavg_start": host0.load, "loadavg_end": os.getloadavg(),
                       "other_cpu_share_setup": host1.other_cpu_share(host0),
                       "other_cpu_share_workload": layer["host.other_cpu_share"]}}
    if tracer.enabled:
        detail["trace_overhead_s"] = layer["trace.overhead_s"]
        detail["top_span_coverage"] = layer["trace.top_span_coverage"]
        tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    metrics, units = (layer, _LAYERS) if tracer.enabled else (e2e, E2E)
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
