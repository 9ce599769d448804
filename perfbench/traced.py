"""The traced run: per-layer metrics for one workload.

It times the same operation as an untraced run (the first one in a fresh
JVM) with every layer's public functions wrapped (see layers.py). The
traced operation's wall time is split into each layer's self time plus
an explicit ``self_s.unattributed`` entry (time in the operation outside
any wrapped call); these add up to ``trace.wall_s``. ``trace.overhead_s``
is the time the tracer spent in its own bookkeeping (opening and closing
spans, tagging Spark jobs) during that operation, measured directly:
traced minus untraced wall time of single cold operations moves more
with box load than with tracing.

A backfill's traced run ends with the single-core baseline: a warm
backfill at ``nproc`` cores, then the session restarts in the same JVM at
one core (``SPARK_GRAFT_CPUS=1``) and the backfill runs again;
``scaling.backfill_1_over_n`` is the second time over the first.
"""

from __future__ import annotations

import os
import time

import layers
import workloads
from spans import Tracer


def _metric(v, unit):
    return {"value": v, "unit": unit}


def _inclusive(tracer: Tracer, pred) -> tuple[int, float]:
    """(calls, seconds) of spans matching ``pred`` that are not nested in
    another matching span."""
    spans = tracer.spans
    calls, total = 0, 0.0
    for s in spans:
        if not pred(s):
            continue
        calls += 1
        p = s.parent
        while p is not None and not pred(spans[p]):
            p = spans[p].parent
        if p is None:
            total += s.end - s.start
    return calls, total


# -- peak resident memory of the driver JVM plus this Python process ------
def _pids() -> list[int]:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return [os.getpid()] + ([proc.pid] if proc is not None else [])


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _named(name):
    return lambda s: s.name == name


def _prefix(prefix):
    return lambda s: s.name.startswith(prefix)


def fuzzy_pairs(spark, season_dir: str, silver_path: str) -> tuple[int, float]:
    """Distinct (raw name, team) pairs the silver normalizer scores, and
    the share of them mapped to a catalog name in the written silver."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.plans import to_bronze, to_silver
    from aws_ipl_data_pipeline_spark.schemas import (
        DELIVERY_KEY, MATCH_META, PLAYERS, RAW_DELIVERIES)
    from aws_ipl_data_pipeline_spark.sources.readers import (
        read_csv, read_json_object, read_jsonl)

    raw = read_csv(spark, f"{season_dir}/raw/*/", RAW_DELIVERIES)
    meta = read_json_object(spark, f"{season_dir}/meta", MATCH_META)
    plain = to_silver(to_bronze(raw), meta)  # names as scraped
    silver = spark.read.parquet(silver_path)
    catalog = read_jsonl(spark, f"{season_dir}/players", PLAYERS).select(
        F.col("Name").alias("canon"))
    specs = [("batsman", "batting_team"), ("bowler", "bowling_team"),
             ("out_batsman", "batting_team")]
    joined = plain.alias("p").join(silver.alias("s"), DELIVERY_KEY)
    pairs = joined.select(F.explode(F.array(*[
        F.struct(F.col(f"p.{n}").alias("raw"), F.col(f"p.{t}").alias("scope"),
                 F.col(f"s.{n}").alias("canon"))
        for n, t in specs])).alias("x")).select("x.*").where(
        F.col("raw").isNotNull() & (F.col("raw") != "N/A")).distinct()
    row = pairs.join(catalog.withColumn("hit", F.lit(1)), "canon", "left").agg(
        F.countDistinct("raw", "scope").alias("n"),
        F.countDistinct(F.when(F.col("hit") == 1, F.struct("raw", "scope"))).alias("hit"),
    ).first()
    return row["n"], (row["hit"] / row["n"] if row["n"] else 0.0)


def run(spark, w, args, run_id: str, session_s: float, restart) -> tuple[dict, dict]:
    """Trace the run's first operation of ``w``; ``restart(cpus)`` restarts
    the session at another core count and returns it."""
    tracer = Tracer(spark, run_id)
    layers.instrument(tracer, w.gold_mode)
    pids = _pids()
    reset_peak_rss(pids)
    since = time.time_ns()
    try:
        loop = workloads.timed_loop(w, 0, tracer)
    finally:
        tracer.unpatch()
    rss = peak_rss_mb(pids)
    wall = sum(s.end - s.start for s in tracer.spans if s.name == "op")
    m: dict[str, dict] = {}

    # self time per layer; the op span's own self time is unattributed
    self_times = dict.fromkeys(layers.LAYERS + ["other"], 0.0)
    unattributed = 0.0
    own = tracer.self_times()
    for name, t in own.items():
        if name == "op":
            unattributed += t
        else:
            self_times[layers.layer_of(name)] += t
    for layer in layers.LAYERS:
        m[f"self_s.{layer}"] = _metric(self_times[layer], "s")
    m["self_s.unattributed"] = _metric(unattributed + self_times["other"], "s")
    m["trace.wall_s"] = _metric(wall, "s")
    m["trace.overhead_s"] = _metric(tracer.overhead_s, "s")
    m["session.start_s"] = _metric(session_s, "s")
    m["peak_rss_mb"] = _metric(rss, "MB")

    calls, t = _inclusive(tracer, _prefix("sources.readers."))
    m["sources.readers.list_s"] = _metric(t, "s")
    m["sources.readers.calls"] = _metric(calls, "count")
    _, t = _inclusive(tracer, _prefix("sources.writers."))
    m["sources.writers.write_s"] = _metric(t, "s")
    out = w.outs[-1] if hasattr(w, "outs") else w.state
    files, size, _ = workloads.data_files(out, since)
    m["sources.writers.files"] = _metric(files, "files")
    m["sources.writers.bytes"] = _metric(size, "bytes")
    sfiles, _, sdirs = workloads.data_files(f"{out}/silver", since)
    m["sources.writers.files_per_partition"] = _metric(sfiles / sdirs if sdirs else 0.0, "files")

    for layer, cmd in [("bronze", "cli.bronze"), ("silver", "cli.silver"), ("gold", "cli.gold")]:
        m[f"plans.{layer}.s"] = _metric(_inclusive(tracer, _named(cmd))[1], "s")
    for key in ["plans.bronze.rows_in", "plans.bronze.rows_out", "plans.silver.rows_out",
                "plans.gold.rows_out", "functions.fuzzy.pairs_scored",
                "functions.fuzzy.pairs_resolved_share", "scaling.backfill_1_over_n"]:
        m[key] = _metric(0, "ratio" if key.endswith(("share", "over_n")) else "rows")
    m["functions.fuzzy.pairs_scored"]["unit"] = "pairs"

    partials = _inclusive(tracer, _named("plans.gold_incremental.write_partials"))[1]
    finish = _inclusive(tracer, _named("plans.gold_incremental.finish"))[1]
    m["plans.gold_incremental.partials_s"] = _metric(partials, "s")
    m["plans.gold_incremental.finish_s"] = _metric(finish, "s")
    pfiles = 0
    if hasattr(w, "state"):
        for p in ["batsman", "bowler", "team"]:
            pfiles += workloads.data_files(f"{w.state}/gold/_partials_{p}", since)[0]
    m["plans.gold_incremental.partials_files"] = _metric(pfiles, "files")

    batches, batch_s = _inclusive(tracer, _named("streaming.pipeline.batch"))
    m["streaming.pipeline.start_s"] = _metric(
        _inclusive(tracer, _named("streaming.pipeline.start"))[1], "s")
    m["streaming.pipeline.batches"] = _metric(batches, "count")
    m["streaming.pipeline.batch_s"] = _metric(batch_s, "s")
    m["streaming.pipeline.retried_batches"] = _metric(
        getattr(w, "retried_batches", lambda: 0)(), "count")
    batch_ids = {s.id for s in tracer.spans if s.name == "streaming.pipeline.batch"}
    upsert = _inclusive(tracer, _named("sources.writers.upsert_by_key"))[1]
    silver_write = _inclusive(tracer, lambda s: s.parent in batch_ids and s.name in (
        "sources.writers.write_partitioned", "sources.writers.delete_path"))[1]
    m["streaming.pipeline.upsert_s"] = _metric(upsert, "s")
    m["streaming.pipeline.silver_write_s"] = _metric(silver_write, "s")
    # stream machinery: starting the query, listing the raw files, the
    # offset and commit logs (time in the stream call and its batches that
    # no package call covers)
    m["streaming.pipeline.overhead_s"] = _metric(
        own.get("cli.stream", 0.0) + own.get("streaming.pipeline.batch", 0.0)
        + m["streaming.pipeline.start_s"]["value"], "s")

    counters = tracer.spark_counters()
    units = {"jobs": "count", "tasks": "count", "task_s": "s", "shuffle_read_bytes": "bytes",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "failed_tasks": "count",
             "task_skew": "ratio"}
    for k, unit in units.items():
        vals = [c[k] for c in counters.values()]
        m[f"spark.{k}"] = _metric((max(vals) if k == "task_skew" else sum(vals)) if vals else 0,
                                  unit)

    if w.name == "season_backfill":
        sp = spark.read.parquet
        m["plans.bronze.rows_in"]["value"] = w.truth["raw_rows"]
        m["plans.bronze.rows_out"]["value"] = sp(f"{out}/bronze").count()
        m["plans.silver.rows_out"]["value"] = sp(f"{out}/silver").count()
        m["plans.gold.rows_out"]["value"] = sum(
            sp(f"{out}/gold/{t}").count() for t in workloads.gates.GOLD_TABLES)
        n, share = fuzzy_pairs(spark, w.inp, f"{out}/silver")
        m["functions.fuzzy.pairs_scored"]["value"] = n
        m["functions.fuzzy.pairs_resolved_share"]["value"] = share
        loop["problems"] = w.gate(spark)  # before the next backfill replaces the output
        t_n = workloads.timed_loop(w, 0)["times"][0]  # warm, nproc cores
        restart(1)
        t_1 = workloads.timed_loop(w, 0)["times"][0]  # warm, one core
        m["scaling.backfill_1_over_n"]["value"] = t_1 / t_n
    else:
        loop["problems"] = w.gate(spark)

    loop["artifact"] = {"spans": tracer.dump(), "spark_by_span": counters}
    return loop, m

