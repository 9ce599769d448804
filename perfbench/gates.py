"""Correctness gates, run outside the timed section.

Each gate returns a list of problems; an empty list means the output is
correct. Table comparison is order-insensitive and rounds floats to six
places, like the repository's DuckDB-oracle compare.
"""

from __future__ import annotations

import math

GOLD_TABLES = ["gold_batsman_stats", "gold_bowler_stats", "gold_team_stats",
               "gold_tournament_standings"]


def _canon(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = []
    for r in df.select(*cols).collect():
        rows.append(tuple(
            None if v is None or (isinstance(v, float) and math.isnan(v))
            else round(v, 6) if isinstance(v, float) else v
            for v in r
        ))
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def same_table(got, want, label: str) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{label}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    g, w = _canon(got), _canon(want)
    if len(g) != len(w):
        return [f"{label}: {len(g)} rows != {len(w)}"]
    if g != w:
        diff = next(a for a in zip(g, w) if a[0] != a[1])
        return [f"{label}: rows differ, first {diff}"]
    return []


def gold_equals_batch(spark, season_dir: str, gold_dir: str) -> list[str]:
    """Gold in ``gold_dir`` equals batch gold rebuilt from the raw files:
    the plans ``bronze``, ``silver --players`` and full ``gold`` run,
    applied in memory rather than through the on-disk tables."""
    from aws_ipl_data_pipeline_spark.plans import gold, to_bronze, to_silver
    from aws_ipl_data_pipeline_spark.schemas import MATCH_META, PLAYERS, RAW_DELIVERIES
    from aws_ipl_data_pipeline_spark.sources.readers import (
        read_csv, read_json_object, read_jsonl)

    silver = to_silver(
        to_bronze(read_csv(spark, f"{season_dir}/raw/*/", RAW_DELIVERIES)),
        read_json_object(spark, f"{season_dir}/meta", MATCH_META),
        read_jsonl(spark, f"{season_dir}/players", PLAYERS),
    ).localCheckpoint()
    out = []
    for t in GOLD_TABLES:
        build = getattr(gold, t.removeprefix("gold_"))
        out += same_table(build(silver), spark.read.parquet(f"{gold_dir}/{t}"), t)
    return out


def gold_equals_incremental(spark, silver_path: str, gold_dir: str) -> list[str]:
    """Full gold equals incremental gold over the same silver: the partial
    builders and finishers ``gold --gold-mode incremental`` runs, applied
    in memory rather than through the on-disk partials tables."""
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        GOLD_FROM_PARTIALS, PARTIAL_BUILDERS)
    from aws_ipl_data_pipeline_spark.schemas import SILVER_DELIVERIES
    from aws_ipl_data_pipeline_spark.sources.readers import read_table

    silver = read_table(spark, silver_path, schema=SILVER_DELIVERIES).localCheckpoint()
    partials = {p: b(silver).localCheckpoint() for p, b in PARTIAL_BUILDERS.items()}
    out = []
    for t, (p, finish) in GOLD_FROM_PARTIALS.items():
        out += same_table(finish(partials[p]), spark.read.parquet(f"{gold_dir}/{t}"), t)
    return out


def silver_matches_truth(spark, silver_path: str, truth: dict) -> list[str]:
    from pyspark.sql import functions as F

    silver = spark.read.parquet(silver_path)
    out = []
    n = silver.count()
    if n != truth["unique_deliveries"]:
        out.append(f"silver rows {n} != {truth['unique_deliveries']} unique deliveries")
    runs = {r[0]: r[1] for r in silver.groupBy("batting_team")
            .agg(F.sum("total_runs")).collect()}
    if runs != truth["runs_by_team"]:
        out.append(f"silver runs by team {runs} != {truth['runs_by_team']}")
    return out
