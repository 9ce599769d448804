"""Which calls the traced run wraps, and how span names map to layers.

Every span is named ``<module>.<function>`` after the package module whose
public function was called, except ``cli`` commands (``cli.<command>``)
and ``run_incremental_pipeline`` (``streaming.pipeline.start``: it returns
once the stream has started). Two pyspark entry points are wrapped as well, because the package calls
them directly rather than through one of its own functions:

- ``DataFrameWriter.parquet`` to a ``gold_*`` path: the gold-table writes
  in ``cli.cmd_gold`` and in the stream's batch function. Named
  ``plans.gold.write`` in full mode and ``plans.gold_incremental.finish``
  in incremental mode.
- ``DataStreamWriter.foreachBatch``: the stream's batch function, named
  ``streaming.pipeline.batch`` (one span per micro-batch).
"""

from __future__ import annotations

import importlib
import os

READERS = ["read_csv", "read_jsonl", "read_json_object", "read_table",
           "read_partition_dirs", "table_exists", "path_exists"]
WRITERS = ["write_partitioned", "overwrite_table", "upsert_by_key",
           "delete_path", "mark_success"]
GOLD = ["batsman_stats", "bowler_stats", "team_stats", "tournament_standings"]

# layer of each span-name prefix, longest prefix first
LAYERS = [
    "plans.gold_incremental", "plans.bronze", "plans.silver", "plans.gold",
    "functions.fuzzy", "sources.readers", "sources.writers",
    "streaming.pipeline", "session", "cli",
]


def layer_of(span_name: str) -> str:
    for layer in LAYERS:
        if span_name.startswith(layer + "."):
            return layer
    return "other"


def instrument(tracer, gold_mode: str) -> None:
    """Patch the package's public functions at every place a caller looks
    them up: the defining module, and any module that bound the name at
    import time."""
    pkg = "aws_ipl_data_pipeline_spark"
    mod = lambda name: importlib.import_module(f"{pkg}.{name}")  # noqa: E731
    readers, writers = mod("sources.readers"), mod("sources.writers")
    pipeline, cli = mod("streaming.pipeline"), mod("cli")

    tracer.wrap(mod("session"), "get_spark", "session.get_spark")
    for cmd in ["bronze", "silver", "gold", "stream"]:
        tracer.wrap(cli, f"cmd_{cmd}", f"cli.{cmd}")
    for fn in READERS:
        for owner in (readers, writers, pipeline):
            if hasattr(owner, fn):
                tracer.wrap(owner, fn, f"sources.readers.{fn}")
    for fn in WRITERS:
        for owner in (writers, pipeline):
            if hasattr(owner, fn):
                tracer.wrap(owner, fn, f"sources.writers.{fn}")
    for owner in (mod("plans"), mod("plans.bronze"), pipeline):
        tracer.wrap(owner, "to_bronze", "plans.bronze.to_bronze")
    for owner in (mod("plans"), mod("plans.silver"), pipeline):
        tracer.wrap(owner, "to_silver", "plans.silver.to_silver")
    for owner in (mod("functions.fuzzy"), mod("plans.silver")):
        tracer.wrap(owner, "normalize_names_multi", "functions.fuzzy.normalize_names_multi")
    for fn in GOLD:
        for owner in (mod("plans"), mod("plans.gold"), pipeline):
            tracer.wrap(owner, fn, f"plans.gold.{fn}")
    tracer.wrap(mod("plans.gold_incremental"), "write_partials",
                "plans.gold_incremental.write_partials")
    for owner in (mod("streaming"), pipeline):
        tracer.wrap(owner, "run_incremental_pipeline", "streaming.pipeline.start")

    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    gold_write = ("plans.gold_incremental.finish" if gold_mode == "incremental"
                  else "plans.gold.write")
    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        # only the gold tables; other callers keep the time as their own
        if not os.path.basename(str(path).rstrip("/")).startswith("gold_"):
            return orig_parquet(self, path, *args, **kwargs)
        with tracer.span(gold_write):
            return orig_parquet(self, path, *args, **kwargs)

    tracer.patch(DataFrameWriter, "parquet", parquet)

    orig_fb = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def traced(df, batch_id):
            with tracer.span("streaming.pipeline.batch", batch_id=batch_id):
                return func(df, batch_id)
        return orig_fb(self, traced)

    tracer.patch(DataStreamWriter, "foreachBatch", foreach_batch)
