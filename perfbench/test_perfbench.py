"""Tests of the benchmark's own parts. From the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

- the season generator is byte-for-byte deterministic per seed;
- span self times plus the unattributed remainder add up to the wall time;
- every correctness gate passes on the program's real output and fails on
  a deliberately corrupted copy of it.
"""

from __future__ import annotations

import filecmp
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gates  # noqa: E402
import season  # noqa: E402
from spans import Tracer  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    p = season.SeasonParams(n_matches=6, seed=11, overlap_share=1.0)
    a = season.generate(str(tmp_path / "a"), p)
    b = season.generate(str(tmp_path / "b"), p)
    assert a == b
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    other = season.generate(str(tmp_path / "c"), season.SeasonParams(6, 12, overlap_share=1.0))
    assert other["runs_by_team"] != a["runs_by_team"]
    assert a["raw_rows"] > a["unique_deliveries"]  # overlap rescrapes present
    assert not filecmp.cmp(tmp_path / "a" / "truth.json", tmp_path / "c" / "truth.json")


def test_live_rounds_same_seed_same_bytes(tmp_path):
    trees = []
    for name in ["a", "b"]:
        d = str(tmp_path / name)
        truth = season.generate(d, season.SeasonParams(6, 5, overlap_share=0.0))
        full = season.make_live(d, truth, 2)
        rounds = season.rescrape_rounds(d, full, 2, 5)
        for landing in rounds:
            for path, rows in landing:
                season.write_csv(path, rows)
        trees.append(_tree(d))
    assert trees[0] == trees[1]
    assert len(rounds) == 3 and all(len(r) == 2 for r in rounds)
    # every round's scrape repeats its match's previous scrape exactly
    for m, rows in full.items():
        scrapes = [r for landing in rounds for p, r in landing if f"/{m}/" in p]
        assert [len(r) for r in scrapes] == sorted(len(r) for r in scrapes)
        assert scrapes[-1] == rows
        assert all(b[:len(a)] == a for a, b in zip(scrapes, scrapes[1:]))


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v


class _FakeSpark:
    sparkContext = _FakeContext()


def test_self_times_add_up_to_wall():
    t = Tracer(_FakeSpark(), "r")
    with t.span("op"):
        with t.span("cli.silver"):
            with t.span("sources.readers.read_table"):
                sum(range(10000))
            with t.span("sources.writers.overwrite_table"):
                sum(range(20000))
        sum(range(5000))
    wall = t.top_level_s()
    assert sum(t.self_times().values()) == pytest.approx(wall, rel=1e-9)
    assert t.sc.props["spark.jobGroup.id"] is None  # restored on close


@pytest.fixture(scope="module")
def backfilled(tmp_path_factory):
    """A small season through the real CLI: bronze, silver, full gold."""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from aws_ipl_data_pipeline_spark.session import get_spark

    import workloads

    spark = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    base = str(tmp_path_factory.mktemp("season"))
    truth = season.generate(f"{base}/in", season.SeasonParams(n_matches=4, seed=3))
    workloads.backfill(f"{base}/in", f"{base}/out")
    yield spark, base, truth
    import sparkenv

    sparkenv.stop_spark(spark)  # waits for the JVM to end


def _corrupt_gold(spark, base: str) -> str:
    """A copy of the gold directory with one batsman's runs changed."""
    from pyspark.sql import functions as F

    bad = f"{base}/bad_gold"
    for t in gates.GOLD_TABLES:
        df = spark.read.parquet(f"{base}/out/gold/{t}")
        if t == "gold_batsman_stats":
            first = df.orderBy("batsman").first()["batsman"]
            df = df.withColumn("total_runs", F.when(
                F.col("batsman") == first, F.col("total_runs") + 1).otherwise(F.col("total_runs")))
        df.write.mode("overwrite").parquet(f"{bad}/{t}")
    return bad


@pytest.mark.slow
def test_silver_gate(backfilled):
    spark, base, truth = backfilled
    assert gates.silver_matches_truth(spark, f"{base}/out/silver", truth) == []
    wrong = dict(truth, runs_by_team={**truth["runs_by_team"]})
    team = sorted(wrong["runs_by_team"])[0]
    wrong["runs_by_team"][team] += 1
    assert gates.silver_matches_truth(spark, f"{base}/out/silver", wrong)
    # drop every match's second innings: rows and runs no longer match
    spark.read.parquet(f"{base}/out/silver").where("innings != 2").write.mode(
        "overwrite").parquet(f"{base}/bad_silver")
    assert gates.silver_matches_truth(spark, f"{base}/bad_silver", truth)


@pytest.mark.slow
def test_incremental_gold_gate(backfilled):
    spark, base, _ = backfilled
    assert gates.gold_equals_incremental(spark, f"{base}/out/silver", f"{base}/out/gold") == []
    bad = _corrupt_gold(spark, base)
    assert gates.gold_equals_incremental(spark, f"{base}/out/silver", bad)


@pytest.mark.slow
def test_batch_gold_gate(backfilled):
    spark, base, _ = backfilled
    assert gates.gold_equals_batch(spark, f"{base}/in", f"{base}/out/gold") == []
    bad = _corrupt_gold(spark, base)
    assert gates.gold_equals_batch(spark, f"{base}/in", bad)


def test_stop_all_ends_orphaned_grandchildren(tmp_path):
    """A grandchild whose parent has exited is still stopped and reaped."""
    script = tmp_path / "orphans.py"
    script.write_text(
        "import os, subprocess, sys\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})\n"
        "import procs\n"
        "procs.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "assert procs.descendants(os.getpid()), 'the orphan was not adopted'\n"
        "procs.stop_all(grace_s=2)\n"
        "assert not procs.descendants(os.getpid())\n")
    subprocess.run([sys.executable, str(script)], check=True, timeout=30)
