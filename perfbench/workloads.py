"""The two medallion workloads, driven only through ``cli.main``.

Both are closed loops with one client: the next operation starts when the
previous one has returned. A run times its first operation in a fresh
JVM, the way a scheduled CLI job pays for it, so that operation includes
the JIT and codegen warm-up; every such operation takes longer than the
benchmark's ``run_seconds``, so a run times exactly one.

- ``season_backfill``: one operation is ``bronze``, ``silver --players``
  and full ``gold`` over a generated season, raw files to the four gold
  tables.
- ``rescrape_refresh``: a live season is first built through ``stream
  --gold-mode incremental`` (the real bronze accumulator, checkpoint,
  silver and partials). One operation is a rescrape round: new scrapes for
  a few matches land in the raw directory, then ``stream --gold-mode
  incremental`` (AvailableNow) runs until gold is refreshed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gates
import season

# Sizes for a 4-core box: a run of either workload takes about a minute,
# which is what the whole benchmark's time budget allows per run.
BACKFILL_MATCHES = 64
LIVE_MATCHES = 8  # matches in the live season; one file each, so one bootstrap batch
LIVE_IN_PROGRESS = 4  # of which still being scraped
LIVE_SEASON_SEED = 0  # the live season is one season, built once per checkout
PER_ROUND = 2  # matches rescraped per round


def cli(argv: list[str]) -> None:
    from aws_ipl_data_pipeline_spark.cli import main

    main(argv)


def data_files(root: str, since_ns: int = 0) -> tuple[int, int, int]:
    """(data files, bytes, leaf directories holding data) under ``root``,
    counting only files modified at or after ``since_ns``."""
    files = size = 0
    dirs = set()
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(d, n))
            if st.st_mtime_ns >= since_ns:
                files += 1
                size += st.st_size
                dirs.add(d)
    return files, size, len(dirs)


def backfill(inp: str, out: str) -> None:
    cli(["bronze", "--raw-dir", f"{inp}/raw/*/", "--out", f"{out}/bronze"])
    cli(["silver", "--bronze", f"{out}/bronze", "--meta", f"{inp}/meta",
         "--players", f"{inp}/players", "--out", f"{out}/silver"])
    cli(["gold", "--silver", f"{out}/silver", "--out-dir", f"{out}/gold"])


class SeasonBackfill:
    name = "season_backfill"
    gold_mode = "full"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.params = season.SeasonParams(n_matches=BACKFILL_MATCHES, seed=seed)
        self.inp = f"{work}/season"
        self.truth: dict = {}
        self.outs: list[str] = []

    def setup(self) -> None:
        self.truth = season.generate(self.inp, self.params)

    def remaining(self) -> int:
        return 1000

    def prepare(self, i: int) -> None:
        if self.outs:  # keep only the newest output, for the gate
            shutil.rmtree(self.outs[-1])
        self.outs.append(f"{self.work}/out{i}")

    def op(self, i: int) -> None:
        backfill(self.inp, self.outs[-1])

    def files_written(self, since_ns: int) -> int:
        return data_files(self.outs[-1], since_ns)[0]

    def gate(self, spark) -> list[str]:
        """Silver equals the ground truth, and full gold equals incremental
        gold over the same silver."""
        out = self.outs[-1]
        return (gates.silver_matches_truth(spark, f"{out}/silver", self.truth)
                + gates.gold_equals_incremental(spark, f"{out}/silver", f"{out}/gold"))


LIVE_PARAMS = season.SeasonParams(n_matches=LIVE_MATCHES, seed=LIVE_SEASON_SEED,
                                  overlap_share=0.0)


def stream(inp: str, state: str) -> None:
    cli(["stream", "--raw-dir", f"{inp}/raw/*/",
         "--silver", f"{state}/silver", "--gold", f"{state}/gold",
         "--meta", f"{inp}/meta", "--players", f"{inp}/players",
         "--checkpoint", f"{state}/checkpoint", "--gold-mode", "incremental"])


def build_live_state(live: str, pristine: str, work: str) -> None:
    """Generate the live season under ``live``, build its state through the
    stream (the bootstrap batch), and keep a pristine copy. Runs in a child
    process, so the JVM of the run that times a round stays cold."""
    import sparkenv

    spark = sparkenv.start_spark(work)
    try:
        shutil.rmtree(live, ignore_errors=True)
        inp = f"{live}/season"
        truth = season.generate(inp, LIVE_PARAMS)
        with open(f"{inp}/live.json", "w") as f:
            json.dump(season.make_live(inp, truth, LIVE_IN_PROGRESS), f)
        stream(inp, f"{live}/state")
    finally:
        sparkenv.stop_spark(spark)
    cache = os.path.dirname(pristine)
    for old in os.listdir(cache):  # states built by other sources
        if old.startswith("rescrape-state-"):
            shutil.rmtree(os.path.join(cache, old))
    shutil.copytree(live, pristine + ".tmp")
    os.replace(pristine + ".tmp", pristine)


class RescrapeRefresh:
    """One live season, built once per checkout through the stream and
    restored at the start of every run; ``--seed`` picks the order in
    which its live matches are rescraped.

    The state lives at one fixed path because the stream's checkpoint
    records the absolute paths of the raw files it has processed; the
    pristine copy is keyed by a digest of the package and benchmark
    sources, so a code change rebuilds it."""

    name = "rescrape_refresh"
    gold_mode = "incremental"

    def __init__(self, work: str, seed: int, cache: str):
        self.work, self.seed = work, seed
        self.params = LIVE_PARAMS
        self.live = f"{cache}/rescrape-live"
        self.pristine = f"{cache}/rescrape-state-{source_digest()}"
        self.inp = f"{self.live}/season"
        self.state = f"{self.live}/state"
        self.rounds: list = []
        self.landed = 0

    def land(self) -> None:
        for path, rows in self.rounds[self.landed]:
            season.write_csv(path, rows)
        self.landed += 1

    def setup(self) -> None:
        if not os.path.isdir(self.pristine):
            # a child process, waited for; on timeout it is killed and
            # its JVM is left to the run's final sweep (procs.stop_all)
            subprocess.run([sys.executable, os.path.abspath(__file__), self.live,
                            self.pristine, f"{self.work}/build"], check=True, timeout=600)
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)
        with open(f"{self.inp}/live.json") as f:
            full = json.load(f)
        self.rounds = season.rescrape_rounds(self.inp, full, PER_ROUND, self.seed)

    def remaining(self) -> int:
        return len(self.rounds) - self.landed

    def prepare(self, i: int) -> None:
        self.land()

    def op(self, i: int) -> None:
        stream(self.inp, self.state)

    def files_written(self, since_ns: int) -> int:
        return data_files(self.state, since_ns)[0]

    def retried_batches(self) -> int:
        """Planned micro-batches that never committed: a later run must
        replay them."""
        cp = f"{self.state}/checkpoint"
        ids = lambda d: {n for n in os.listdir(d) if n.isdigit()}  # noqa: E731
        return len(ids(f"{cp}/offsets") - ids(f"{cp}/commits"))

    def gate(self, spark) -> list[str]:
        """Stream gold equals batch gold rebuilt from the same raw files."""
        return gates.gold_equals_batch(spark, self.inp, f"{self.state}/gold")


def source_digest() -> str:
    """Digest of the package's and the benchmark's Python sources."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for top in (os.path.join(os.path.dirname(here), "aws_ipl_data_pipeline_spark"), here):
        for d, dirs, names in sorted(os.walk(top)):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as f:
                        h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


def timed_loop(w, seconds: float, tracer=None) -> dict:
    """Repeat the workload's operation until ``seconds`` have passed
    (at least once, and while the workload has operations left)."""
    times, files, failed = [], [], 0
    t_loop = time.perf_counter()
    i = 0
    while w.remaining() > 0:
        w.prepare(i)
        since = time.time_ns()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                w.op(i)
            else:
                with tracer.span("op", op=i):
                    w.op(i)
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"operation {i} failed: {e!r}", file=sys.stderr)
            failed += 1
        times.append(time.perf_counter() - t0)
        files.append(w.files_written(since))
        i += 1
        if time.perf_counter() - t_loop >= seconds:
            break
    return {"times": times, "files": files, "failed": failed}


if __name__ == "__main__":  # the child that builds the live season
    build_live_state(*sys.argv[1:4])
