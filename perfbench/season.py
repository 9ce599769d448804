"""Deterministic, seeded synthetic IPL season in the reference's raw layout.

Writes under ``out``:

- ``raw/<match>/<match>-1.csv``: one scrape per match, columns in
  ``schemas.RAW_DELIVERIES`` order, about 240 deliveries with extras
  and wickets;
- ``raw/<match>/<match>-2.csv`` for a share of matches: an exact
  duplicate of a tail of the first scrape (rescrape overlap);
- ``meta/<match>_meta.json``: one match-meta object per match;
- ``players/players.jsonl``: the player catalog;
- ``truth.json``: the generator's parameters and the ground truth
  (unique delivery count, runs per batting team).

Player names in the raw rows are replaced by a one-edit spelling variant
at ``variant_share``; the silver fuzzy normalizer maps them back to the
catalog. Every delivery has a distinct ``(match, innings, over, ball,
rebowl)`` key, so the ground truth is exactly what silver must hold.

The same seed and parameters give byte-identical files.
"""

from __future__ import annotations

import csv
import json
import os
import random
from dataclasses import asdict, dataclass

RAW_COLUMNS = [
    "match", "date", "time", "venue", "over", "ball", "bowler", "batsman",
    "ball_event", "event_info", "extract_time",
]
META_COLUMNS = [
    "match", "short_name", "home_team", "away_team", "date", "time", "venue",
    "toss_winner", "toss_decision",
]

TEAMS = [
    ("MUM", "Mumbai Mariners", "Harbour Stadium"),
    ("CHE", "Chennai Chargers", "Marina Oval"),
    ("KOL", "Kolkata Knights", "Eden Park"),
    ("BLR", "Bengaluru Blazers", "Garden Ground"),
    ("DEL", "Delhi Dynamos", "Capital Arena"),
    ("HYD", "Hyderabad Hawks", "Pearl Stadium"),
    ("PUN", "Punjab Panthers", "Mohali Field"),
    ("RAJ", "Rajasthan Royals XI", "Pink City Oval"),
]
FIRST = [
    "Aarav", "Bhavesh", "Chandan", "Devang", "Eshan", "Farhan", "Gautam",
    "Harsh", "Ishaan", "Jatin", "Kunal", "Lokesh", "Manav", "Nikhil",
    "Omkar", "Pranav", "Qadir", "Rohan", "Sahil", "Tarun", "Umesh",
    "Varun", "Yash", "Zubin",
]
LAST = [
    "Acharya", "Banerjee", "Chopra", "Deshpande", "Engineer", "Fernandes",
    "Gokhale", "Hegde", "Iyengar", "Joshi", "Kulkarni", "Lobo", "Mistry",
    "Nadkarni", "Oberoi", "Pillai", "Qureshi", "Rathore", "Sawant",
    "Thakur", "Upadhyay", "Vaswani", "Wadia", "Zaveri",
]
SQUAD = 15

# legal-ball events and their runs, as functions/events.parse_ball_event
# reads them
LEGAL = [
    ("no run", 0), ("1 run", 1), ("2 runs", 2), ("3 runs", 3),
    ("four", 4), ("six", 6),
]
LEGAL_WEIGHTS = [34, 36, 10, 1, 12, 5]
OUTS = [
    "out Bowled through the gate", "out Caught at long on",
    "out Lbw plumb in front", "out Stumped down the leg side",
]
INFO_RUNS = [("", 0), ("1 run; scampered through", 1), ("four; raced away", 4)]


@dataclass(frozen=True)
class SeasonParams:
    n_matches: int
    seed: int
    variant_share: float = 0.08  # raw names replaced by a spelling variant
    overlap_share: float = 0.25  # matches with an exact-duplicate rescrape file
    overlap_rows: int = 40  # rows duplicated by each overlap file


def _players(rng: random.Random) -> dict[str, list[str]]:
    names = [f"{f} {l}" for f in FIRST for l in LAST]
    rng.shuffle(names)
    return {
        full: names[i * SQUAD:(i + 1) * SQUAD]
        for i, (_, full, _) in enumerate(TEAMS)
    }


def _variant(rng: random.Random, name: str) -> str:
    """One-edit spelling variant that stays well above the fuzzy cutoff."""
    i = rng.randrange(1, len(name) - 1)
    if name[i] == " ":
        i += 1
    if rng.random() < 0.5:
        return name[:i] + name[i] + name[i:]  # doubled letter
    return name[:i] + name[i + 1:]  # dropped letter


def _schedule(rng: random.Random, n: int) -> list[tuple[int, int]]:
    pairs = [(h, a) for h in range(len(TEAMS)) for a in range(len(TEAMS)) if h != a]
    out = []
    while len(out) < n:
        rng.shuffle(pairs)
        out.extend(pairs)
    return out[:n]


def _innings(rng, bat_squad, bowl_squad, target=None):
    """One innings as (over, ball, bowler, batsman, event, info, runs) rows."""
    rows = []
    order = bat_squad[:11]
    bowlers = bowl_squad[-5:]
    striker, other, nxt, wickets, score = 0, 1, 2, 0, 0
    for over in range(20):
        bowler = bowlers[over % 5]
        for ball in range(1, 7):
            bat = order[striker]
            # at most one illegal delivery per ball slot keeps the
            # (over, ball, rebowl) key unique
            r = rng.random()
            if r < 0.035:
                ev, info = "wide", ""
                rows.append((over, ball, bowler, bat, ev, info, 1))
                score += 1
            elif r < 0.05:
                info, extra = rng.choice(INFO_RUNS)
                rows.append((over, ball, bowler, bat, "no ball", info, 1 + extra))
                score += 1 + extra
            elif r < 0.053:
                rows.append((over, ball, bowler, bat, "5 wides", "", 5))
                score += 5
            r = rng.random()
            if r < 0.045 and wickets < 9:
                rows.append((over, ball, bowler, bat, rng.choice(OUTS), "", 0))
                wickets += 1
                striker, nxt = nxt, nxt + 1
            elif r < 0.065:
                info, runs = rng.choice(INFO_RUNS[1:])
                ev = rng.choice(["byes", "leg byes"])
                rows.append((over, ball, bowler, bat, ev, info, runs))
                score += runs
            else:
                ev, runs = rng.choices(LEGAL, LEGAL_WEIGHTS)[0]
                rows.append((over, ball, bowler, bat, ev, "", runs))
                score += runs
                if runs % 2 == 1:
                    striker, other = other, striker
            if target is not None and score > target:
                return rows, score
        striker, other = other, striker
    return rows, score


def generate(out: str, params: SeasonParams) -> dict:
    """Write the season under ``out`` and return the ground truth."""
    rng = random.Random(params.seed)
    squads = _players(rng)
    os.makedirs(f"{out}/meta", exist_ok=True)
    os.makedirs(f"{out}/players", exist_ok=True)
    with open(f"{out}/players/players.jsonl", "w") as f:
        for _, full, _ in TEAMS:
            for i, name in enumerate(squads[full]):
                f.write(json.dumps({
                    "Name": name, "Team": full, "Country": "India",
                    "Role": "Bowler" if i >= 10 else "Batter",
                    "Keeper": i == 4, "Batting Style": "Right-hand bat",
                    "Bowling Style": "Right-arm medium", "Born": "1995-01-01",
                }) + "\n")

    runs_by_team: dict[str, int] = {}
    deliveries = 0
    raw_rows = 0
    matches = []
    for mi, (h, a) in enumerate(_schedule(rng, params.n_matches)):
        home_abbr, home, venue = TEAMS[h]
        away_abbr, away, _ = TEAMS[a]
        short = f"{mi + 1:04d}_{home_abbr}vs{away_abbr}"
        matches.append(short)
        day = f"Apr {mi % 28 + 1:02d}"
        toss_winner = rng.choice([home, away])
        decision = rng.choice(["bat", "field"])
        meta = dict(zip(META_COLUMNS, [
            f"Match {mi + 1}", short, home, away, day, "7:30", venue,
            _variant(rng, toss_winner) if rng.random() < 0.3 else toss_winner,
            decision,
        ]))
        with open(f"{out}/meta/{short}_meta.json", "w") as f:
            json.dump(meta, f)
        loser = away if toss_winner == home else home
        first = toss_winner if decision == "bat" else loser
        second = loser if first == toss_winner else toss_winner
        inn1, s1 = _innings(rng, squads[first], squads[second])
        inn2, s2 = _innings(rng, squads[second], squads[first], target=s1)
        runs_by_team[first] = runs_by_team.get(first, 0) + s1
        runs_by_team[second] = runs_by_team.get(second, 0) + s2
        rows = []
        seq = 0
        for over, ball, bowler, bat, ev, info, _ in inn1 + inn2:
            if rng.random() < params.variant_share:
                bat = _variant(rng, bat)
            if rng.random() < params.variant_share:
                bowler = _variant(rng, bowler)
            rows.append([
                short, day, "7:30", venue, over, ball, bowler, bat, ev, info,
                f"2026-04-{mi % 28 + 1:02d} {14 + seq // 3600:02d}:"
                f"{seq // 60 % 60:02d}:{seq % 60:02d}.000000",
            ])
            seq += 1
        deliveries += len(rows)
        d = f"{out}/raw/{short}"
        os.makedirs(d, exist_ok=True)
        write_csv(f"{d}/{short}-1.csv", rows)
        raw_rows += len(rows)
        if rng.random() < params.overlap_share:
            tail = rows[-params.overlap_rows:]
            write_csv(f"{d}/{short}-2.csv", tail)
            raw_rows += len(tail)
    truth = {
        "params": asdict(params),
        "matches": matches,
        "raw_rows": raw_rows,
        "unique_deliveries": deliveries,
        "runs_by_team": dict(sorted(runs_by_team.items())),
    }
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def write_csv(path: str, rows: list) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(RAW_COLUMNS)
        w.writerows(rows)


STAGES = (0.25, 0.5, 0.75, 1.0)  # share of a live match's deliveries per scrape


def make_live(season_dir: str, truth: dict, n_live: int) -> dict[str, list]:
    """Turn a generated season into a live one, in place, and return the
    complete rows of its live matches.

    The last ``n_live`` matches become matches in progress: their raw
    directory keeps only the first ``STAGES[0]`` share of the deliveries.
    """
    full = {}
    for m in truth["matches"][-n_live:]:
        d = f"{season_dir}/raw/{m}"
        with open(f"{d}/{m}-1.csv", newline="") as f:
            full[m] = list(csv.reader(f))[1:]
        for name in os.listdir(d):
            os.remove(f"{d}/{name}")
        write_csv(f"{d}/{m}-1.csv", full[m][:round(len(full[m]) * STAGES[0])])
    return full


def rescrape_rounds(
    season_dir: str, full: dict[str, list], per_round: int, seed: int,
) -> list[list[tuple[str, list]]]:
    """The rescrape rounds of a live season made by ``make_live``.

    Each round is a list of ``(path, rows)`` files to land: for
    ``per_round`` live matches, a new scrape holding the match's
    deliveries up to its next stage, which repeats every delivery of its
    previous scrape exactly. The least advanced matches go first, ties in
    an order drawn from ``seed``. Landing every round restores the
    complete season.
    """
    rng = random.Random(seed)
    stage = dict.fromkeys(sorted(full), 0)
    rounds = []
    while any(k < len(STAGES) - 1 for k in stage.values()):
        todo = [m for m in stage if stage[m] < len(STAGES) - 1]
        rng.shuffle(todo)
        todo.sort(key=stage.get)
        landing = []
        for m in todo[:per_round]:
            stage[m] += 1
            landing.append((f"{season_dir}/raw/{m}/{m}-s{stage[m]}.csv",
                            full[m][:round(len(full[m]) * STAGES[stage[m]])]))
        rounds.append(landing)
    return rounds
