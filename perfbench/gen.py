"""Seeded input generators with their own plain-Python ground truth.

Nothing here imports Spark or the package under test: every expected
value a workload checks against is computed from the generated records
alone.

* :func:`shots_zone` writes a FotMob-shaped JSONL landing zone (one
  ``matchDetails`` payload per line, sharded files) and returns the
  star-schema and leaderboard facts that any correct pipeline must
  reproduce.  xG and xGOT are multiples of 1/1024, so every sum of them
  is exact in binary floating point whatever order an engine adds them
  in, and leaderboards compare with ``==``.
* :func:`catalog_tables` writes the TPC-H-shaped parquet tables the
  catalog entries of the mix read (``customer``, ``orders``,
  ``lineitem``, ``documents``, ``events``), with the column names and
  physical types of the package's test data; the catalog entries are
  checked against their DuckDB oracles over the same files.
* :func:`doc_feed` writes a time-ordered document feed, one JSONL file
  per day, with planted groups of identical documents.  Distinct
  documents share no 3-word shingle, so a near-duplicate filter keyed
  on 3-shingle minhash signatures must keep every distinct document and
  exactly one member of each planted group.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

XG_QUANTUM = 1024  # xG, xGOT are k / XG_QUANTUM

# (teamId, raw names the feed may carry).  103 arrives under two raw
# spellings; the pipeline canonicalises both to "Tottenham Hotspur".
TEAMS = (
    (101, ("Arsenal",)),
    (102, ("Chelsea",)),
    (103, ("Tottenham", "Tottenham Hotspur")),
    (104, ("Liverpool",)),
    (105, ("Everton",)),
    (106, ("Fulham",)),
    (107, ("Brentford",)),
    (108, ("Brighton",)),
    (109, ("Burnley",)),
    (110, ("Wolves",)),
)
CANON = {"Tottenham": "Tottenham Hotspur"}
SHARED_NAME = "Sam Reed"  # on two different teams' rosters
EVENT_TYPES = ("Goal", "AttemptSaved", "Miss", "Post")
SITUATIONS = ("RegularPlay", "FastBreak", "SetPiece", "FromCorner", "Penalty", "FreeKick")
SHOT_TYPES = ("RightFoot", "LeftFoot", "Header", "OtherBodyPart")
ON_TARGET = ("Goal", "AttemptSaved")  # the only event types with an xGOT


def _canon(name: str) -> str:
    return CANON.get(name, name)


def _roster(team_id: int) -> list[str]:
    names = [f"P{team_id}-{i:02d}" for i in range(14)]
    if team_id in (103, 105):
        names[0] = SHARED_NAME
    return names


@dataclass
class ShotsTruth:
    """What a correct star build over the zone must contain."""

    n_matches: int
    n_shots: int
    zone_bytes: int
    teams: set = field(default_factory=set)  # {(teamId, canonical name)}
    players: set = field(default_factory=set)
    shot_types: set = field(default_factory=set)
    event_types: set = field(default_factory=set)  # {(event_type, situation)}
    # player -> [xg_units, xgot_units or None, shots]
    per_player: dict = field(default_factory=dict)

    def leaderboard(self, k: int) -> list[tuple]:
        """(player_name, total_xg, total_xgot, shots, sga) ordered like
        ``player_xg_leaderboard``: total xG descending, then name."""
        rows = []
        for name, (xg, xgot, shots) in self.per_player.items():
            txg = xg / XG_QUANTUM
            txgot = None if xgot is None else xgot / XG_QUANTUM
            rows.append((name, txg, txgot, shots, None if txgot is None else txgot - txg))
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]


def _shot(rng: random.Random, shot_id: int, team_id: int, player: str, *,
          event_type=None, situation=None, blocked=None) -> dict:
    event_type = event_type or rng.choice(EVENT_TYPES)
    blocked = rng.random() < 0.25 if blocked is None else blocked
    x, y = rng.randint(0, 105 * 4) / 4, rng.randint(0, 68 * 4) / 4
    return {
        "id": shot_id,
        "eventType": event_type,
        "teamId": team_id,
        "playerName": player,
        "situation": situation or rng.choice(SITUATIONS),
        "shotType": rng.choice(SHOT_TYPES),
        "x": x,
        "y": y,
        "isBlocked": blocked,
        "blockedX": x + 0.5 if blocked else None,
        "blockedY": y - 0.25 if blocked else None,
        "goalCrossedY": rng.randint(0, 64) / 8,
        "goalCrossedZ": rng.randint(0, 16) / 8,
        "expectedGoals": rng.randint(1, XG_QUANTUM) / XG_QUANTUM,
        "expectedGoalsOnTarget": (
            rng.randint(0, XG_QUANTUM) / XG_QUANTUM if event_type in ON_TARGET else None
        ),
    }


def shots_zone(path: str, seed: int, n_matches: int, shots_per_match: tuple[int, int],
               n_shards: int) -> ShotsTruth:
    """Write the landing zone under ``path`` and return its ground truth.

    Fixed edge cases (FIXTURES.md §1), present for every seed:
    match 0 has Tottenham (raw ``Tottenham``) at home and match 1 has it
    away; ``SHARED_NAME`` shoots for teams 103 and 105; one shot has
    every blocked/xGOT field NULL; ``Goal`` occurs with two situations.
    """
    rng = random.Random(seed)
    # Shots per match come from a fixed stream, so every seed writes the
    # same number of shots and only their content varies.
    sizes = random.Random(n_matches)
    os.makedirs(path, exist_ok=True)
    shards: list[list[str]] = [[] for _ in range(n_shards)]
    truth = ShotsTruth(n_matches=n_matches, n_shots=0, zone_bytes=0)
    team_ids = [t for t, _ in TEAMS]
    raw_names = dict(TEAMS)
    for m in range(n_matches):
        if m == 0:
            home, away = 103, 105
        elif m == 1:
            home, away = 105, 103
        else:
            home, away = rng.sample(team_ids, 2)
        names = {}
        for t in (home, away):
            raw = raw_names[t][0] if m < 2 else rng.choice(raw_names[t])
            names[t] = raw
            truth.teams.add((t, _canon(raw)))
        shots = []
        n = sizes.randint(*shots_per_match)
        for j in range(n):
            team = home if rng.random() < 0.5 else away
            player = rng.choice(_roster(team))
            kw = {}
            if m < 2 and j == 0:
                team, player = (103, SHARED_NAME) if m == 0 else (105, SHARED_NAME)
            if m == 0 and j == 1:
                kw = {"event_type": "Miss", "blocked": False}  # all-NULL blocked/xGOT
            if m == 0 and j in (2, 3):
                kw = {"event_type": "Goal", "situation": ("RegularPlay", "Penalty")[j - 2]}
            shot = _shot(rng, m * 1000 + j, team, player, **kw)
            shots.append(shot)
            truth.players.add(player)
            truth.shot_types.add(shot["shotType"])
            truth.event_types.add((shot["eventType"], shot["situation"]))
            rec = truth.per_player.setdefault(player, [0, None, 0])
            rec[0] += round(shot["expectedGoals"] * XG_QUANTUM)
            if shot["expectedGoalsOnTarget"] is not None:
                rec[1] = (rec[1] or 0) + round(shot["expectedGoalsOnTarget"] * XG_QUANTUM)
            rec[2] += 1
        truth.n_shots += n
        payload = {
            "matchId": str(4_000_000 + m),
            "general": {
                "homeTeam": {"id": home, "name": names[home]},
                "awayTeam": {"id": away, "name": names[away]},
            },
            "content": {"shotmap": {"shots": shots}},
        }
        shards[m % n_shards].append(json.dumps(payload))
    for s, lines in enumerate(shards):
        fn = os.path.join(path, f"matches-{s:03d}.jsonl")
        with open(fn, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        truth.zone_bytes += os.path.getsize(fn)
    return truth


# Shared vocabulary interleaved with per-document tokens: every 3-word
# window holds at least one token unique to its document.
_COMMON = ("the", "model", "data", "token", "a", "of", "train", "text", "web", "page")
FEED_START = datetime(2024, 3, 1, tzinfo=timezone.utc)


@dataclass
class FeedTruth:
    distinct_ids: set  # one id per distinct text; a group's is its original
    groups: list  # [[original id, copy ids...]]; exactly one member lands
    rows: int  # rows staged in the feed, copies included
    days: int
    short_ids: set  # documents too short to shingle (pass through)


def _doc_text(rng: random.Random, doc: int, words: int) -> str:
    out = []
    for j in range(words):
        if j % 2:
            out.append(f"u{doc}x{j}{rng.randrange(36 ** 3):x}")
        else:
            out.append(rng.choice(_COMMON))
    return " ".join(out)


def doc_feed(path: str, seed: int, docs_per_day: int, days: int, n_groups: int,
             copies: int) -> FeedTruth:
    """Stage ``days`` JSONL files (``day-NN.jsonl``), time-ordered.

    Each day holds ``docs_per_day`` distinct documents, two of them too
    short to shingle.  ``n_groups`` of the long documents are each
    re-sent ``copies`` more times, under new ids, 1 to 30 minutes after
    the original and on the same day.
    """
    rng = random.Random(seed)
    os.makedirs(path, exist_ok=True)
    distinct, short, groups, n_rows = set(), set(), [], 0
    next_id = 1
    long_docs = []
    per_day: list[list[tuple]] = [[] for _ in range(days)]
    for d in range(days):
        for i in range(docs_per_day):
            doc_id = next_id
            next_id += 1
            # Leave the last 40 minutes of the day free for copies.
            ts = FEED_START + timedelta(days=d, seconds=rng.randrange(0, 86_400 - 2_400))
            words = 2 if i < 2 else rng.randint(12, 40)
            per_day[d].append((ts, doc_id, _doc_text(rng, doc_id, words)))
            distinct.add(doc_id)
            if words < 3:
                short.add(doc_id)
            else:
                long_docs.append((d, ts, doc_id))
    by_id = {doc_id: (ts, text) for day in per_day for ts, doc_id, text in day}
    for d, ts, doc_id in rng.sample(long_docs, n_groups):
        group = [doc_id]
        for _ in range(copies):
            copy_id = next_id
            next_id += 1
            per_day[d].append((ts + timedelta(minutes=rng.randint(1, 30)), copy_id, by_id[doc_id][1]))
            group.append(copy_id)
        groups.append(group)
    for d, rows in enumerate(per_day):
        rows.sort()
        n_rows += len(rows)
        with open(os.path.join(path, f"day-{d:02d}.jsonl"), "w") as fh:
            for ts, doc_id, text in rows:
                fh.write(json.dumps({
                    "doc_id": doc_id,
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "text": text,
                }) + "\n")
    return FeedTruth(distinct_ids=distinct, groups=groups, rows=n_rows, days=days,
                     short_ids=short)


_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DOC_WORDS = ("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
              "hash", "merge", "batch", "spark", "line", "sort", "window", "the", "a",
              "join", "shuffle", "plan", "query", "disk", "cache", "codegen", "filter",
              "group", "stream", "state", "sink")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def catalog_tables(path: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<path>/<table>.parquet`` for the catalog mix at scale
    ``sf`` (row counts as TPC-H: 150k customers, 1.5M orders, 4 lines
    per order per unit of sf; 50k documents and 1M events per unit).
    About one document in seven repeats the text of an earlier one, so
    the dedup entries find clusters.  Returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_orders = int(150_000 * sf), int(1_500_000 * sf)
    n_lines, n_docs, n_events = 4 * n_orders, int(50_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 100)
    day_us = 86_400 * 1_000_000
    epoch_1992_us = 694_224_000 * 1_000_000
    jan_2024_us = 1_704_067_200 * 1_000_000

    def money(lo_cents, hi_cents, n):
        return rng.integers(lo_cents, hi_cents, n) / 100.0

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                        pa.string())

    def ts(start_us, span_us, n):
        return pa.array(start_us + rng.integers(0, span_us, n), pa.timestamp("us"))

    keys = np.arange(1, n_cust + 1, dtype=np.int64)
    tables = {
        "customer": pa.table({
            "c_custkey": keys,
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-99_999, 999_999, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_orders, dtype=np.int64),
            "o_orderstatus": pick(("F", "O", "P"), n_orders),
            "o_totalprice": money(100_000, 50_000_000, n_orders),
            "o_orderdate": ts(epoch_1992_us, 2400 * day_us, n_orders),
            "o_orderpriority": pick(_PRIORITIES, n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), 4),
            "l_partkey": rng.integers(1, int(200_000 * sf) + 1, n_lines, dtype=np.int64),
            "l_suppkey": rng.integers(1, int(10_000 * sf) + 1, n_lines, dtype=np.int64),
            "l_linenumber": np.tile(np.arange(1, 5, dtype=np.int32), n_orders),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": money(100_000, 10_000_000, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": pick(("R", "A", "N"), n_lines),
            "l_linestatus": pick(("O", "F"), n_lines),
            "l_shipdate": ts(epoch_1992_us, 2400 * day_us, n_lines),
        }),
        "events": pa.table({
            "event_id": np.arange(1, n_events + 1, dtype=np.int64),
            "ts": ts(jan_2024_us, 30 * day_us, n_events),
            "user_id": rng.integers(1, n_users + 1, n_events, dtype=np.int64),
            "event_type": pick(_EVENT_TYPES, n_events),
            "value": rng.integers(0, 56_022, n_events) / 100.0,
            "props": pa.array(["{}"] * n_events, pa.string()),
        }),
    }
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 13 and rng.random() < 1 / 7:
            texts.append(texts[i - int(rng.integers(1, 13))])
        else:
            words = rng.integers(0, len(_DOC_WORDS), int(rng.integers(30, 160)))
            texts.append(" ".join(_DOC_WORDS[w] for w in words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pick(("en", "en", "en", "de", "fr"), n_docs),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 10, n_docs)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(path, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def split_day_feed(path: str) -> set:
    """Two files whose documents share one day (no seed: fixed input).
    Returns the ids that must all land."""
    rng = random.Random(0)
    os.makedirs(path, exist_ok=True)
    ids = set()
    for f in range(2):
        with open(os.path.join(path, f"split-{f}.jsonl"), "w") as fh:
            for i in range(3):
                doc_id = 10 * (f + 1) + i
                ts = FEED_START + timedelta(hours=6 * f + i)
                fh.write(json.dumps({"doc_id": doc_id, "ts": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                                     "text": _doc_text(rng, doc_id, 12)}) + "\n")
                ids.add(doc_id)
    return ids
