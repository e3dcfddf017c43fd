"""Ground truth of the benchmark's input generators (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _matches(zone: str) -> list[dict]:
    out = []
    for fn in sorted(glob.glob(os.path.join(zone, "*.jsonl"))):
        with open(fn) as fh:
            out += [json.loads(line) for line in fh if line.strip()]
    return out


def _shots(zone: str):
    for m in _matches(zone):
        for s in m["content"]["shotmap"]["shots"]:
            yield m, s


def test_xg_and_xgot_are_multiples_of_1_over_1024(tmp_path):
    gen.shots_zone(str(tmp_path), seed=5, n_matches=30, shots_per_match=(15, 30), n_shards=3)
    vals = [v for _, s in _shots(str(tmp_path))
            for v in (s["expectedGoals"], s["expectedGoalsOnTarget"]) if v is not None]
    assert vals and all((v * gen.XG_QUANTUM).is_integer() for v in vals)
    # ... so a float sum is the same in any order.
    rng = random.Random(0)
    orders = [sum(rng.sample(vals, len(vals))) for _ in range(20)]
    assert len(set(orders)) == 1 and orders[0] * gen.XG_QUANTUM == sum(
        round(v * gen.XG_QUANTUM) for v in vals)


def test_leaderboard_truth_matches_a_recount(tmp_path):
    truth = gen.shots_zone(str(tmp_path), seed=9, n_matches=25, shots_per_match=(15, 30),
                           n_shards=2)
    per: dict = {}
    for _, s in _shots(str(tmp_path)):
        rec = per.setdefault(s["playerName"], [0.0, None, 0])
        rec[0] += s["expectedGoals"]
        if s["expectedGoalsOnTarget"] is not None:
            rec[1] = (rec[1] or 0.0) + s["expectedGoalsOnTarget"]
        rec[2] += 1
    want = sorted(((n, xg, xgot, c, None if xgot is None else xgot - xg)
                   for n, (xg, xgot, c) in per.items()), key=lambda r: (-r[1], r[0]))[:10]
    assert truth.leaderboard(10) == want
    assert truth.n_shots == sum(r[2] for r in per.values())


def test_fixture_edge_cases_present_for_every_seed(tmp_path):
    # Two matches: only the forced cases, so chance cannot supply them.
    for seed in range(1, 11):
        zone = str(tmp_path / str(seed))
        truth = gen.shots_zone(zone, seed=seed, n_matches=2, shots_per_match=(15, 30),
                               n_shards=2)
        matches = _matches(zone)
        homes = {m["general"]["homeTeam"]["name"] for m in matches}
        aways = {m["general"]["awayTeam"]["name"] for m in matches}
        # Raw 'Tottenham' home in one match and away in another (dag:121).
        assert "Tottenham" in homes and "Tottenham" in aways
        assert (103, "Tottenham Hotspur") in truth.teams
        assert all(name != "Tottenham" for _, name in truth.teams)
        # Two players on different teams share a name (player_dim keyed on
        # name), and one shot has every blocked/xGOT field NULL: both are
        # placed, not left to the draw.
        first = {m["matchId"]: m["content"]["shotmap"]["shots"] for m in matches}
        s00, s01 = first["4000000"][:2]
        s10 = first["4000001"][0]
        assert (s00["playerName"], s00["teamId"]) == (gen.SHARED_NAME, 103)
        assert (s10["playerName"], s10["teamId"]) == (gen.SHARED_NAME, 105)
        assert s01["blockedX"] is s01["blockedY"] is s01["expectedGoalsOnTarget"] is None
        # One event type occurring with several situations (compound dim).
        sits = {}
        for et, sit in truth.event_types:
            sits.setdefault(et, set()).add(sit)
        assert len(sits["Goal"]) >= 2
        # Every shooter belongs to one of its match's two teams.
        for m, s in _shots(zone):
            assert s["teamId"] in (m["general"]["homeTeam"]["id"], m["general"]["awayTeam"]["id"])
        # blocked_* non-NULL iff blocked; xGOT only for on-target shots.
        for _, s in _shots(zone):
            assert (s["blockedX"] is not None) == s["isBlocked"]
            assert (s["expectedGoalsOnTarget"] is not None) == (s["eventType"] in gen.ON_TARGET)


def _feed(path: str) -> list[dict]:
    rows = []
    for fn in sorted(glob.glob(os.path.join(path, "day-*.jsonl"))):
        with open(fn) as fh:
            rows += [dict(json.loads(line), file=os.path.basename(fn)) for line in fh]
    return rows


def _shingles(text: str) -> set:
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def test_planted_duplicates_identical_and_distinct_docs_share_no_shingle(tmp_path):
    truth = gen.doc_feed(str(tmp_path), seed=4, docs_per_day=60, days=3, n_groups=8, copies=2)
    rows = _feed(str(tmp_path))
    by_id = {r["doc_id"]: r for r in rows}
    assert len(rows) == truth.rows == len(by_id)
    for g in truth.groups:
        assert len({by_id[i]["text"] for i in g}) == 1
        assert len({by_id[i]["file"] for i in g}) == 1  # one day, one micro-batch
        assert g[0] in truth.distinct_ids and not set(g[1:]) & truth.distinct_ids
    seen: dict = {}
    for doc_id in truth.distinct_ids:
        for sh in _shingles(by_id[doc_id]["text"]):
            assert seen.setdefault(sh, doc_id) == doc_id
    assert all(len(by_id[i]["text"].split()) < 3 for i in truth.short_ids)
    assert truth.short_ids and not truth.short_ids & {i for g in truth.groups for i in g}


def test_feed_is_time_ordered_one_day_per_file(tmp_path):
    gen.doc_feed(str(tmp_path), seed=7, docs_per_day=40, days=3, n_groups=5, copies=2)
    rows = _feed(str(tmp_path))
    for f in {r["file"] for r in rows}:
        ts = [r["ts"] for r in rows if r["file"] == f]
        assert ts == sorted(ts) and len({t[:10] for t in ts}) == 1


def test_generators_are_deterministic_per_seed(tmp_path):
    a = gen.shots_zone(str(tmp_path / "a"), 3, 12, (15, 30), 2)
    b = gen.shots_zone(str(tmp_path / "b"), 3, 12, (15, 30), 2)
    c = gen.shots_zone(str(tmp_path / "c"), 4, 12, (15, 30), 2)
    assert _matches(str(tmp_path / "a")) == _matches(str(tmp_path / "b"))
    assert a.leaderboard(10) == b.leaderboard(10) != c.leaderboard(10)
    ra = gen.catalog_tables(str(tmp_path / "ta"), 3, 0.001)
    gen.catalog_tables(str(tmp_path / "tb"), 3, 0.001)
    import pyarrow.parquet as pq

    for t in ra:
        assert pq.read_table(str(tmp_path / "ta" / f"{t}.parquet")).equals(
            pq.read_table(str(tmp_path / "tb" / f"{t}.parquet")))
