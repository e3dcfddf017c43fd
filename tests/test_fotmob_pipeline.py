"""Golden/property tests for the FotMob star-schema pipeline (SURVEY.md
§5.2-3) on a deterministic nested fixture shaped per FIXTURES.md §1.

Edge cases exercised (reference semantics, fotmob-dag.py):
- 'Tottenham' appearing as home AND away → canonicalized in both columns
  (engine normalizes both; documented divergence from the reference's
  home-only quirk at dag:121, SURVEY.md §7.4).
- Two players sharing a name on different teams → one player_dim row
  (player_dim keyed on name, dag:132).
- Unblocked shots with NULL blocked_x/blocked_y; off-target shots with
  NULL xGOT (dag:100).
- Compound (event_type, situation) dim (dag:140).
"""

from __future__ import annotations

import json
import random
import time
from contextlib import contextmanager
from pathlib import Path

import pytest

TEAMS = [
    (1, "Arsenal"),
    (2, "Chelsea"),
    (3, "Tottenham"),
    (4, "Liverpool"),
    (5, "Manchester City"),
    (6, "Everton"),
    (7, "Brentford"),
    (8, "Fulham"),
    (9, "Newcastle United"),
    (10, "Aston Villa"),
]
EVENT_TYPES = ["Goal", "AttemptSaved", "Miss", "Post"]
SITUATIONS = ["RegularPlay", "FastBreak", "SetPiece", "FromCorner", "Penalty", "FreeKick"]
SHOT_TYPES = ["RightFoot", "LeftFoot", "Header", "OtherBodyPart"]
PLAYERS = [f"Player {chr(65 + i)}" for i in range(20)] + ["James Smith"]  # homonym


def _make_matches() -> list[dict]:
    rng = random.Random(42)
    matches = []
    shot_id = 1000
    for m in range(20):
        home = TEAMS[m % 10]
        away = TEAMS[(m + 3) % 10]
        shots = []
        for _ in range(rng.randint(15, 30)):
            team = rng.choice([home, away])
            ev = rng.choice(EVENT_TYPES)
            blocked = rng.random() < 0.2
            on_target = ev in ("Goal", "AttemptSaved")
            shots.append(
                {
                    "id": shot_id,
                    "eventType": ev,
                    "teamId": team[0],
                    # force the homonym onto two different teams
                    "playerName": "James Smith"
                    if rng.random() < 0.08
                    else rng.choice(PLAYERS[:20]),
                    "situation": rng.choice(SITUATIONS),
                    "shotType": rng.choice(SHOT_TYPES),
                    "x": round(rng.uniform(0, 105), 2),
                    "y": round(rng.uniform(0, 68), 2),
                    "isBlocked": blocked,
                    "blockedX": round(rng.uniform(80, 105), 2) if blocked else None,
                    "blockedY": round(rng.uniform(20, 48), 2) if blocked else None,
                    "goalCrossedY": round(rng.uniform(30, 38), 2),
                    "goalCrossedZ": round(rng.uniform(0, 2.4), 2),
                    "expectedGoals": round(rng.uniform(0.01, 1.0), 4),
                    "expectedGoalsOnTarget": round(rng.uniform(0.01, 1.0), 4)
                    if on_target
                    else None,
                }
            )
            shot_id += 1
        matches.append(
            {
                "matchId": str(4000000 + m),
                "general": {
                    "homeTeam": {"id": home[0], "name": home[1]},
                    "awayTeam": {"id": away[0], "name": away[1]},
                },
                "content": {"shotmap": {"shots": shots}},
            }
        )
    return matches


def _write_zone(path, matches) -> str:
    with open(path, "w") as f:
        for m in matches:
            f.write(json.dumps(m) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def zone(tmp_path_factory):
    return _write_zone(tmp_path_factory.mktemp("fotmob") / "matches.jsonl", _make_matches())


@pytest.fixture(scope="module")
def star(spark, zone):
    from fotmobdatapipeline_spark.fotmob import run_pipeline

    tables = run_pipeline(spark, zone)
    return {k: v.cache() for k, v in tables.items()}


def test_counts_preserved(star):
    n_fact = star["fact_table"].count()
    n_looker = star["looker_data"].count()
    total_shots = sum(len(m["content"]["shotmap"]["shots"]) for m in _make_matches())
    assert n_fact == total_shots
    assert n_looker == n_fact


def test_dims_dense_unique_keys(star):
    from pyspark.sql import functions as F

    for name, key in [
        ("match_dim", "match_id"),
        ("team_dim", "team_id"),
        ("player_dim", "player_id"),
        ("shot_type_dim", "shot_type_id"),
        ("event_type_dim", "event_type_id"),
    ]:
        dim = star[name]
        n = dim.count()
        stats = dim.agg(
            F.countDistinct(key).alias("d"), F.min(key).alias("lo"), F.max(key).alias("hi")
        ).first()
        assert stats["d"] == n, f"{name}: duplicate surrogate keys"
        assert (stats["lo"], stats["hi"]) == (0, n - 1), f"{name}: keys not dense 0..n-1"


def test_tottenham_canonicalized_both_sides(star):
    team_names = {r["team_name"] for r in star["team_dim"].collect()}
    assert "Tottenham Hotspur" in team_names
    assert "Tottenham" not in team_names


def test_homonym_player_collapses(star):
    from pyspark.sql import functions as F

    rows = star["player_dim"].filter(F.col("player_name") == "James Smith").collect()
    assert len(rows) == 1
    # ...but the fact keeps both teams' shots attributed to that one id
    pid = rows[0]["player_id"]
    teams = (
        star["fact_table"]
        .filter(F.col("player_id") == pid)
        .select("team_id")
        .distinct()
        .count()
    )
    assert teams >= 2


def test_fk_integrity(star):
    fact = star["fact_table"]
    n = fact.count()
    for dim, key in [
        ("match_dim", "match_id"),
        ("player_dim", "player_id"),
        ("shot_type_dim", "shot_type_id"),
        ("event_type_dim", "event_type_id"),
    ]:
        joined = fact.join(star[dim], key, "inner").count()
        assert joined == n, f"fact ⋈ {dim} lost rows ({joined} != {n})"


def test_null_semantics(star):
    from pyspark.sql import functions as F

    looker = star["looker_data"]
    assert looker.filter(~F.col("is_blocked") & F.col("blocked_x").isNotNull()).count() == 0
    assert looker.filter(F.col("is_blocked") & F.col("blocked_x").isNull()).count() == 0
    assert (
        looker.filter(F.col("event_type").isin("Miss", "Post") & F.col("xGOT").isNotNull()).count()
        == 0
    )


def test_leaderboard_sga(star):
    from fotmobdatapipeline_spark.fotmob import player_xg_leaderboard

    rows = player_xg_leaderboard(star["looker_data"], k=5).collect()
    assert len(rows) == 5
    assert rows[0]["total_xg"] >= rows[-1]["total_xg"]
    for r in rows:
        if r["total_xgot"] is not None:
            assert abs(r["sga"] - (r["total_xgot"] - r["total_xg"])) < 1e-12


STAR_TABLES = (
    "match_dim",
    "team_dim",
    "player_dim",
    "shot_type_dim",
    "event_type_dim",
    "fact_table",
    "looker_data",
)


def _n_shots(matches: list[dict]) -> int:
    return sum(len(m["content"]["shotmap"]["shots"]) for m in matches)


def _expected_dims(matches: list[dict]) -> dict[str, set]:
    """The natural keys of every dim, computed in plain Python (P2
    canonicalization applied to both team columns)."""
    canon = {"Tottenham": "Tottenham Hotspur"}
    shots = [s for m in matches for s in m["content"]["shotmap"]["shots"]]
    teams = {
        (m["general"][side]["id"], canon.get(n := m["general"][side]["name"], n))
        for m in matches
        for side in ("homeTeam", "awayTeam")
    }
    return {
        "match_dim": {(m["matchId"],) for m in matches},
        "team_dim": teams,
        "player_dim": {(s["playerName"],) for s in shots},
        "shot_type_dim": {(s["shotType"],) for s in shots},
        "event_type_dim": {(s["eventType"], s["situation"]) for s in shots},
    }


DIM_COLUMNS = {
    "match_dim": ("match_id", ["matchId"]),
    "team_dim": ("team_id", ["teamId", "team_name"]),
    "player_dim": ("player_id", ["player_name"]),
    "shot_type_dim": ("shot_type_id", ["shot_type"]),
    "event_type_dim": ("event_type_id", ["event_type", "situation"]),
}


def _json_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan json")


def test_star_tables_never_rescan_the_landing_zone(spark, zone):
    """The zone is parsed once per run_pipeline call: all seven tables
    read the shared parsed shots and the shared dims, so no table's plan
    scans the JSON itself (the unshared lineage held 26 scans)."""
    from fotmobdatapipeline_spark.fotmob import read_matches, run_pipeline

    assert _json_scans(read_matches(spark, zone)) == 1  # the probe sees scans
    tables = run_pipeline(spark, zone)
    assert sorted(tables) == sorted(STAR_TABLES)
    scans = {name: _json_scans(df) for name, df in tables.items()}
    assert scans == dict.fromkeys(STAR_TABLES, 0)


def test_rerun_over_a_regenerated_zone_reads_the_new_rows(spark, tmp_path):
    """A second call over the same path, after the zone was rewritten
    with different content, must return the new rows — the first
    call's materialized shares are never reused."""
    from fotmobdatapipeline_spark.fotmob import run_pipeline

    path = tmp_path / "matches.jsonl"
    first_matches = _make_matches()[:8]
    first = run_pipeline(spark, _write_zone(path, first_matches))
    assert first["looker_data"].count() == _n_shots(first_matches)  # materializes every share
    assert first["player_dim"].count() == len(_expected_dims(first_matches)["player_dim"])

    second_matches = _make_matches()[8:]
    for m in second_matches:
        for shot in m["content"]["shotmap"]["shots"]:
            shot["playerName"] = "Renamed " + shot["playerName"]
    second = run_pipeline(spark, _write_zone(path, second_matches))
    expected = _expected_dims(second_matches)
    assert second["fact_table"].count() == _n_shots(second_matches)
    assert second["looker_data"].count() == _n_shots(second_matches)
    for name, (_key, cols) in DIM_COLUMNS.items():
        got = {tuple(r) for r in second[name].select(*cols).collect()}
        assert got == expected[name], name
    assert {(r["player_name"],) for r in second["looker_data"].collect()} == expected["player_dim"]


def _read_star(spark, paths: dict[str, str]) -> dict[str, list]:
    return {
        name: sorted(
            (tuple(r) for r in spark.read.parquet(path).collect()),
            key=lambda t: tuple(str(v) for v in t),
        )
        for name, path in paths.items()
    }


def test_write_star_round_trips_the_fixture(spark, zone, tmp_path):
    """write_star(run_pipeline(...)) lands every table with the fixture's
    counts and keys, and a rerun over the same directory converges to
    the same rows (overwrite is idempotent)."""
    from fotmobdatapipeline_spark.fotmob import run_pipeline
    from fotmobdatapipeline_spark.sources.sinks import write_star

    base = str(tmp_path / "star")
    paths = write_star(run_pipeline(spark, zone), base)
    assert paths == {name: f"{base}/{name}" for name in STAR_TABLES}
    matches = _make_matches()
    expected = _expected_dims(matches)

    back = {name: spark.read.parquet(path) for name, path in paths.items()}
    fact = back["fact_table"].collect()
    assert len(fact) == _n_shots(matches)
    assert back["looker_data"].count() == _n_shots(matches)
    assert sorted(r["shot_id"] for r in fact) == sorted(
        s["id"] for m in matches for s in m["content"]["shotmap"]["shots"]
    )
    for name, (key, cols) in DIM_COLUMNS.items():
        rows = back[name].select(key, *cols).collect()
        assert {tuple(r)[1:] for r in rows} == expected[name], name
        keys = sorted(r[key] for r in rows)
        assert keys == list(range(len(expected[name]))), f"{name}: keys not dense"
        assert {r[key] for r in fact} <= set(keys), f"fact has a {key} missing from {name}"

    first = _read_star(spark, paths)
    assert write_star(run_pipeline(spark, zone), base) == paths
    assert _read_star(spark, paths) == first


@contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_write_star_jobs_join_the_callers_job_group(spark, zone, tmp_path):
    """Every job write_star runs — on its pool threads — carries the
    caller's job group, so a caller can attribute (and cancel) them.
    run_pipeline + write_star run at most 15 jobs: eight plan the shared
    frames (the dims' distinct and sort feed, the team lookup's
    aggregate, five lookup broadcasts) and each of the seven writes is
    one.  Five separately built dims and a reporting table that repeated
    the fact's joins ran 34."""
    from fotmobdatapipeline_spark.fotmob import run_pipeline
    from fotmobdatapipeline_spark.sources.sinks import write_star

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "fotmob-write-star-test"
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    with _job_group(sc, group):
        write_star(run_pipeline(spark, zone), str(tmp_path / "star"))
    # The status store is fed asynchronously, in job order: once a later
    # sentinel job shows up, every write_star job has been recorded.
    with _job_group(sc, group + "-sentinel"):
        spark.range(1).count()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never recorded"
        time.sleep(0.1)
    grouped = tracker.getJobIdsForGroup(group)
    assert len(STAR_TABLES) <= len(grouped) <= 15
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


def test_looker_data_equals_the_five_way_reporting_join(star):
    """looker_data, projected from the keyed frame, equals the 5-way
    denormalizing join of the returned fact and dims (sql:1-26): the
    same rows as a multiset and the same schema, nullability included."""
    from collections import Counter

    from fotmobdatapipeline_spark.fotmob import FACT_MEASURES
    from fotmobdatapipeline_spark.operators.star import denormalize

    want = denormalize(
        star["fact_table"],
        dims=[
            (star["match_dim"], "match_id", []),
            (star["player_dim"], "player_id", ["player_name"]),
            (star["team_dim"], "team_id", ["team_name"]),
            (star["shot_type_dim"], "shot_type_id", ["shot_type"]),
            (star["event_type_dim"], "event_type_id", ["event_type", "situation"]),
        ],
        measures=["shot_id", *FACT_MEASURES],
    )
    got = star["looker_data"]
    assert got.schema == want.schema
    rows = Counter(tuple(r) for r in got.collect())
    assert sum(rows.values()) == _n_shots(_make_matches())
    assert rows == Counter(tuple(r) for r in want.collect())


def test_a_warm_rerun_compiles_no_class(spark, zone, tmp_path):
    """After one run, an identical run of run_pipeline -> write_star ->
    player_xg_leaderboard in the same session finds every generated
    class in the codegen cache (the default 100 entries held too few,
    and dozens were compiled again on every run)."""
    from fotmobdatapipeline_spark.fotmob import player_xg_leaderboard, run_pipeline
    from fotmobdatapipeline_spark.sources.sinks import write_star

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def one_run():
        paths = write_star(run_pipeline(spark, zone), str(tmp_path / "star"))
        return player_xg_leaderboard(spark.read.parquet(paths["looker_data"])).collect()

    first = one_run()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    assert one_run() == first
    assert metrics.METRIC_COMPILATION_TIME().getCount() - compiled == 0


def test_importing_plans_has_no_filesystem_side_effect(tmp_path):
    """Importing the plan modules must NOT generate the JSONL landing
    zone (regression pin: the ingest oracle used to run its generator at
    @register decoration time, deleting and rewriting shards on every
    import — and racing concurrent importers).  Generation happens only
    when oracle_sql()/the plan function actually runs, via the memoized
    atomic ensure_landing_zone."""
    import subprocess
    import sys

    probe = f"""
import shutil, os, glob
from fotmobdatapipeline_spark.fotmob import LANDING_ZONE_DIR
shutil.rmtree(LANDING_ZONE_DIR, ignore_errors=True)
import fotmobdatapipeline_spark.plans.catalog as cat
cat._load_all()  # imports every plan module
assert not glob.glob(os.path.join(LANDING_ZONE_DIR, "matches-*.jsonl")), (
    "import regenerated the landing zone")
from fotmobdatapipeline_spark.plans.catalog import oracle_map
oracle_map()  # oracle assembly DOES ensure the zone exists
assert glob.glob(os.path.join(LANDING_ZONE_DIR, "matches-*.jsonl")), (
    "oracle assembly must ensure the zone")
print("OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        cwd=Path(__file__).resolve().parent.parent,
    )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-2000:]
