"""The FotMob pipeline, rebuilt Spark-first: nested match payloads →
flat shots → star schema → denormalized reporting table → metrics.

This module is the end-to-end reference-parity surface.  Each step cites
the reference operator it re-expresses (SURVEY.md §2); all of it is
declarative DataFrame API, so Catalyst handles pruning/pushdown and every
dim lookup is a broadcast-hash join.

Reference: torresroger776/FotmobDataPipeline fotmob-dag.py (dag:N) and
sql/create_looker_data_table.sql (sql:N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fotmobdatapipeline_spark.functions.cleaning import canonicalize_values, rename_columns
from fotmobdatapipeline_spark.operators.star import build_dim, build_fact, denormalize

# Schema of one FotMob matchDetails payload as consumed by the reference
# (dag:74-80); explicit so ingestion never depends on sampling inference.
SHOT_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("eventType", StringType()),
        StructField("teamId", LongType()),
        StructField("playerName", StringType()),
        StructField("situation", StringType()),
        StructField("shotType", StringType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("isBlocked", BooleanType()),
        StructField("blockedX", DoubleType()),
        StructField("blockedY", DoubleType()),
        StructField("goalCrossedY", DoubleType()),
        StructField("goalCrossedZ", DoubleType()),
        StructField("expectedGoals", DoubleType()),
        StructField("expectedGoalsOnTarget", DoubleType()),
    ]
)

TEAM_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("name", StringType())]
)

MATCH_SCHEMA = StructType(
    [
        StructField("matchId", StringType()),
        StructField(
            "general",
            StructType(
                [
                    StructField("homeTeam", TEAM_SCHEMA),
                    StructField("awayTeam", TEAM_SCHEMA),
                ]
            ),
        ),
        StructField(
            "content",
            StructType(
                [
                    StructField(
                        "shotmap",
                        StructType([StructField("shots", ArrayType(SHOT_SCHEMA))]),
                    )
                ]
            ),
        ),
    ]
)

# P1 — the 13-column rename map (dag:103-118).
RENAME_MAP = {
    "id": "shot_id",
    "eventType": "event_type",
    "playerName": "player_name",
    "shotType": "shot_type",
    "x": "shot_from_x",
    "y": "shot_from_y",
    "isBlocked": "is_blocked",
    "blockedX": "blocked_x",
    "blockedY": "blocked_y",
    "goalCrossedY": "goal_crossed_y",
    "goalCrossedZ": "goal_crossed_z",
    "expectedGoals": "xG",
    "expectedGoalsOnTarget": "xGOT",
}

# P2 — value canonicalization (dag:121).  The reference patches only
# home_team_name; we normalize both (documented divergence, SURVEY §7.4).
TEAM_NAME_CANON = {"Tottenham": "Tottenham Hotspur"}

FACT_MEASURES = (
    "xG",
    "xGOT",
    "shot_from_x",
    "shot_from_y",
    "is_blocked",
    "blocked_x",
    "blocked_y",
    "goal_crossed_y",
    "goal_crossed_z",
)


LANDING_ZONE_DIR = "/tmp/spark_graft_fotmob_landing"


_LANDING_ZONE_READY: set[tuple[str, int, int]] = set()


def _zone_shards_present(path: str, n_matches: int) -> bool:
    """Cheap memo re-validation: every shard file the generator would
    write exists (shards are matches-{m % 3}.jsonl)."""
    import os

    expected = {m % 3 for m in range(n_matches)}
    return all(
        os.path.isfile(os.path.join(path, f"matches-{s}.jsonl")) for s in expected
    )


def ensure_landing_zone(
    path: str = LANDING_ZONE_DIR, n_matches: int = 6, shots_per_match: int = 10
) -> str:
    """Memoized, race-safe entry point: generate the deterministic landing
    zone exactly once per process.  Safe to call from both the plan
    builder and the oracle-assembly hook in either order; concurrent
    processes converge because generation is per-shard atomic
    (write-tmp-then-os.replace) and the content is byte-deterministic.

    The memo is keyed on (path, n_matches, shots_per_match) — a
    differently-shaped regeneration request is never skipped — and is
    re-validated against the filesystem before being trusted, so a zone
    deleted mid-process (e.g. a test cleaning /tmp) is regenerated
    instead of silently globbing empty."""
    memo_key = (path, n_matches, shots_per_match)
    if memo_key not in _LANDING_ZONE_READY or not _zone_shards_present(
        path, n_matches
    ):
        generate_landing_zone(path, n_matches, shots_per_match)
        # A regeneration overwrites the zone's content wholesale, so any
        # memo entry for the same path with OTHER params is now stale.
        _LANDING_ZONE_READY.difference_update(
            {k for k in _LANDING_ZONE_READY if k[0] == path}
        )
        _LANDING_ZONE_READY.add(memo_key)
    return path


def generate_landing_zone(
    path: str = LANDING_ZONE_DIR, n_matches: int = 6, shots_per_match: int = 10
) -> str:
    """Write a deterministic fotmob-shaped JSONL landing zone (the S2
    surface: one matchDetails payload per line, sharded files).  Pure
    arithmetic content — same bytes every run — so ingestion queries over
    it are oracle-comparable.  Includes a raw 'Tottenham' name variant to
    exercise the P2 canonicalization (dag:121) and null blocked_* fields
    to exercise nullable nested leaves.

    Race-safe: each shard is written to a pid-suffixed temp file and
    os.replace()d into place (atomic on POSIX), so a concurrent reader
    sees either the old complete shard or the new complete shard, never a
    half-written file; concurrent generators write identical bytes."""
    import json
    import os

    teams = ["Arsenal", "Chelsea", "Tottenham", "Liverpool", "Everton", "Fulham"]
    os.makedirs(path, exist_ok=True)
    shards: dict[int, list] = {}
    for m in range(n_matches):
        hi, ai = m % len(teams), (m + 1) % len(teams)
        shots = []
        for j in range(shots_per_match):
            blocked = j % 4 == 0
            x = 85.0 + j * 0.25
            y = 30.0 + ((j * 13) % 40) * 0.5
            xg = ((m * 10 + j) % 100) * 0.01 + 0.01
            shots.append(
                {
                    "id": m * 1000 + j,
                    "eventType": "Goal" if j % 5 == 0
                    else ("AttemptSaved" if j % 3 == 0 else "Miss"),
                    "teamId": 100 + (hi if j % 2 == 0 else ai),
                    "playerName": f"Player {(m * 7 + j) % 17}",
                    "situation": ["RegularPlay", "FastBreak", "SetPiece", "FromCorner"][j % 4],
                    "shotType": ["RightFoot", "LeftFoot", "Header"][j % 3],
                    "x": x,
                    "y": y,
                    "isBlocked": blocked,
                    "blockedX": x + 0.5 if blocked else None,
                    "blockedY": y - 0.25 if blocked else None,
                    "goalCrossedY": 32.0 + (j % 8) * 0.125,
                    "goalCrossedZ": (j % 5) * 0.25,
                    "expectedGoals": xg,
                    "expectedGoalsOnTarget": xg / 2 if j % 5 == 0 else 0.0,
                }
            )
        payload = {
            "matchId": str(4000000 + m),
            "general": {
                "homeTeam": {"name": teams[hi], "id": 100 + hi},
                "awayTeam": {"name": teams[ai], "id": 100 + ai},
            },
            "content": {"shotmap": {"shots": shots}},
        }
        shards.setdefault(m % 3, []).append(payload)
    expected = {f"matches-{s}.jsonl" for s in shards}
    for s, payloads in sorted(shards.items()):
        final = os.path.join(path, f"matches-{s}.jsonl")
        tmp = f"{final}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            for p in payloads:
                fh.write(json.dumps(p) + "\n")
        os.replace(tmp, final)
    # Remove stale shards AFTER the atomic replaces: an older run with a
    # larger n_matches would leave extra matches-*.jsonl files that BOTH
    # engines glob, so the zone must contain exactly this call's output.
    import glob

    for f in glob.glob(os.path.join(path, "matches-*.jsonl")):
        if os.path.basename(f) not in expected and not f.endswith(
            f".tmp.{os.getpid()}"
        ):
            try:
                os.remove(f)
            except FileNotFoundError:
                pass  # a concurrent generator already removed it
    return path


def read_matches(spark, path: str) -> DataFrame:
    """S2 ingestion: landing-zone JSON (one matchDetails payload per line)
    with the explicit nested schema.  At scale this is a partitioned
    landing zone; schema-on-read, no driver-side materialization."""
    return spark.read.schema(MATCH_SCHEMA).json(path)


def flatten_shots(matches: DataFrame) -> DataFrame:
    """S4-S7: nested field extraction, array explode, per-shot enrichment
    with the five match-level columns (dag:74-100).  One narrow projection
    — no shuffle."""
    return matches.select(
        F.col("matchId"),
        F.col("general.homeTeam.name").alias("home_team_name"),
        F.col("general.homeTeam.id").alias("home_team_id"),
        F.col("general.awayTeam.name").alias("away_team_name"),
        F.col("general.awayTeam.id").alias("away_team_id"),
        F.explode("content.shotmap.shots").alias("shot"),
    ).select("matchId", "home_team_name", "home_team_id", "away_team_name", "away_team_id", "shot.*")


def clean_shots(flat: DataFrame) -> DataFrame:
    """P1 + P2 (dag:103-121)."""
    renamed = rename_columns(flat, RENAME_MAP)
    return canonicalize_values(renamed, ["home_team_name", "away_team_name"], TEAM_NAME_CANON)


def build_team_dim(clean: DataFrame) -> DataFrame:
    """D3 (dag:128-129): union of (home, away) projections → distinct →
    surrogate key.  The reference's keys are accidentally non-contiguous;
    we emit dense deterministic keys and tests assert join integrity, not
    the accident (SURVEY.md §4.3-2)."""
    home = clean.select(
        F.col("home_team_name").alias("team_name"), F.col("home_team_id").alias("teamId")
    )
    away = clean.select(
        F.col("away_team_name").alias("team_name"), F.col("away_team_id").alias("teamId")
    )
    return build_dim(home.unionByName(away), ["teamId", "team_name"], "team_id")


def build_star(clean: DataFrame) -> dict[str, DataFrame]:
    """D1-D6 + J1 + P3 (dag:124-153): five dims + the fact table.

    Each dim is built once: it is a lazy local checkpoint, so its own
    write, its fact lookup and its ``looker_data`` lookup all read the
    same materialized rows instead of each re-running the distinct and
    the dense-key sort.  Under AQE, checkpointing a dim runs its shuffle
    stages (the distinct and the single-partition sort feed) here, at
    build time; the key assignment runs at the dim's first use.  The
    fact is not checkpointed: the ``team_lookup`` guard below still
    raises when the fact executes."""
    match_dim, team_dim, player_dim, shot_type_dim, event_type_dim = (
        dim.localCheckpoint(eager=False)
        for dim in (
            build_dim(clean, ["matchId"], "match_id"),
            build_team_dim(clean),
            build_dim(clean, ["player_name"], "player_id"),  # keyed on name, dag:132
            build_dim(clean, ["shot_type"], "shot_type_id"),
            build_dim(clean, ["event_type", "situation"], "event_type_id"),
        )
    )

    # J1: the shot joins team_dim on its own teamId (the shooting team,
    # dag:146) — join on teamId only, so the dim lookup must be unique per
    # teamId; team_name rides along from the dim at denormalize time.
    # Uniqueness is enforced IN the lazy plan: if an un-canonicalized name
    # variant ever gives one teamId two surrogate keys, the lookup raises
    # at execution instead of silently fanning out fact rows.
    team_lookup = (
        team_dim.groupBy("teamId")
        .agg(F.min("team_id").alias("team_id"), F.count("*").alias("__n_names"))
        .select(
            "teamId",
            F.when(F.col("__n_names") == 1, F.col("team_id"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("teamId "),
                        F.col("teamId").cast("string"),
                        F.lit(
                            " maps to multiple team_dim rows — extend "
                            "TEAM_NAME_CANON for the new name variant"
                        ),
                    )
                )
            )
            .alias("team_id"),
        )
    )
    fact = build_fact(
        clean,
        dims=[
            (match_dim, ["matchId"], "match_id"),
            (team_lookup, ["teamId"], "team_id"),
            (player_dim, ["player_name"], "player_id"),
            (shot_type_dim, ["shot_type"], "shot_type_id"),
            (event_type_dim, ["event_type", "situation"], "event_type_id"),
        ],
        measures=FACT_MEASURES,
        extra_keys=["shot_id"],
    )
    return {
        "match_dim": match_dim,
        "team_dim": team_dim,
        "player_dim": player_dim,
        "shot_type_dim": shot_type_dim,
        "event_type_dim": event_type_dim,
        "fact_table": fact,
    }


def build_looker_data(star: dict[str, DataFrame]) -> DataFrame:
    """Q1 (sql:1-26): the 5-way denormalizing reporting join.  match_dim
    is joined but contributes no columns — FK-integrity filter only,
    faithful to sql:21."""
    return denormalize(
        star["fact_table"],
        dims=[
            (star["match_dim"], "match_id", []),
            (star["player_dim"], "player_id", ["player_name"]),
            (star["team_dim"], "team_id", ["team_name"]),  # team_id is unique per row
            (star["shot_type_dim"], "shot_type_id", ["shot_type"]),
            (star["event_type_dim"], "event_type_id", ["event_type", "situation"]),
        ],
        measures=["shot_id", *FACT_MEASURES],
    )


def player_xg_leaderboard(looker: DataFrame, k: int = 10) -> DataFrame:
    """M1 flagship: top-k players by total xG with SGA (README.md:5)."""
    return (
        looker.groupBy("player_name")
        .agg(
            F.sum("xG").alias("total_xg"),
            F.sum("xGOT").alias("total_xgot"),
            F.count("*").alias("shots"),
        )
        .withColumn("sga", F.col("total_xgot") - F.col("total_xg"))
        .orderBy(F.desc("total_xg"), "player_name")
        .limit(k)
    )


def run_pipeline(spark, matches_path: str) -> dict[str, DataFrame]:
    """EP1 equivalent: the extract→transform chain, flattened once and
    shared by every table, as the reference flattens once and loads six
    tables from the result (dag:95-183).  Callers write each returned
    table (parquet/Delta) to realize the load stage.

    The parsed, cleaned shots are a lazy local checkpoint: there is no
    shuffle below it, so creating it runs nothing, and its first consumer
    parses the landing zone once for all seven tables.  The five dims are
    shared the same way (:func:`build_star`).  Under AQE, checkpointing a
    dim runs the dim's shuffle stages, so that first consumer is this
    call: it parses the zone and runs those stages, and the table writes
    read checkpoint blocks.  Every call makes fresh checkpoints, freed
    when their frames are garbage-collected, so a call over a
    regenerated zone reads the new files, never an earlier call's rows."""
    clean = clean_shots(flatten_shots(read_matches(spark, matches_path))).localCheckpoint(
        eager=False
    )
    star = build_star(clean)
    star["looker_data"] = build_looker_data(star)
    return star
