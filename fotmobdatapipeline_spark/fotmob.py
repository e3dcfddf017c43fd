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

from functools import reduce

from pyspark.sql import DataFrame, Window
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
from fotmobdatapipeline_spark.lineage import share

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


# The five dims: surrogate key and natural keys (D1-D6, dag:124-141).
DIMS = {
    "match_dim": ("match_id", ("matchId",)),
    "team_dim": ("team_id", ("teamId", "team_name")),
    "player_dim": ("player_id", ("player_name",)),  # keyed on name, dag:132
    "shot_type_dim": ("shot_type_id", ("shot_type",)),
    "event_type_dim": ("event_type_id", ("event_type", "situation")),
}
# Every natural-key column, each dim's own keys in their own order, so
# ordering a dim's rows by all of them (the others are NULL) orders it
# by its natural keys.
DIM_KEY_COLS = tuple(c for _key, cols in DIMS.values() for c in cols)


def build_dims_frame(clean: DataFrame) -> DataFrame:
    """All five dims as one frame: the union of their natural-key
    projections, tagged with the dim's name in ``__dim`` and NULL in the
    other dims' key columns, one ``distinct``, and the surrogate key
    ``__key = row_number() OVER (PARTITION BY __dim ORDER BY <all key
    columns> ASC NULLS FIRST) - 1``.  Within a dim the other columns are
    all NULL, so each dim gets the dense 0..n-1 keys in natural-key order
    that :func:`~fotmobdatapipeline_spark.operators.star.build_dim` would
    give it, from one distinct and one sort partitioned by dim instead of
    five of each.  The team dim projects (home, away) team pairs (D3,
    dag:128-129)."""
    home, away = (
        clean.select(
            F.col(f"{side}_team_id").alias("teamId"),
            F.col(f"{side}_team_name").alias("team_name"),
        )
        for side in ("home", "away")
    )
    projections = [("team_dim", home), ("team_dim", away)] + [
        (name, clean.select(*cols)) for name, (_key, cols) in DIMS.items() if name != "team_dim"
    ]
    tagged = [p.select(F.lit(name).alias("__dim"), "*") for name, p in projections]
    union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)
    w = Window.partitionBy("__dim").orderBy(*[F.col(c).asc_nulls_first() for c in DIM_KEY_COLS])
    return union.distinct().select(
        "__dim", (F.row_number().over(w) - F.lit(1)).cast("long").alias("__key"), *DIM_KEY_COLS
    )


def build_star(clean: DataFrame) -> dict[str, DataFrame]:
    """D1-D6 + J1 + P3 (dag:124-153) and Q1 (sql:1-26): the five dims,
    the fact table and the ``looker_data`` reporting table.

    Two frames are shared (``lineage.share``) and every table is a
    filter or projection of one of them:

    * the dims frame (:func:`build_dims_frame`): each dim is a filter
      and select of it;
    * the keyed frame: ``clean`` joined once to the five dim lookups
      (broadcast, inner, on natural keys), holding only the columns the
      two tables below read.  ``fact_table`` keeps its
      surrogate keys and measures; ``looker_data`` keeps the measures
      and the natural keys, which equal the dim attributes they were
      looked up by, and the fact's inner joins already drop every row
      the 5-way reporting join would drop.

    Under AQE, sharing a frame plans it, which runs the stages below it
    here, as eight jobs: the dims' distinct and their sort feed, the
    team lookup's aggregate (the first reader of the dims frame, so the
    key assignment runs in it) and the five lookup broadcasts.  The
    ``team_lookup`` guard therefore raises inside this call, before any
    table is written.  Only the join of the shots to the lookups is
    left; it runs once, at the keyed frame's first use."""
    dims_frame = share(build_dims_frame(clean))
    dims = {
        name: dims_frame.filter(F.col("__dim") == name).select(
            F.col("__key").alias(key), *cols
        )
        for name, (key, cols) in DIMS.items()
    }

    # J1: the shot joins team_dim on its own teamId (the shooting team,
    # dag:146) — join on teamId only, so the dim lookup must be unique per
    # teamId; it carries that one row's team_name for looker_data.
    # Uniqueness is enforced IN the lazy plan: if an un-canonicalized name
    # variant ever gives one teamId two surrogate keys, the lookup raises
    # at execution instead of silently fanning out fact rows.
    team_lookup = (
        dims["team_dim"].groupBy("teamId")
        .agg(
            F.min("team_id").alias("team_id"),
            F.min("team_name").alias("team_name"),
            F.count("*").alias("__n_names"),
        )
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
            "team_name",
        )
    )
    keyed = clean
    for lookup, on in (
        (dims["match_dim"], ["matchId"]),
        (team_lookup, ["teamId"]),
        (dims["player_dim"], ["player_name"]),
        (dims["shot_type_dim"], ["shot_type"]),
        (dims["event_type_dim"], ["event_type", "situation"]),
    ):
        keyed = keyed.join(F.broadcast(lookup), on=on, how="inner")
    fact_cols = ["shot_id", *(key for key, _cols in DIMS.values()), *FACT_MEASURES]
    # match_dim contributes no columns: FK-integrity only, sql:21.
    looker_cols = ["shot_id", *FACT_MEASURES, "player_name", "team_name", "shot_type",
                   "event_type", "situation"]
    keyed = share(keyed.select(*dict.fromkeys(fact_cols + looker_cols)))
    return {
        **dims,
        "fact_table": keyed.select(*fact_cols),
        "looker_data": keyed.select(*looker_cols),
    }


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
    tables from the result (dag:95-183).  Returns the seven tables of
    :func:`build_star`; callers write them (parquet/Delta) to realize
    the load stage.

    Three frames are shared (``lineage.share``, lazy with no checkpoint
    directory): the parsed, cleaned shots, the dims frame and the keyed
    frame (see :func:`build_star`).  Under AQE this call runs the jobs
    that plan them: the zone is parsed once, into the shots' checkpoint,
    by the dims' distinct; then the dims' sort feed, the team lookup's
    aggregate and the five lookup broadcasts run, and the team-lookup
    guard raises here on an ambiguous teamId.  The table writes read
    checkpoint blocks.  Every call makes fresh checkpoints, freed when
    their frames are garbage-collected, so a call over a regenerated
    zone reads the new files, never an earlier call's rows."""
    return build_star(share(clean_shots(flatten_shots(read_matches(spark, matches_path)))))
