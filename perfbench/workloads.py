"""The two workloads.  Each calls only the package's public functions.

``shots_etl`` is the paper's pipeline.  ``llm_data`` is the LLM-data
side the north star adds: a catalog mix (``CatalogMix``) and a
streaming document ingest (``DocStream``) in every pass.

A workload makes its inputs in ``prepare`` (outside every metric), runs
one pass per ``run_pass`` call with only the program's calls inside
timed steps (``step``), checks each pass's outputs between the steps,
and adds its once-per-run checks in ``final_checks``.  Every pass does the
same work: outputs land in the same places, or in fresh ones.

Every check is one operation; a check that fails, or raises, counts as
a failed operation.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from contextlib import contextmanager

import gen
from tracing import Stopwatch, Tracer

QUICK, FULL = "quick", "full"


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker, checksum and
    staging files excluded."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if not fn.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, fn))
    return n, size


class Workload:
    name = ""
    # Untimed passes between the first pass and the timed ones: CPU per
    # pass keeps falling for several passes while the JIT compiles.
    WARMUP = 1
    # Nominal seconds of one warm pass at local[2]: a run times
    # ceil(--seconds / NOMINAL_PASS_S) passes, so every run does the same
    # work whatever the box's speed at the time.
    NOMINAL_PASS_S = 5.0

    def __init__(self, spark, run_dir: str, seed: int, size: str, tracer: Tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.ops = 0
        self.failed = 0
        self.known_failed = 0  # failures of the known-fault operation
        self.errors: list[str] = []
        self.pass_rec: dict = {}  # per-layer counts of the latest pass

    @contextmanager
    def step(self, sw: Stopwatch, name: str):
        """One program call: timed by ``sw`` and traced as span ``name``."""
        with sw.timed(), self.tracer.span(name):
            yield

    def check(self, what: str, ok, known_fault: bool = False) -> None:
        """Count one operation; ``ok`` is a bool or a zero-arg callable.
        A ``known_fault`` operation fails on every run because of a
        program fault listed in the README; it counts as failed but does
        not make the run incorrect."""
        self.ops += 1
        try:
            good = ok() if callable(ok) else ok
        except Exception as exc:  # a crashing check is a failed operation
            good = False
            what = f"{what}: {type(exc).__name__}: {exc}"
        if not good:
            self.failed += 1
            self.known_failed += known_fault
            self.errors.append(("known fault: " if known_fault else "") + what)

    @property
    def correct(self) -> bool:
        return self.failed == self.known_failed

    def prepare(self) -> dict:
        raise NotImplementedError

    def run_pass(self, sw: Stopwatch, check: bool) -> None:
        """One pass; ``check`` asks for the per-pass output checks."""
        raise NotImplementedError

    def final_checks(self) -> None:
        pass


class ShotsEtl(Workload):
    """FotMob JSONL landing zone -> ``fotmob.run_pipeline`` ->
    ``sources.sinks.write_star`` -> ``fotmob.player_xg_leaderboard``."""

    name = "shots_etl"
    K = 10
    SIZES = {FULL: dict(n_matches=120, shots_per_match=(15, 30), n_shards=2),
             QUICK: dict(n_matches=40, shots_per_match=(15, 30), n_shards=2)}

    def prepare(self) -> dict:
        self.zone = os.path.join(self.run_dir, "zone")
        self.out = os.path.join(self.run_dir, "star")
        self.truth = gen.shots_zone(self.zone, self.seed, **self.SIZES[self.size])
        self.want_board = self.truth.leaderboard(self.K)
        t = self.truth
        return {"matches": t.n_matches, "shots": t.n_shots, "zone_bytes": t.zone_bytes,
                "players": len(t.players)}

    def run_pass(self, sw: Stopwatch, check: bool) -> None:
        from fotmobdatapipeline_spark import fotmob
        from fotmobdatapipeline_spark.sources import sinks

        with self.step(sw, "fotmob.build"):
            tables = fotmob.run_pipeline(self.spark, self.zone)
        with self.step(sw, "sources.write_star"):
            self.paths = sinks.write_star(tables, self.out)
        with self.step(sw, "fotmob.leaderboard"):
            looker = self.spark.read.parquet(self.paths["looker_data"])
            board = [tuple(r) for r in fotmob.player_xg_leaderboard(looker, self.K).collect()]
        if check:
            self.check("leaderboard equals the generator's top-k (sga = xGOT - xG)",
                       board == self.want_board)
        files, size = dir_files(self.out)
        self.pass_rec = {"sources.files_written": files, "sources.bytes_written": size,
                         "zone_bytes": self.truth.zone_bytes}

    def final_checks(self) -> None:
        t = self.truth
        dims = {
            "match_dim": ("match_id", ["matchId"],
                          {str(4_000_000 + m) for m in range(t.n_matches)}),
            "team_dim": ("team_id", ["teamId", "team_name"], t.teams),
            "player_dim": ("player_id", ["player_name"], t.players),
            "shot_type_dim": ("shot_type_id", ["shot_type"], t.shot_types),
            "event_type_dim": ("event_type_id", ["event_type", "situation"], t.event_types),
        }
        fact = self.spark.read.parquet(self.paths["fact_table"]).collect()
        self.check("fact_table has one row per shot", len(fact) == t.n_shots)
        self.check("looker_data has one row per shot", lambda: (
            self.spark.read.parquet(self.paths["looker_data"]).count() == t.n_shots))
        for name, (key, cols, want) in dims.items():
            rows = self.spark.read.parquet(self.paths[name]).select(key, *cols).collect()
            got = {r[1] if len(cols) == 1 else tuple(r[1:]) for r in rows}
            keys = sorted(r[0] for r in rows)
            self.check(f"{name} rows equal the generator's natural keys",
                       len(rows) == len(want) and got == want)
            self.check(f"{name} keys are dense 0..n-1", keys == list(range(len(want))))
            self.check(f"every fact {key} exists in {name}",
                       {r[key] for r in fact} <= set(keys))
        self.check("fact xG sum equals the generator's",
                   sum(r["xG"] for r in fact) * gen.XG_QUANTUM
                   == sum(v[0] for v in t.per_player.values()))


# One entry for each LLM-data kind that fits a run's time budget: dedup
# over the shared-subtree memo, text, and a builder from the slow tail
# whose builder runs jobs.
CATALOG_ENTRIES = (
    "dedup_recall_report",
    "text_quality",
    "events_msprt_monitor",
)


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


class CatalogMix(Workload):
    """Catalog entries built by ``queries()[name]`` and run to the noop
    sink over the seeded tables of ``gen.catalog_tables``.  Half of
    ``llm_data``."""

    SF = {FULL: 0.01, QUICK: 0.001}

    def prepare(self) -> dict:
        import __spark_entry__ as contract

        self.sf_dir = os.path.join(self.run_dir, "tables")
        rows = gen.catalog_tables(self.sf_dir, self.seed, self.SF[self.size])
        self.queries = contract.queries()
        self.oracles = contract.oracle_sql()
        return {"sf": self.SF[self.size], "entries": len(CATALOG_ENTRIES), **rows}

    def run_pass(self, sw: Stopwatch, check: bool) -> None:
        for name in CATALOG_ENTRIES:
            with self.step(sw, f"plans.build/{name}"):
                df = self.queries[name](self.spark, self.sf_dir)
            with self.step(sw, f"plans.exec/{name}"):
                df.write.format("noop").mode("overwrite").save()

    def final_checks(self) -> None:
        import duckdb

        from fotmobdatapipeline_spark.sources.registry import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                if os.path.exists(f"{self.sf_dir}/{t}.parquet"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for name in CATALOG_ENTRIES:
                self.check(f"{name} equals its DuckDB oracle",
                           lambda n=name: self._matches_oracle(con, n))
        finally:
            con.close()

    def _matches_oracle(self, con, name: str) -> bool:
        """Sorted column names, equal row counts and an exact, order-free
        value multiset, as ``tests/test_oracle_parity.py`` compares."""
        df = self.queries[name](self.spark, self.sf_dir)
        cols = sorted(df.columns)
        got = [tuple(_norm(r[c]) for c in cols) for r in df.collect()]
        res = con.execute(self.oracles[name])
        dcols = [d[0] for d in res.description]
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        want = [tuple(_norm(r[i]) for i in order) for r in res.fetchall()]
        return (cols == sorted(dcols) and len(got) == len(want)
                and sorted(got, key=repr) == sorted(want, key=repr))


class DocStream(Workload):
    """Staged day files -> ``streaming.documents.neardup_stream`` ->
    ``streaming.incremental.incremental_partitioned_sink``, then
    ``operators.merge.compact_partitions`` on the landed table.  Half of
    ``llm_data``."""

    SIZES = {FULL: dict(docs_per_day=300, days=2, n_groups=30, copies=2),
             QUICK: dict(docs_per_day=30, days=2, n_groups=4, copies=2)}
    # Larger than a landed day, so each day's per-task files pack into one.
    TARGET_FILE_BYTES = 1 << 20
    SCHEMA = "doc_id LONG, ts TIMESTAMP, text STRING"
    COLS = ("doc_id", "text", "ts", "event_date")

    def prepare(self) -> dict:
        self.feed = os.path.join(self.run_dir, "feed")
        self.truth = gen.doc_feed(self.feed, self.seed, **self.SIZES[self.size])
        self.pass_no = 0
        t = self.truth
        return {"distinct_docs": len(t.distinct_ids), "feed_rows": t.rows,
                "dup_groups": len(t.groups), "days": t.days}

    def _drain(self, feed_dir: str, base: str) -> list[dict]:
        """One file per micro-batch through near-dup removal into the
        partitioned sink; returns the progress of non-empty batches."""
        from fotmobdatapipeline_spark.streaming.documents import neardup_stream
        from fotmobdatapipeline_spark.streaming.incremental import incremental_partitioned_sink

        feed = (self.spark.readStream.schema(self.SCHEMA)
                .option("maxFilesPerTrigger", 1).json(feed_dir))
        query = incremental_partitioned_sink(
            neardup_stream(feed, ts_col="ts", id_col="doc_id"),
            os.path.join(base, "table"), os.path.join(base, "checkpoint"))
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]

    def _rows(self, table: str) -> list[tuple]:
        return sorted(tuple(r) for r in self.spark.read.parquet(table).select(*self.COLS).collect())

    def run_pass(self, sw: Stopwatch, check: bool) -> None:
        from fotmobdatapipeline_spark.operators.merge import compact_partitions

        shutil.rmtree(os.path.join(self.run_dir, f"landed-{self.pass_no - 1}"), ignore_errors=True)
        base = os.path.join(self.run_dir, f"landed-{self.pass_no}")
        self.pass_no += 1
        table = os.path.join(base, "table")
        with self.step(sw, "streaming.drain"):
            progress = self._drain(self.feed, base)
        files, size = dir_files(table)
        before = {d: dir_files(os.path.join(table, d)) for d in os.listdir(table)
                  if d.startswith("event_date=")}
        rows = self._rows(table) if check else None
        with self.step(sw, "operators.merge.compact_partitions"):
            stats = compact_partitions(self.spark, table, "event_date",
                                       target_file_bytes=self.TARGET_FILE_BYTES)
        if check:
            self.check("every distinct document lands; each planted group exactly once",
                       self._landed_ok({r[0] for r in rows}, len(rows)))
            self.check("compaction keeps the row multiset", lambda: self._rows(table) == rows)
            self.check("compaction rewrites each fragmented partition into "
                       "ceil(bytes / target) files and leaves the others alone",
                       lambda: self._compacted_ok(table, before, stats))
        state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
        trig = sorted(p["durationMs"]["triggerExecution"] / 1000 for p in progress)
        self.pass_rec = {
            "sources.files_written": files,
            "sources.bytes_written": size,
            "streaming.batches": len(progress),
            "streaming.batch_s": statistics.median(trig) if trig else 0.0,
            "streaming.rows_per_s": sum(p["numInputRows"] for p in progress) / sum(trig)
            if trig else 0.0,
            "streaming.state_rows": state.get("numRowsTotal", 0),
            "streaming.state_bytes": state.get("memoryUsedBytes", 0),
            "operators.merge.bytes_rewritten": sum(s["bytes"] for s in stats),
            "operators.merge.files_after": sum(s["files_after"] for s in stats),
        }

    def final_checks(self) -> None:
        """The known fault: ``incremental_partitioned_sink`` lands each
        micro-batch with a dynamic partition overwrite, so a day whose
        documents arrive in two batches keeps only the second batch.
        Fixed input, independent of the seed; fails on every run."""
        base = os.path.join(self.run_dir, "split-day")
        want = gen.split_day_feed(os.path.join(base, "feed"))
        self._drain(os.path.join(base, "feed"), base)
        got = {r[0] for r in self._rows(os.path.join(base, "table"))}
        self.check(f"a day split over two micro-batches lands whole "
                   f"({len(got & want)} of {len(want)} landed)", got == want, known_fault=True)

    def _compacted_ok(self, table: str, before: dict, stats: list[dict]) -> bool:
        want = {}
        for d, (files, size) in before.items():
            target = math.ceil(size / self.TARGET_FILE_BYTES)
            want[d] = target if files >= 2 and files > target else files
        chosen = {f"event_date={s['partition']}" for s in stats}
        expect_chosen = {d for d, (files, _) in before.items() if want[d] != files}
        return (bool(expect_chosen) and chosen == expect_chosen
                and all(s["files_after"] == want[f"event_date={s['partition']}"] for s in stats)
                and all(dir_files(os.path.join(table, d))[0] == n for d, n in want.items()))

    def _landed_ok(self, ids: set, n_rows: int) -> bool:
        t = self.truth
        members = {i for g in t.groups for i in g}
        if n_rows != len(ids) or not (t.distinct_ids - members) <= ids:
            return False
        if any(len(ids & set(g)) != 1 for g in t.groups):
            return False
        return len(ids) == len(t.distinct_ids)


class LlmData(CatalogMix, DocStream):
    """Each pass runs the catalog mix, then drains the document feed and
    compacts the landed table."""

    name = "llm_data"
    NOMINAL_PASS_S = 7.5

    def prepare(self) -> dict:
        return {**CatalogMix.prepare(self), **DocStream.prepare(self)}

    def run_pass(self, sw: Stopwatch, check: bool) -> None:
        CatalogMix.run_pass(self, sw, check)
        DocStream.run_pass(self, sw, check)

    def final_checks(self) -> None:
        CatalogMix.final_checks(self)
        DocStream.final_checks(self)


WORKLOADS = {w.name: w for w in (ShotsEtl, LlmData)}
