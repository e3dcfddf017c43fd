from __future__ import annotations

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fotmobdatapipeline_spark.session import get_spark

    s = get_spark(app_name="fotmob-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Set the session's checkpoint directory (which switches
    ``lineage.share``/``truncate`` to reliable checkpoints) for one
    test, then restore the previous one — unset if none was set, so no
    later test silently runs in reliable mode."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    path = tmp_path / "ckpt"
    sc.setCheckpointDir(str(path))
    yield path
    if prev is not None:
        sc.setCheckpointDir(prev)
    else:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() == prev


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from fotmobdatapipeline_spark.sources.registry import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()
