"""Engine facade tests: session config, catalog attach, read/write round-trip."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from caffeonspark_spark.engine import Config, Engine


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark=spark).attach_catalog("/root/testdata/sf0.001")


def test_table_and_sql(engine):
    li = engine.table("lineitem")
    assert li.count() > 0
    n = engine.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == li.count()


def test_sql_join_over_catalog(engine):
    rows = engine.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        """
    ).collect()
    assert len(rows) == 5


def test_read_write_roundtrip(engine, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("engine_rw") / "out")
    df = engine.table("region").select("r_regionkey", "r_name")
    engine.write(df, "parquet", path)
    back = engine.read("parquet", path)
    assert sorted(r["r_name"] for r in back.collect()) == sorted(
        r["r_name"] for r in df.collect()
    )


def test_requires_catalog():
    from caffeonspark_spark.engine import Engine as E

    class _Fake:  # Engine without attach_catalog must fail fast on .table
        pass

    import pyspark.sql

    e = E.__new__(E)
    e.sf_dir = None
    with pytest.raises(RuntimeError, match="attach_catalog"):
        e.table("lineitem")


@pytest.mark.parametrize(
    "master, explicit, want",
    [
        ("local", None, 1),
        ("local[4]", None, 4),
        ("local[2,3]", None, 2),
        ("local[*]", None, os.cpu_count()),
        ("local[4]", 8, 8),
        ("spark://h:7077", None, 32),
    ],
)
def test_shuffle_width_follows_master(master, explicit, want):
    """Shuffle width rule: one partition per core of a local master, 32 on
    a cluster (AQE coalesces there), an explicit value always wins. Builds
    Config objects only — no session is started."""
    assert Config(master=master, shuffle_partitions=explicit).shuffle_width() == want
