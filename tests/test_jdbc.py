"""JDBC source tests. MySQL: option construction + failure paths (no
server in this environment). Derby: LIVE round-trips against the
embedded engine whose driver ships in Spark's jars — real writes, real
range-partitioned reads."""

from __future__ import annotations

from universal_data_to_orc_converter_spark.sources.jdbc import (
    DerbyConfig,
    JdbcConfig,
    list_tables,
    ping,
    read_table,
    write_table,
)


def test_jdbc_url_and_options():
    cfg = JdbcConfig("db.example.com", 3306, "shop", "reader", "s3cret")
    assert cfg.url == "jdbc:mysql://db.example.com:3306/shop"
    opts = cfg.reader_options(fetchsize=5000)
    assert opts["user"] == "reader"
    assert opts["password"] == "s3cret"
    assert opts["fetchsize"] == "5000"
    assert opts["driver"] == "com.mysql.cj.jdbc.Driver"


def test_jdbc_ping_unreachable_is_false(spark):
    cfg = JdbcConfig("127.0.0.1", 1, "nope", "u", "p")
    assert ping(spark, cfg) is False


def test_derby_live_roundtrip_partitioned(spark, tmp_path):
    """Write nation over JDBC, read it back split into key ranges;
    every row survives and partitioning covers the full key space."""
    from universal_data_to_orc_converter_spark.catalog import load

    from .conftest import SF_DIR

    n = load(spark, SF_DIR, "nation")
    cfg = DerbyConfig(path=str(tmp_path / "db"), create=True)
    write_table(spark, cfg, n, "nation")
    back = read_table(
        spark,
        DerbyConfig(path=str(tmp_path / "db")),
        "nation",
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_derby_ping_and_catalog(spark, tmp_path):
    cfg = DerbyConfig(path=str(tmp_path / "db"), create=True)
    from universal_data_to_orc_converter_spark.catalog import load

    from .conftest import SF_DIR

    write_table(spark, cfg, load(spark, SF_DIR, "region"), "region")
    live = DerbyConfig(path=str(tmp_path / "db"))
    assert ping(spark, live) is True
    tables = {r["TABLE_NAME"].lower() for r in list_tables(spark, live).collect()}
    assert "region" in tables
    # a database directory that doesn't exist (and isn't created) fails
    assert ping(spark, DerbyConfig(path=str(tmp_path / "missing"))) is False


def test_convert_dump_table_subset(spark, tmp_path):
    """op_table_subset: the comma-list table filter the reference
    wizard offers (sh:111-118, 332-333)."""
    from universal_data_to_orc_converter_spark.converter import convert_sql_dump

    p = tmp_path / "d.sql"
    p.write_text(
        "CREATE TABLE a (x INT); INSERT INTO a VALUES (1);"
        "CREATE TABLE b (y INT); INSERT INTO b VALUES (2);"
    )
    written = convert_sql_dump(spark, str(p), str(tmp_path / "o"), tables=["a"])
    assert set(written) == {"a"}


def test_jdbc_scratch_root_is_reused():
    """_scratch returns the same directory per prefix within a
    process, so repeated query invocations do not accumulate orphan
    Derby databases (ADVICE r2)."""
    from universal_data_to_orc_converter_spark.operators.io import _scratch

    a = _scratch("scratch_reuse_test_")
    b = _scratch("scratch_reuse_test_")
    assert a == b


def test_convert_mysql_accepts_num_partitions():
    """convert_mysql's signature carries the wizard's worker count."""
    import inspect

    from universal_data_to_orc_converter_spark.converter import convert_mysql

    assert "num_partitions" in inspect.signature(convert_mysql).parameters


def test_convert_mysql_partitioned_matches_unpartitioned(spark, tmp_path):
    """A partitioned export reads the same rows as a whole-table one.
    Spark's JDBC writer creates the lower-case column "k", which Derby
    cannot find unquoted, and an empty table has no bounds to split."""
    from universal_data_to_orc_converter_spark.converter import convert_mysql
    from universal_data_to_orc_converter_spark.sinks.orc import read_orc

    cfg = DerbyConfig(path=str(tmp_path / "db"), create=True)
    write_table(spark, cfg, spark.range(100).selectExpr("id AS k", "id * 3 AS v"), "T")
    write_table(spark, cfg, spark.range(0).selectExpr("id AS k"), "E")
    live = DerbyConfig(path=str(tmp_path / "db"))
    whole = convert_mysql(spark, live, str(tmp_path / "whole"), tables=["T", "E"])
    parts = convert_mysql(
        spark,
        live,
        str(tmp_path / "parts"),
        tables=["T", "E"],
        partition_columns={"T": "k", "E": "k"},
        num_partitions=4,
    )
    for t, n in (("T", 100), ("E", 0)):
        got = sorted(map(tuple, read_orc(spark, parts[t]).collect()))
        assert got == sorted(map(tuple, read_orc(spark, whole[t]).collect()))
        assert len(got) == n
