"""Distributed SQL-dump DataSource tests: parallel byte-range parsing
must equal the driver-side parser on the same dump, including at
adversarial split boundaries."""

from __future__ import annotations

import pytest

from universal_data_to_orc_converter_spark.sources import sqldump
from universal_data_to_orc_converter_spark.sources.sqldump import (
    _parse_value,
    parse_dump,
)
from universal_data_to_orc_converter_spark.sources.sqldump_datasource import (
    SqlDumpDataSource,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(SqlDumpDataSource)
    return spark


def make_dump(path, n_rows=500, rows_per_stmt=7):
    lines = [
        "CREATE TABLE items (id INT, label VARCHAR(40), price DECIMAL(8,2), "
        "added DATE);"
    ]
    i = 0
    while i < n_rows:
        vals = []
        for _ in range(min(rows_per_stmt, n_rows - i)):
            # literals containing the characters that break naive splits
            vals.append(
                f"({i}, 'item; ({i}), tricky', {i}.25, '2024-01-{i % 28 + 1:02d}')"
            )
            i += 1
        lines.append("INSERT INTO items VALUES " + ", ".join(vals) + ";")
    # another table interleaved — must be filtered out
    lines.append("CREATE TABLE other (x INT);")
    lines.append("INSERT INTO other VALUES (1), (2);")
    path.write_text("\n".join(lines) + "\n")
    return path


def test_datasource_matches_driver_parser(registered, tmp_path):
    spark = registered
    p = make_dump(tmp_path / "d.sql")
    via_ds = (
        spark.read.format("sqldump")
        .option("path", str(p))
        .option("table", "items")
        .load()
    )
    via_driver = parse_dump(spark, str(p))["items"]
    assert via_ds.schema == via_driver.schema
    a = sorted(map(tuple, via_ds.collect()))
    b = sorted(map(tuple, via_driver.collect()))
    assert a == b
    assert len(a) == 500


@pytest.mark.parametrize("split_bytes", [64, 257, 1024, 100000])
def test_datasource_split_boundaries(registered, tmp_path, split_bytes):
    """Every row appears exactly once regardless of where byte-range
    boundaries fall — including splits smaller than one statement."""
    spark = registered
    p = make_dump(tmp_path / "d.sql", n_rows=120, rows_per_stmt=5)
    df = (
        spark.read.format("sqldump")
        .option("path", str(p))
        .option("table", "items")
        .option("split_bytes", str(split_bytes))
        .load()
    )
    ids = sorted(r["id"] for r in df.collect())
    assert ids == list(range(120)), (
        f"split_bytes={split_bytes}: got {len(ids)} rows"
    )


@pytest.mark.parametrize("split_bytes", [64, 100000])
def test_datasource_midline_insert_after_statement(
    registered, tmp_path, split_bytes
):
    """An INSERT that begins mid-line after another top-level statement
    ('CREATE TABLE t(...); INSERT INTO t ...') is kept by the
    distributed reader, matching the driver-side parser (ADVICE r2:
    the old resync anchor only accepted INSERT-led lines and dropped
    it). Multi-line CREATE TABLE bodies at a resync point must also
    stay inert."""
    spark = registered
    p = tmp_path / "d.sql"
    p.write_text(
        "CREATE TABLE items (\n"
        "  id INT,\n"
        "  label VARCHAR(40)\n"
        "); INSERT INTO items VALUES (1, 'one; tricky'), (2, 'two');\n"
        "INSERT INTO items VALUES (3, 'three');\n"
        "DROP TABLE IF EXISTS junk; INSERT INTO items VALUES (4, 'four');\n"
    )
    df = (
        spark.read.format("sqldump")
        .option("path", str(p))
        .option("table", "items")
        .option("split_bytes", str(split_bytes))
        .load()
    )
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "one; tricky"), (2, "two"), (3, "three"), (4, "four")]
    via_driver = sorted(
        map(tuple, parse_dump(spark, str(p))["items"].collect())
    )
    assert rows == via_driver


def test_datasource_missing_table_errors(registered, tmp_path):
    spark = registered
    p = tmp_path / "d.sql"
    p.write_text("CREATE TABLE a (x INT); INSERT INTO a VALUES (1);")
    with pytest.raises(Exception, match="no CREATE TABLE"):
        (
            spark.read.format("sqldump")
            .option("path", str(p))
            .option("table", "missing")
            .load()
        )


def test_datasource_multiple_statements_per_line(spark, tmp_path):
    """Two top-level INSERTs on one physical line both yield rows, and a
    statement that STARTS mid-line and closes on a later line parses
    once."""
    spark.dataSource.register(SqlDumpDataSource)
    p = tmp_path / "multi.sql"
    p.write_text(
        "CREATE TABLE t (id INT, s VARCHAR(40));\n"
        # two complete statements on one line (2nd was dropped pre-fix)
        "INSERT INTO t VALUES (1, 'a;b');INSERT INTO t VALUES (2, 'c');\n"
        # second statement starts mid-line, spans two lines
        "INSERT INTO t VALUES (3, 'd');INSERT INTO t VALUES (4,\n"
        "'e');\n"
        "INSERT INTO t VALUES (5, 'plain');\n"
    )
    df = (
        spark.read.format("sqldump")
        .option("path", str(p))
        .option("table", "t")
        .load()
    )
    got = sorted((r["id"], r["s"]) for r in df.collect())
    assert got == [(1, "a;b"), (2, "c"), (3, "d"), (4, "e"), (5, "plain")]


def test_malformed_values_are_null_in_both_readers(registered, tmp_path):
    """MySQL's zero dates and text in an INT column are NULL from both
    readers; under ANSI casts the driver-side parser used to fail the
    whole conversion with CAST_INVALID_INPUT."""
    spark = registered
    p = tmp_path / "zero.sql"
    p.write_text(
        "CREATE TABLE z (id INT, d DATE, ts DATETIME, n INT);\n"
        "INSERT INTO z VALUES (1, '0000-00-00', '0000-00-00 00:00:00', 'x'),"
        "(2, '2024-01-02', '2024-01-02 03:04:05', 7);\n"
    )
    via_ds = (
        spark.read.format("sqldump")
        .option("path", str(p))
        .option("table", "z")
        .load()
    )
    rows = sorted(map(tuple, via_ds.collect()))
    assert rows == sorted(map(tuple, parse_dump(spark, str(p))["z"].collect()))
    assert rows[0] == (1, None, None, None)
    assert rows[1][3] == 7


def test_parse_dump_multi_batch_union(registered, tmp_path, monkeypatch):
    """Batches of two rows — one INSERT split across batches, one
    batch fed by several INSERTs, an explicit column list — union to
    the rows of one batch and of the DataSource."""
    spark = registered
    p = tmp_path / "batches.sql"
    p.write_text(
        "CREATE TABLE t (id INT, s VARCHAR(20), d DATE);\n"
        "INSERT INTO t VALUES (1, 'a', '2024-01-01'), (2, 'b;c', NULL),"
        " (3, NULL, '2024-01-03');\n"
        "INSERT INTO t VALUES (4, 'it''s', '0000-00-00');\n"
        "INSERT INTO t (d, id) VALUES ('2024-01-05', 5), (NULL, 6);\n"
        "INSERT INTO t VALUES (7, 'g', '2024-01-07');\n"
    )
    one_batch = sorted(map(tuple, parse_dump(spark, str(p))["t"].collect()))
    monkeypatch.setattr(sqldump, "_BATCH_ROWS", 2)
    batched = parse_dump(spark, str(p))["t"]
    assert "Union" in batched._jdf.queryExecution().analyzed().toString()
    via_ds = (
        spark.read.format("sqldump")
        .option("path", str(p))
        .option("table", "t")
        .load()
    )
    assert batched.schema == via_ds.schema
    assert sorted(map(tuple, batched.collect())) == one_batch
    assert sorted(map(tuple, via_ds.collect())) == one_batch
    assert [r[0] for r in one_batch] == list(range(1, 8))
    assert one_batch[4][1] is None  # column the explicit list omits


def test_parse_value_escape_ordering():
    # backslash-escaped quote pair: must NOT collapse to a single quote
    assert _parse_value(r"'a\'\'b'") == "a''b"
    # doubled-quote escape
    assert _parse_value("'a''b'") == "a'b"
    # doubled double-quote inside double-quoted literal
    assert _parse_value('"x""y"') == 'x"y'
    # backslash escapes still work, incl. literal backslash
    assert _parse_value(r"'c\\d'") == "c\\d"
    assert _parse_value(r"'l1\nl2\tt'") == "l1\nl2\tt"
    # a literal backslash followed by a real doubled-quote pair
    assert _parse_value(r"'p\\''q'") == "p\\'q"
    # MySQL: unknown escape drops the backslash
    assert _parse_value(r"'\x'") == "x"
    assert _parse_value("NULL") is None
