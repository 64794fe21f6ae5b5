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
    read_table,
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
    via_ds = read_table(spark, str(p), "items")
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
    df = read_table(spark, str(p), "items", split_bytes=split_bytes)
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
    df = read_table(spark, str(p), "items", split_bytes=split_bytes)
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
    df = read_table(spark, str(p), "t")
    got = sorted((r["id"], r["s"]) for r in df.collect())
    assert got == [(1, "a;b"), (2, "c"), (3, "d"), (4, "e"), (5, "plain")]


def test_malformed_values_are_null_in_both_readers(registered, tmp_path):
    """MySQL's zero dates and text in an INT column are NULL from both
    readers; under ANSI casts the driver-side parser used to fail the
    whole conversion with CAST_INVALID_INPUT. Both readers type every
    literal by the one ``try_cast`` rule: a Python converter in the
    DataSource used to truncate '1.5' and 2.7 to 1 and 2, read 'yes' as
    false, round DECIMAL '1.005' down, parse '20240102' as a date, and
    fail the whole read on 9223372036854775808 and on '99999' in a
    DECIMAL(5,2)."""
    spark = registered
    p = tmp_path / "zero.sql"
    p.write_text(
        "CREATE TABLE z (id INT, d DATE, ts DATETIME, n INT);\n"
        "INSERT INTO z VALUES (1, '0000-00-00', '0000-00-00 00:00:00', 'x'),"
        "(2, '2024-01-02', '2024-01-02 03:04:05', 7);\n"
        "CREATE TABLE lit (id INT, n BIGINT, b BOOLEAN, x DECIMAL(5,2),"
        " d DATE, ts DATETIME);\n"
        "INSERT INTO lit VALUES (1, '1.5', 'yes', '1.005', '20240102',"
        " '2024-1-2 3:4:5'), (2, 2.7, '2', '99999', '2024-1-2', NULL),"
        " (3, 9223372036854775808, NULL, NULL, NULL, NULL);\n"
    )
    via_ds = read_table(spark, str(p), "z")
    rows = sorted(map(tuple, via_ds.collect()))
    assert rows == sorted(map(tuple, parse_dump(spark, str(p))["z"].collect()))
    assert rows[0] == (1, None, None, None)
    assert rows[1][3] == 7
    via_ds = read_table(spark, str(p), "lit")
    via_driver = parse_dump(spark, str(p))["lit"]
    assert via_ds.schema == via_driver.schema
    rows = sorted(map(tuple, via_ds.collect()))
    assert rows == sorted(map(tuple, via_driver.collect()))
    assert [r[1] for r in rows] == [None, None, None]  # no BIGINT truncation
    assert rows[0][2] is True and rows[1][2] is None
    assert str(rows[0][3]) == "1.01" and rows[1][3] is None


def test_raw_format_reads_strings_in_ddl_order(registered, tmp_path):
    """Without a schema, format("sqldump") is a raw reader, like
    spark.read.csv: every column STRING, in the DDL's order, values as
    written (an explicit INSERT column list is reordered)."""
    spark = registered
    p = tmp_path / "raw.sql"
    p.write_text(
        "CREATE TABLE t (id INT, price DECIMAL(8,2), s VARCHAR(9), d DATE);\n"
        "INSERT INTO t VALUES (1, 2.50, 'a', '0000-00-00');\n"
        "INSERT INTO t (d, id) VALUES ('2024-01-05', 2);\n"
    )
    raw = (
        spark.read.format("sqldump")
        .option("path", str(p))
        .option("table", "t")
        .load()
    )
    assert raw.schema.simpleString() == (
        "struct<id:string,price:string,s:string,d:string>"
    )
    assert sorted(map(tuple, raw.collect())) == [
        ("1", "2.50", "a", "0000-00-00"),
        ("2", None, None, "2024-01-05"),
    ]


def test_explicit_column_list_matches_names_case_insensitively(registered, tmp_path):
    """MySQL column names are case-insensitive: an explicit INSERT
    column list spelled in another case than the DDL fills the DDL's
    columns in both readers (both used to read the row as all NULL)."""
    spark = registered
    p = tmp_path / "case.sql"
    p.write_text(
        "CREATE TABLE t (id INT, name TEXT);\n"
        "INSERT INTO t (ID, Name) VALUES (1,'a');\n"
    )
    assert [tuple(r) for r in parse_dump(spark, str(p))["t"].collect()] == [(1, "a")]
    assert [tuple(r) for r in read_table(spark, str(p), "t").collect()] == [(1, "a")]


def test_raw_format_rejects_a_typed_schema(registered, tmp_path):
    """A caller-supplied schema with a non-string field is an error that
    names read_table, not a silent cast by another rule."""
    spark = registered
    p = tmp_path / "typed.sql"
    p.write_text("CREATE TABLE t (id INT);\nINSERT INTO t VALUES (1);\n")
    with pytest.raises(Exception, match="read_table"):
        (
            spark.read.format("sqldump")
            .schema("id BIGINT")
            .option("path", str(p))
            .option("table", "t")
            .load()
            .collect()
        )


def test_datasource_batches_many_rows(registered, tmp_path):
    """A split with more rows than one Arrow batch holds yields them
    all, once each."""
    spark = registered
    n = sqldump._BATCH_ROWS + 3
    p = make_dump(tmp_path / "big.sql", n_rows=n, rows_per_stmt=1000)
    df = read_table(spark, str(p), "items", split_bytes=1 << 30)
    got = df.agg({"id": "count"}).first()[0], df.distinct().count()
    assert got == (n, n)


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
    via_ds = read_table(spark, str(p), "t")
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
