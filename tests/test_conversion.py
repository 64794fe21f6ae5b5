"""Round-trip tests for the conversion surface (SURVEY.md §5.2-3):
CSV matrix, SQL-dump adversarial parsing, ORC codec matrix, chunking.
These mirror the reference's wizard options (delimiter/header at
data_to_orc_converter.sh:151-158, codec at sh:168-169, chunk size at
sh:192) and the exact string-literal cases its regex parser corrupts
(sh:357-363)."""

from __future__ import annotations

import datetime
import glob
import os
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from universal_data_to_orc_converter_spark.converter import (
    convert_csv,
    convert_sql_dump,
)
from universal_data_to_orc_converter_spark.registry import load_all_queries
from universal_data_to_orc_converter_spark.sinks.orc import read_orc, write_orc
from universal_data_to_orc_converter_spark.sources import sqldump
from universal_data_to_orc_converter_spark.sources.csv import read_csv
from universal_data_to_orc_converter_spark.sources.sqldump import (
    mysql_type_to_spark,
    parse_create_table,
    parse_dump,
    parse_insert,
    split_statements,
)

from .conftest import SF_DIR, SF_SMOKE, assert_frames_match, insert_rows


def rows_set(df):
    return {tuple(r) for r in df.collect()}


# ---------------------------------------------------------------------------
# CSV matrix (comma+header, pipe+header, headerless, nulls)
# ---------------------------------------------------------------------------

CSV_DATA = [
    ("alice", 30, 1000.5),
    ("bob", 25, 2000.25),
    ("carol", None, 3000.75),
]


def _write_csv(path, delim=",", header=True):
    lines = []
    if header:
        lines.append(delim.join(["name", "age", "balance"]))
    for n, a, b in CSV_DATA:
        lines.append(delim.join([n, "" if a is None else str(a), str(b)]))
    with open(path, "w") as f:
        f.write("\n".join(lines))


def test_csv_comma_header(spark, tmp_path):
    p = tmp_path / "t.csv"
    _write_csv(p)
    df = read_csv(spark, str(p))
    assert df.columns == ["name", "age", "balance"]
    assert df.count() == 3
    assert dict(df.dtypes)["age"] == "int"
    assert df.filter(F.col("age").isNull()).count() == 1


def test_csv_pipe_delimiter(spark, tmp_path):
    p = tmp_path / "t.csv"
    _write_csv(p, delim="|")
    df = read_csv(spark, str(p), delimiter="|")
    assert rows_set(df.select("name")) == {("alice",), ("bob",), ("carol",)}


def test_csv_headerless_default_names(spark, tmp_path):
    p = tmp_path / "t.csv"
    _write_csv(p, header=False)
    df = read_csv(spark, str(p), header=False)
    assert df.columns == ["_c0", "_c1", "_c2"]
    assert df.count() == 3


def test_csv_no_inference_all_strings(spark, tmp_path):
    p = tmp_path / "t.csv"
    _write_csv(p)
    df = read_csv(spark, str(p), infer_schema=False)
    assert all(t == "string" for _, t in df.dtypes)


def test_csv_dir_to_orc_roundtrip(spark, tmp_path):
    src = tmp_path / "csvs"
    out = tmp_path / "orc"
    src.mkdir()
    _write_csv(src / "users.csv")
    _write_csv(src / "accounts.csv", delim=",")
    written = convert_csv(spark, str(src), str(out))
    assert set(written) == {"users", "accounts"}
    back = read_orc(spark, written["users"])
    assert rows_set(back) == rows_set(read_csv(spark, str(src / "users.csv")))


# ---------------------------------------------------------------------------
# SQL dump: typed parsing + the adversarial literals the reference breaks on
# ---------------------------------------------------------------------------

DUMP = r"""
-- a comment; with a semicolon
/* block comment; also with ; */
CREATE TABLE users (
  id INT NOT NULL,
  name VARCHAR(100),
  bio TEXT,
  balance DECIMAL(10,2),
  joined DATE,
  last_seen DATETIME,
  PRIMARY KEY (id)
);
INSERT INTO users VALUES
  (1, 'Alice', 'likes (parens), commas, and; semicolons', 10.50, '2024-01-02', '2024-01-02 03:04:05'),
  (2, 'Bob ''the builder''', 'quote \' inside', 20.25, '2024-02-03', '2024-02-03 04:05:06'),
  (3, NULL, 'it''s fine', NULL, NULL, NULL);
CREATE TABLE tags (tag_id BIGINT, label VARCHAR(20));
INSERT INTO tags (label, tag_id) VALUES ('red', 10), ('blue, not green', 20);
"""


def test_split_statements_ignores_quoted_semicolons():
    stmts = list(split_statements(iter([DUMP])))
    assert len(stmts) == 4
    assert stmts[0].upper().startswith("CREATE TABLE USERS")
    assert "semicolons" in stmts[1]


# every chunk-boundary hazard of the streaming splitter: '-'+'-' and
# '/'+'*' across a cut, ';' inside quotes and comments, \' and '' (a
# closed quote that the next chunk may reopen), and a last statement
# with no terminator or newline
CUT_DUMP = (
    "-- header; with a semicolon\n"
    "/* block; comment */CREATE TABLE t (a INT, b TEXT);\n"
    "INSERT INTO t VALUES (1,'x;y\\'z'),(2,'it''s; ok');-- trailing\n"
    'INSERT INTO t VALUES (3,"d;\\"q""");\n'
    "/*x*/INSERT INTO t VALUES (-4,'-- not /* a comment */ ;')"
)


def test_split_statements_same_at_every_two_chunk_cut():
    whole = list(split_statements(iter([CUT_DUMP])))
    assert whole == [
        "CREATE TABLE t (a INT, b TEXT)",
        "INSERT INTO t VALUES (1,'x;y\\'z'),(2,'it''s; ok')",
        'INSERT INTO t VALUES (3,"d;\\"q""")',
        "INSERT INTO t VALUES (-4,'-- not /* a comment */ ;')",
    ]
    for cut in range(len(CUT_DUMP) + 1):
        chunks = iter([CUT_DUMP[:cut], CUT_DUMP[cut:]])
        assert list(split_statements(chunks)) == whole, cut


def test_parse_create_table_types():
    td = parse_create_table(list(split_statements(iter([DUMP])))[0])
    assert td.name == "users"
    cols = dict(td.columns)
    assert isinstance(cols["id"], T.LongType)
    assert isinstance(cols["balance"], T.DecimalType)
    assert cols["balance"].precision == 10 and cols["balance"].scale == 2
    assert isinstance(cols["joined"], T.DateType)
    assert isinstance(cols["last_seen"], T.TimestampType)
    assert "PRIMARY" not in cols  # constraints skipped


def test_parse_create_table_backslash_escaped_comment():
    """A backslash-escaped quote inside a column COMMENT must not end
    the literal: its '(' would otherwise hide the next column's type."""
    td = parse_create_table(
        r"CREATE TABLE t (a VARCHAR(10) COMMENT 'it\'s (x', b INT)"
    )
    assert [c for c, _ in td.columns] == ["a", "b"]
    assert isinstance(dict(td.columns)["b"], T.LongType)


def test_parse_insert_adversarial_literals():
    stmts = list(split_statements(iter([DUMP])))
    ins = parse_insert(stmts[1])
    table, cols, rows = ins.table, ins.cols, insert_rows(ins)
    assert table == "users" and cols is None
    assert len(rows) == 3
    assert rows[0][2] == "likes (parens), commas, and; semicolons"
    assert rows[1][1] == "Bob 'the builder'"
    assert rows[2][1] is None


def test_parse_dump_typed_dataframes(spark, tmp_path):
    p = tmp_path / "d.sql"
    p.write_text(DUMP)
    dfs = parse_dump(spark, str(p))
    users = dfs["users"]
    assert [f.name for f in users.schema.fields] == [
        "id", "name", "bio", "balance", "joined", "last_seen",
    ]
    got = {r["id"]: r for r in users.collect()}
    assert got[1]["bio"] == "likes (parens), commas, and; semicolons"
    assert float(got[1]["balance"]) == 10.50
    assert got[3]["name"] is None and got[3]["balance"] is None
    assert got[1]["joined"].year == 2024
    # explicit column-list reordering honored
    tags = {r["tag_id"]: r["label"] for r in dfs["tags"].collect()}
    assert tags == {10: "red", 20: "blue, not green"}


def test_dump_to_orc_end_to_end(spark, tmp_path):
    p = tmp_path / "d.sql"
    p.write_text(DUMP)
    out = tmp_path / "orc"
    written = convert_sql_dump(spark, str(p), str(out))
    assert set(written) == {"users", "tags"}
    users = read_orc(spark, written["users"])
    assert users.count() == 3
    assert isinstance(users.schema["balance"].dataType, T.DecimalType)


def test_convert_sql_dump_missing_table_raises(spark, tmp_path):
    """A requested table the dump never defines is an error naming it,
    not a silent conversion of nothing."""
    p = tmp_path / "d.sql"
    p.write_text(DUMP)
    out = tmp_path / "orc"
    with pytest.raises(ValueError, match="'nope'.*no CREATE TABLE"):
        convert_sql_dump(spark, str(p), str(out), tables=["users", "nope"])
    assert not out.exists()


def test_convert_sql_dump_schema_qualified_table(spark, tmp_path):
    """A table named with its schema (`db`.`t`, db.t) converts under
    its table name; both statements used to be skipped without a
    word."""
    p = tmp_path / "q.sql"
    p.write_text(
        "CREATE TABLE `db`.`t` (id INT, s TEXT);\n"
        "INSERT INTO `db`.`t` VALUES (1, 'a');\n"
        "INSERT INTO db.t VALUES (2, 'b');\n"
    )
    written = convert_sql_dump(spark, str(p), str(tmp_path / "orc"))
    assert set(written) == {"t"}
    t = read_orc(spark, written["t"])
    assert t.schema.simpleString() == "struct<id:bigint,s:string>"
    assert sorted(map(tuple, t.collect())) == [(1, "a"), (2, "b")]


# values that must survive the parser, the string batches handed to
# Spark, the typed projection and the ORC write unchanged
ADVERSARIAL_DUMP = r"""
CREATE TABLE a (id INT, s TEXT, d DATE, n INT);
INSERT INTO a VALUES
  (1, 'nul\0mid\Zend', '0000-00-00', 'x'),
  (2, '😀 four bytes', '2024-01-02', 5),
  (3, '', NULL, NULL),
  (4, NULL, '2024-02-30', '7');
CREATE TABLE empty (id INT, d DATE, x DECIMAL(5,2));
"""


def test_convert_sql_dump_adversarial_values(spark, tmp_path):
    p = tmp_path / "adv.sql"
    p.write_text(ADVERSARIAL_DUMP, encoding="utf-8")
    written = convert_sql_dump(spark, str(p), str(tmp_path / "orc"))
    a = read_orc(spark, written["a"])
    assert a.schema.simpleString() == "struct<id:bigint,s:string,d:date,n:bigint>"
    assert sorted(map(tuple, a.collect())) == [
        (1, "nul\x00mid\x1aend", None, None),  # zero date, text in INT
        (2, "😀 four bytes", datetime.date(2024, 1, 2), 5),
        (3, "", None, None),  # '' stays '', NULL stays NULL
        (4, None, None, 7),
    ]
    # a CREATE TABLE with no INSERT keeps its typed schema, with no rows
    empty = read_orc(spark, written["empty"])
    assert empty.schema.simpleString() == "struct<id:bigint,d:date,x:decimal(5,2)>"
    assert empty.count() == 0


def test_convert_sql_dump_unclosed_create_table(spark, tmp_path):
    """A CREATE TABLE whose column list never closes has no columns;
    ORC cannot hold a table without columns, and Spark says so."""
    p = tmp_path / "u.sql"
    p.write_text("CREATE TABLE u (id INT, s TEXT;\nINSERT INTO u VALUES (1,'a');\n")
    assert parse_dump(spark, str(p))["u"].schema == T.StructType([])
    with pytest.raises(AnalysisException, match="EMPTY_SCHEMA_NOT_SUPPORTED"):
        convert_sql_dump(spark, str(p), str(tmp_path / "orc"))


# MySQL numeric types wider than the type a naive mapping picks
WIDE_NUMERIC_DUMP = """
CREATE TABLE w (
  u BIGINT(20) UNSIGNED NOT NULL,
  s SERIAL,
  big DECIMAL(40,2),
  huge DECIMAL(65,30),
  bare DECIMAL,
  num NUMERIC
);
INSERT INTO w VALUES
  (18446744073709551615, 18446744073709551615,
   '12345678901234567890123456789012345678.25',
   '1.000000000000000000000000000001', 12.7, '-3');
"""


def test_convert_sql_dump_wide_numeric_types(spark, tmp_path):
    """BIGINT UNSIGNED and SERIAL hold 2^64-1 as DECIMAL(20,0) (a LONG
    made it NULL); a DECIMAL wider than Spark's 38 digits stays its
    exact text (it failed the whole conversion with
    DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION); bare DECIMAL and NUMERIC
    are MySQL's DECIMAL(10,0), not strings."""
    p = tmp_path / "wide.sql"
    p.write_text(WIDE_NUMERIC_DUMP)
    written = convert_sql_dump(spark, str(p), str(tmp_path / "orc"))
    w = read_orc(spark, written["w"])
    assert w.schema.simpleString() == (
        "struct<u:decimal(20,0),s:decimal(20,0),big:string,huge:string,"
        "bare:decimal(10,0),num:decimal(10,0)>"
    )
    top = 2**64 - 1
    assert [tuple(r) for r in w.collect()] == [
        (
            Decimal(top),
            Decimal(top),
            "12345678901234567890123456789012345678.25",
            "1.000000000000000000000000000001",
            Decimal(13),  # MySQL rounds 12.7 into DECIMAL(10,0) too
            Decimal(-3),
        )
    ]


def test_parse_dump_hands_spark_only_arrow_tables(spark, tmp_path, monkeypatch):
    """Parsed rows cross to the JVM as Arrow tables; a list of Python
    rows here would bring back per-row verification and pickling."""
    seen = []
    create = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        seen.append(data)
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    p = tmp_path / "d.sql"
    p.write_text(DUMP)
    dfs = parse_dump(spark, str(p))
    assert set(dfs) == {"users", "tags"}
    assert len(seen) == 2
    assert all(isinstance(d, pa.Table) for d in seen), [type(d) for d in seen]


def _plan_nodes(plan, in_codegen=False):
    """Each node of an executed plan, with whether a whole-stage
    codegen stage holds it."""
    yield plan, in_codegen
    in_codegen = in_codegen or plan.nodeName().startswith("WholeStageCodegen")
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i), in_codegen)


def _assert_scans_arrow_rdd(df):
    nodes = [n.nodeName() for n, _ in _plan_nodes(df._jdf.queryExecution().executedPlan())]
    assert "LocalTableScan" not in nodes, nodes
    assert any(n.startswith("Scan ") and n.endswith(" arrow") for n in nodes), nodes


def test_parse_dump_casts_in_codegen_on_an_arrow_rdd(spark, oracle, tmp_path):
    """Parsed batches reach Spark as an RDD of Arrow batches, so the
    try_cast projection runs compiled in the tasks that read them. A
    driver-side local relation would have the optimizer fold the cast
    row by row in the driver's interpreter instead."""
    p = tmp_path / "d.sql"
    p.write_text(DUMP)
    users = parse_dump(spark, str(p))["users"]
    _assert_scans_arrow_rdd(users)
    casts = [
        codegen
        for node, codegen in _plan_nodes(users._jdf.queryExecution().executedPlan())
        if node.nodeName() == "Project" and "try_cast" in node.toString()
    ]
    assert casts == [True]
    # the one operator that builds a frame from Arrow stays exact
    spec = load_all_queries()["op_arrow_interchange"]
    sdf = spec.fn(spark, SF_DIR)
    _assert_scans_arrow_rdd(sdf)
    assert_frames_match(sdf, oracle.sql(spec.oracle), spec.name)


def test_convert_sql_dump_same_at_any_arrow_batch_width(spark, tmp_path, monkeypatch):
    """Partitions follow Arrow batches, so the rows and schema written
    must not depend on ``arrow.maxRecordsPerBatch``: 7 rows per batch
    against the ambient width, over several unioned parse batches."""
    monkeypatch.setattr(sqldump, "_BATCH_ROWS", 10)
    p = tmp_path / "w.sql"
    p.write_text(
        "CREATE TABLE t (id INT, s TEXT, d DATE, x DECIMAL(6,2));\n"
        + "".join(
            f"INSERT INTO t VALUES ({3 * i}, 's{i}', '2024-01-{i % 28 + 1:02d}', {i}.5),"
            f" ({3 * i + 1}, NULL, '0000-00-00', 'x'), ({3 * i + 2}, 'it''s', NULL, -{i});\n"
            for i in range(14)
        )
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    ambient = spark.conf.get(key)

    def run(tag):
        parts = parse_dump(spark, str(p))["t"].rdd.getNumPartitions()
        t = read_orc(spark, convert_sql_dump(spark, str(p), str(tmp_path / tag))["t"])
        return parts, t.schema, sorted(map(tuple, t.collect()))

    base_parts, base_schema, base_rows = run("ambient")
    try:
        spark.conf.set(key, "7")
        parts, schema, rows = run("narrow")
    finally:
        spark.conf.set(key, ambient)
    # 42 rows in batches of 12, 12, 12, 6: 4 partitions, or 7 at width 7
    assert (base_parts, parts) == (4, 7)
    assert schema == base_schema
    assert rows == base_rows and len(rows) == 42


def test_parse_dump_same_table_in_two_databases_raises(spark, tmp_path):
    """Tables are keyed by their name without its schema, so two
    databases' ``t`` would merge: db1's rows were cast under db2's types
    (same width) or failed inside pyarrow (other width). The second
    CREATE TABLE is an error that names both and the remedy."""
    for db2_columns in ("b TEXT, c DATE", "b TEXT"):
        p = tmp_path / "two.sql"
        p.write_text(
            "CREATE TABLE `db1`.`t` (a INT, s TEXT);\n"
            "INSERT INTO `db1`.`t` VALUES (1, 'x');\n"
            f"CREATE TABLE `db2`.`t` ({db2_columns});\n"
            "INSERT INTO `db2`.`t` VALUES ('y', '2024-01-01');\n"
        )
        out = tmp_path / "orc"
        with pytest.raises(
            ValueError,
            match=r"'t' is created twice .* as `db1`\.`t` and as `db2`\.`t`.*split the dump per database",
        ):
            convert_sql_dump(spark, str(p), str(out))
        assert not out.exists()


def test_mysql_type_mapping():
    assert isinstance(mysql_type_to_spark("INT"), T.LongType)
    assert isinstance(mysql_type_to_spark("varchar(255)"), T.StringType)
    assert isinstance(mysql_type_to_spark("DECIMAL(18,4)"), T.DecimalType)
    assert isinstance(mysql_type_to_spark("datetime"), T.TimestampType)
    assert isinstance(mysql_type_to_spark("LONGBLOB"), T.BinaryType)
    assert isinstance(mysql_type_to_spark("double"), T.DoubleType)


# ---------------------------------------------------------------------------
# ORC sink: codec matrix + chunking (sh:168-169, sh:192)
# ---------------------------------------------------------------------------



def test_mysql_type_mapping_reads_unsigned_only_as_an_attribute():
    assert mysql_type_to_spark("bigint unsigned zerofill") == T.DecimalType(20, 0)
    assert mysql_type_to_spark("BIGINT SIGNED") == T.LongType()
    assert mysql_type_to_spark("int(10) unsigned") == T.LongType()  # fits
    # the word in a COMMENT is not the attribute
    assert mysql_type_to_spark("BIGINT NOT NULL COMMENT 'unsigned'") == T.LongType()
    assert mysql_type_to_spark("numeric(38, 4)") == T.DecimalType(38, 4)

@pytest.mark.parametrize("codec", ["snappy", "zlib", "none", "lzo", "lz4", "zstd"])
def test_orc_codec_roundtrip(spark, tmp_path, codec):
    src = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    out = str(tmp_path / f"orc_{codec}")
    write_orc(src, out, compression=codec)
    back = read_orc(spark, out)
    assert rows_set(back) == rows_set(src)
    assert back.schema == src.schema


def test_orc_bad_codec_rejected(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    with pytest.raises(ValueError, match="unsupported codec"):
        write_orc(src, str(tmp_path / "x"), compression="lzma")


def test_orc_compression_shrinks(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    sizes = {}
    for codec in ("none", "zlib"):
        out = str(tmp_path / f"c_{codec}")
        write_orc(src, out, compression=codec)
        sizes[codec] = sum(
            os.path.getsize(f) for f in glob.glob(f"{out}/*.orc")
        )
    assert sizes["zlib"] < sizes["none"]


def test_orc_max_records_per_file_chunking(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").coalesce(1)
    out = str(tmp_path / "chunked")
    write_orc(src, out, max_records_per_file=1000)
    files = glob.glob(f"{out}/*.orc")
    n = src.count()
    assert len(files) >= n // 1000  # ~one file per 1000-row chunk
    back = read_orc(spark, out)
    assert back.count() == n


def test_orc_partitioned_write(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    out = str(tmp_path / "parted")
    write_orc(src, out, partition_by=["c_mktsegment"])
    segs = {
        os.path.basename(d)
        for d in glob.glob(f"{out}/c_mktsegment=*")
    }
    assert len(segs) == 5
    # partition pruning: reading one segment touches only its dir
    one = read_orc(spark, out).filter(F.col("c_mktsegment") == "BUILDING")
    assert one.count() == src.filter(F.col("c_mktsegment") == "BUILDING").count()


def test_orc_schema_evolution_merge(spark, tmp_path):
    """The reference README promises schema evolution via ORC
    (reference README.md:26-29); Spark delivers it through mergeSchema:
    old part files simply lack the new column and read back as null."""
    out = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v1.write.orc(out)
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    )
    v2.write.mode("append").orc(out)
    merged = spark.read.option("mergeSchema", "true").orc(out)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None
    assert rows[2]["score"] == 9.5


def test_csv_malformed_row_policies(spark, tmp_path):
    """The reference's 'auto-retry and error handling' claim, made
    concrete for bad rows: PERMISSIVE null-fills, DROPMALFORMED drops,
    FAILFAST raises."""
    p = tmp_path / "bad.csv"
    p.write_text("id,qty\n1,10\nnot_an_int,20\n3,30\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("qty", T.LongType(), True),
        ]
    )
    permissive = read_csv(spark, str(p), schema=schema, mode="PERMISSIVE")
    rows = {r["id"]: r["qty"] for r in permissive.collect()}
    assert rows == {1: 10, None: 20, 3: 30}

    dropped = read_csv(spark, str(p), schema=schema, mode="DROPMALFORMED")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]

    failfast = read_csv(spark, str(p), schema=schema, mode="FAILFAST")
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        failfast.collect()


class TestOrcBloomFilters:
    def test_bloom_option_embeds_filters_and_preserves_data(
        self, spark, tmp_path
    ):
        """Bloom filters must actually land in the files (visible as a
        deterministic size increase — ~5% at fpp 0.05 on this table)
        and must not change query results: a point lookup on the
        bloom column returns identical rows from both copies."""
        import glob
        import os

        from pyspark.sql import functions as F

        from universal_data_to_orc_converter_spark.catalog import load
        from universal_data_to_orc_converter_spark.sinks.orc import (
            read_orc,
            write_orc,
        )

        from .conftest import SF_DIR

        li = load(spark, SF_DIR, "lineitem").coalesce(1)
        plain = str(tmp_path / "plain")
        bloom = str(tmp_path / "bloom")
        write_orc(li, plain, max_records_per_file=None)
        write_orc(
            li,
            bloom,
            max_records_per_file=None,
            bloom_filter_cols=["l_orderkey", "l_partkey"],
        )
        size = lambda p: sum(  # noqa: E731
            os.path.getsize(f) for f in glob.glob(p + "/*.orc")
        )
        assert size(bloom) > size(plain) * 1.01, (
            "bloom option produced no footprint — filters not written"
        )

        key = li.select("l_orderkey").first()[0]
        a = read_orc(spark, plain).filter(F.col("l_orderkey") == key)
        b = read_orc(spark, bloom).filter(F.col("l_orderkey") == key)
        assert rows_set(a) == rows_set(b)
        assert b.count() > 0


def test_fixed_width_layout_roundtrips_adversarial_values(spark, tmp_path):
    """The fixed-width layout must survive the values the fixture
    never exercises: NEGATIVE amounts (a zero-padded '-' inside the
    field casts back to NULL — hence the explicit sign byte), zero,
    half-cent rounding, and max-width magnitudes."""
    from pyspark.sql import functions as F

    from universal_data_to_orc_converter_spark.operators.io import (
        fixed_width_roundtrip,
    )

    rows = [
        (1, 10, "O", -1234.56, "1994-01-02"),
        (2, 20, "F", 0.0, "1995-12-31"),
        (3, 30, "P", 0.005, "1996-06-15"),       # rounds to 1 cent
        (4, 40, "O", -0.005, "1997-07-04"),      # floor(-0.5+0.5)=0
        (5, 50, "F", 999999999999.99, "1998-08-02"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    back = fixed_width_roundtrip(spark, df, str(tmp_path / "fw"))
    got = {
        r["o_orderkey"]: (
            r["o_custkey"],
            r["o_orderstatus"],
            r["total_cents"],
            str(r["o_orderdate"]),
        )
        for r in back.collect()
    }
    assert got[1] == (10, "O", -123456, "1994-01-02")
    assert got[2] == (20, "F", 0, "1995-12-31")
    assert got[3] == (30, "P", 1, "1996-06-15")
    assert got[4] == (40, "O", 0, "1997-07-04")
    assert got[5] == (50, "F", 99999999999999, "1998-08-02")
    assert back.filter(F.col("total_cents").isNull()).count() == 0
