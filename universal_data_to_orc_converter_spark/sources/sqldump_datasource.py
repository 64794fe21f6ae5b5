"""Distributed SQL-dump reader — a Spark 4 Python DataSource.

``sources/sqldump.py`` parses a dump on the driver (bounded memory,
but serial). This module is the scale path: a custom
``pyspark.sql.datasource.DataSource`` that splits the dump file into
byte ranges and parses INSERT statements on the executors —
``spark.read.format("sqldump")`` like any built-in source.

Split correctness follows the Hadoop line-split protocol: a partition
[s, e) owns every line that *starts* at offset s < pos ≤ e (the first
partition also owns offset 0); a non-first partition discards the
(possibly partial) line found at its seek position, and every
partition reads its last owned statement to completion even past
``e``. Line ownership is computed on raw bytes (binary mode — text
tell() cookies are not comparable to byte offsets). Multi-line INSERT
statements are read until their top-level ``;`` closes, and a
statement-led physical line carrying several top-level statements
yields ALL of them — an INSERT that begins mid-line after another
statement (``CREATE TABLE t(...); INSERT INTO t ...``) included.
Lines that do not begin a statement (VALUES continuations, comments)
are skipped at resync; their owning statement is read to completion
by the split that owns its first line.

Like ``spark.read.csv`` without a schema, the format is a raw reader:
every column is STRING, in the DDL's order, taken from a driver-side
scan of the table's CREATE TABLE header. Each split yields its rows
as ``sqldump.strings`` Arrow batches, and ``read_table`` types them
with ``sqldump.typed`` — the lexer, the Arrow hand-off and the cast
rule are all the driver-side parser's, so the two readers cannot
disagree on a quote or on a value.

Known limitation (inherent to offset-based resync): a RAW newline
inside a string literal whose next line happens to start with
``INSERT`` can be re-parsed by the split that resyncs there.
``mysqldump`` always escapes newlines in literals as ``\\n``, so every
mysqldump-produced file is safe; for hand-written dumps with raw
in-literal newlines, use the serial driver-side parser
(``sources/sqldump.py``), which scans from offset 0 with full state.

Usage:
    users = read_table(spark, "/data/dump.sql", "users")   # DDL types

    register(spark)                                # the raw reader
    raw = (spark.read.format("sqldump")            # STRING columns,
           .option("path", "/data/dump.sql")       # DDL order
           .option("table", "users")
           .load())
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from .sqldump import (
    _BATCH_ROWS,
    StatementSplitter,
    TableDef,
    _ddl_values,
    _file_chunks,
    parse_create_table,
    parse_insert,
    split_statements,
    strings,
    typed,
)

#: default split size for executor-side parsing
_SPLIT_BYTES = 8 << 20


def _table_def(path: str, table: str) -> TableDef:
    """Driver-side pre-scan: the table's CREATE TABLE statement.
    Metadata-only; stops at the DDL."""
    for stmt in split_statements(_file_chunks(path)):
        td = parse_create_table(stmt)
        if td is not None and td.name == table:
            return td
    raise ValueError(f"table {table!r} has no CREATE TABLE in {path}")


def _raw_schema(td: TableDef) -> StructType:
    return StructType([StructField(c, StringType(), True) for c in td.names])


def read_table(spark: SparkSession, path: str, table: str, split_bytes: int = _SPLIT_BYTES) -> DataFrame:
    """``table`` of the dump at ``path``, typed by the DDL, parsed on
    the executors in ``split_bytes`` byte ranges. The header is scanned
    once, here: the raw read is handed its schema."""
    td = _table_def(path, table)
    register(spark)
    raw = (
        spark.read.format("sqldump")
        .schema(_raw_schema(td))
        .option("path", path)
        .option("table", table)
        .option("split_bytes", split_bytes)
        .load()
    )
    return typed(raw, td)


class SqlDumpDataSource(DataSource):
    """spark.read.format("sqldump") — options: path, table,
    split_bytes (optional)."""

    @classmethod
    def name(cls) -> str:
        return "sqldump"

    def schema(self):
        return _raw_schema(_table_def(self.options["path"], self.options["table"]))

    def reader(self, schema: StructType) -> "SqlDumpReader":
        typed_fields = [f.name for f in schema.fields if not isinstance(f.dataType, StringType)]
        if typed_fields:
            raise ValueError(
                f"format('sqldump') reads STRING columns, not {typed_fields}: "
                "use sqldump_datasource.read_table for the DDL's types"
            )
        return SqlDumpReader(schema, self.options)


class SqlDumpReader(DataSourceReader):
    def __init__(self, schema: StructType, options) -> None:
        self.columns = schema.fieldNames()  # the DDL's order
        self.path = options["path"]
        self.table = options["table"]
        self.split_bytes = int(options.get("split_bytes", _SPLIT_BYTES))

    def partitions(self):
        import os

        size, step = os.path.getsize(self.path), self.split_bytes
        ranges = [(s, min(s + step, size)) for s in range(0, size, step)] or [(0, 0)]
        return [InputPartition(r) for r in ranges]

    def read(self, partition: InputPartition):
        start, end = partition.value
        columns: list[list] = [[] for _ in self.columns]  # one list per DDL column
        with open(self.path, "rb") as f:
            if start > 0:
                f.seek(start)
                f.readline()  # partial line: owned by the previous split
            while True:
                pos = f.tell()
                # a line starting at exactly `end` is ours (the next
                # split discards it as its first line)
                if pos > end:
                    break
                bline = f.readline()
                if not bline:
                    break
                line = bline.decode("utf-8", errors="replace")
                # Resync anchor: any statement-led line (first char
                # alphabetic — INSERT/CREATE/DROP/...). Continuation
                # lines of a multi-line VALUES list start with '(' and
                # comments with '-'/'/' — both skipped, so a split
                # never re-parses the middle of a statement another
                # split owns. Only INSERTs for our table are kept, so
                # non-INSERT statements fed here cost one scan and
                # produce nothing.
                if not line.lstrip()[:1].isalpha():
                    continue
                # Quote-aware incremental split: a physical line may
                # carry SEVERAL top-level statements (all are emitted,
                # none dropped — including an INSERT that begins
                # mid-line after a non-INSERT statement), and a
                # statement may span MANY lines (read to its closing
                # top-level ';', even past `end`).
                sp = StatementSplitter()
                stmts = sp.feed(line)
                while sp.open:
                    nxt = f.readline()
                    if not nxt:
                        stmts.append(sp.pending)
                        break
                    stmts.extend(sp.feed(nxt.decode("utf-8", errors="replace")))
                for stmt in stmts:
                    ins = parse_insert(stmt.strip())
                    if ins is None or ins.table != self.table:
                        continue
                    for col, vals in zip(columns, _ddl_values(self.columns, ins)):
                        col.extend(vals)
                    if columns and len(columns[0]) >= _BATCH_ROWS:
                        yield from strings(self.columns, columns).to_batches()
                        columns = [[] for _ in self.columns]
        if any(columns):
            yield from strings(self.columns, columns).to_batches()


def register(spark) -> None:
    spark.dataSource.register(SqlDumpDataSource)
