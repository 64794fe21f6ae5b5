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
Statements, value tuples and escapes all come from the one MySQL
lexer in ``sources/sqldump.py`` (``StatementSplitter``,
``parse_insert``), so this reader and the driver-side parser cannot
disagree on a quote. Lines that do not
begin a statement (VALUES continuations, comments) are skipped at
resync; their owning statement is read to completion by the split
that owns its first line. The table's schema
comes from a driver-side metadata pre-scan of the CREATE TABLE header.

Known limitation (inherent to offset-based resync): a RAW newline
inside a string literal whose next line happens to start with
``INSERT`` can be re-parsed by the split that resyncs there.
``mysqldump`` always escapes newlines in literals as ``\\n``, so every
mysqldump-produced file is safe; for hand-written dumps with raw
in-literal newlines, use the serial driver-side parser
(``sources/sqldump.py``), which scans from offset 0 with full state.

Usage:
    spark.dataSource.register(SqlDumpDataSource)
    df = (spark.read.format("sqldump")
          .option("path", "/data/dump.sql")
          .option("table", "users")
          .load())
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from .sqldump import (
    StatementSplitter,
    _ddl_rows,
    _file_chunks,
    parse_create_table,
    parse_insert,
    split_statements,
)

#: default split size for executor-side parsing
_SPLIT_BYTES = 8 << 20


@dataclass
class _Range(InputPartition):
    start: int
    end: int


def _scan_header(path: str, table: str):
    """Driver-side pre-scan: the table's CREATE TABLE statement →
    (schema, ddl column order). Metadata-only; stops at the DDL."""
    for stmt in split_statements(_file_chunks(path)):
        td = parse_create_table(stmt)
        if td is not None and td.name == table:
            return td.schema, td.names
    raise ValueError(f"table {table!r} has no CREATE TABLE in {path}")


class SqlDumpDataSource(DataSource):
    """spark.read.format("sqldump") — options: path, table,
    split_bytes (optional)."""

    @classmethod
    def name(cls) -> str:
        return "sqldump"

    def schema(self):
        # cache the header scan: reader() reuses it instead of
        # re-parsing the dump from byte 0 a second time (the serial
        # driver-side statement split is paid once per read, not twice
        # — review finding; multi-GB dumps with late DDL pay double)
        schema, cols = _scan_header(
            self.options["path"], self.options["table"]
        )
        self._header = (schema, cols)
        return schema

    def reader(self, schema: StructType) -> "SqlDumpReader":
        cols = getattr(self, "_header", (None, None))[1]
        return SqlDumpReader(schema, self.options, columns=cols)


class SqlDumpReader(DataSourceReader):
    def __init__(self, schema: StructType, options, columns=None) -> None:
        self.schema = schema
        self.path = options["path"]
        self.table = options["table"]
        self.split_bytes = int(options.get("split_bytes", _SPLIT_BYTES))
        if columns is None:  # user-supplied schema skipped schema()
            _, columns = _scan_header(self.path, self.table)
        self.columns = columns

    def partitions(self):
        import os

        size = os.path.getsize(self.path)
        ranges = []
        start = 0
        while start < size:
            ranges.append(_Range(start, min(start + self.split_bytes, size)))
            start += self.split_bytes
        return ranges or [_Range(0, 0)]

    def read(self, partition: _Range):
        from datetime import date, datetime
        from decimal import Decimal

        types = [f.dataType.simpleString() for f in self.schema.fields]

        def convert(raw, t):
            if raw is None:
                return None
            try:
                if t == "bigint":
                    return int(float(raw)) if "." in raw else int(raw)
                if t == "double":
                    return float(raw)
                if t.startswith("decimal"):
                    return Decimal(raw)
                if t == "boolean":
                    return raw.lower() in ("1", "true", "t")
                if t == "date":
                    return date.fromisoformat(raw[:10])
                if t == "timestamp":
                    return datetime.fromisoformat(raw)
                if t == "binary":
                    return raw.encode("utf-8")
            except (ValueError, ArithmeticError):
                return None
            return raw

        def emit(stmt: str):
            parsed = parse_insert(stmt.strip())
            if parsed is None:
                return
            tname, cols, rows = parsed
            if tname != self.table:
                return
            for r in _ddl_rows(self.columns, cols, rows):
                yield tuple(convert(v, t) for v, t in zip(r, types))

        with open(self.path, "rb") as f:
            if partition.start > 0:
                f.seek(partition.start)
                f.readline()  # partial line: owned by the previous split
            while True:
                pos = f.tell()
                # a line starting at exactly `end` is ours (the next
                # split discards it as its first line)
                if pos > partition.end:
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
                # split owns. emit() keeps only INSERTs for our table,
                # so non-INSERT statements fed here cost one scan and
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
                while sp.pending:
                    nxt = f.readline()
                    if not nxt:
                        stmts.append(sp.pending)
                        break
                    stmts.extend(sp.feed(nxt.decode("utf-8", errors="replace")))
                for stmt in stmts:
                    yield from emit(stmt)


def register(spark) -> None:
    spark.dataSource.register(SqlDumpDataSource)
