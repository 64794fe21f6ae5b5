"""SQL-dump source — SURVEY.md §2.A (src_sqldump_parse).

The reference parses dumps with regexes (CREATE TABLE name at
data_to_orc_converter.sh:329, INSERT rows at sh:343/353/357, naive
``split(',')`` + quote-strip at sh:360-363) and loads everything as an
untyped, unnamed DataFrame (sh:382). That corrupts any string literal
containing a comma, parenthesis, or semicolon, and throws away the
DDL's column names and types.

This module is the deliberate divergence (SURVEY.md §7): one MySQL
lexer, the compiled ``_TOKEN`` regex, is the only code that knows the
quoting rules — 'single' and "double" strings with backslash and
doubled-quote escapes, `backtick` identifiers, ``--`` and ``/* */``
comments. Statement splitting, the CREATE TABLE column list (read as
a typed Spark schema) and the INSERT value tuples are all walks over
its tokens, and ``_parse_value`` decodes a literal's escapes with one
``re.sub``. Statements are split in a streaming pass (bounded memory —
the reference reads the whole dump twice, sh:325/371). For both
readers this module also owns the two steps after parsing: ``strings``
builds the Arrow batch of string columns in which rows cross to the
JVM (as the reference hands its writer Arrow, sh:382/389/391: no
per-value type check or pickling), and ``typed`` is the one cast rule
from those strings to the DDL's types. The distributed reader
(``sqldump_datasource.py``) reuses the lexer and both steps.

Scale posture: a .sql dump is an inherently serial, single-machine
ingest format — the parse is driver-side by design, but memory is
O(batch), and everything downstream (type casting, ORC write) runs on
executors. For 100 TB ingest use the JDBC or columnar sources.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# MySQL type name → Spark type (per the documented mapping,
# reference README.md:253-259: INT→LONG, VARCHAR→STRING,
# DECIMAL→DECIMAL, DATE→DATE, DATETIME→TIMESTAMP)
# ---------------------------------------------------------------------------

#: the type name, its ``(M)`` / ``(M,D)`` arguments and the numeric
#: attributes that follow them
_TYPE_RE = re.compile(
    r"(\w+)(?:\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?((?:\s+(?:UNSIGNED|SIGNED|ZEROFILL)\b)*)"
)
_MAX_PRECISION = 38  # Spark's largest decimal precision


def mysql_type_to_spark(type_sql: str) -> T.DataType:
    m = _TYPE_RE.match(type_sql.strip().upper())
    base, precision, scale, attrs = m.groups() if m else ("", None, None, "")
    if base in ("DECIMAL", "NUMERIC"):
        # MySQL's bare DECIMAL is DECIMAL(10,0); a precision Spark cannot
        # hold stays the exact text
        p = int(precision or 10)
        return T.DecimalType(p, int(scale or 0)) if p <= _MAX_PRECISION else T.StringType()
    # SERIAL is BIGINT UNSIGNED, and ZEROFILL implies UNSIGNED: values
    # up to 2^64-1 overflow a LONG
    if base == "SERIAL" or (base == "BIGINT" and ("UNSIGNED" in attrs or "ZEROFILL" in attrs)):
        return T.DecimalType(20, 0)
    if base in ("TINYINT", "SMALLINT", "MEDIUMINT", "INT", "INTEGER", "BIGINT"):
        return T.LongType()
    if base in ("FLOAT", "DOUBLE", "REAL"):
        return T.DoubleType()
    if base in ("BOOL", "BOOLEAN"):
        return T.BooleanType()
    if base == "DATE":
        return T.DateType()
    if base in ("DATETIME", "TIMESTAMP"):
        return T.TimestampType()
    if base in ("BLOB", "BINARY", "VARBINARY", "LONGBLOB", "MEDIUMBLOB", "TINYBLOB"):
        return T.BinaryType()
    # VARCHAR/CHAR/TEXT/ENUM/SET/JSON/... — string is the safe default
    return T.StringType()


# ---------------------------------------------------------------------------
# The lexer: the one place that encodes MySQL's quote, escape and comment rules
# ---------------------------------------------------------------------------

#: An unterminated quote or comment runs to the end of the text (the
#: ``\Z`` branches), so the tokens tile the text with no gaps: a caller
#: can rebuild any span by joining them.
_TOKEN = re.compile(
    r"""
      '[^'\\]*(?:(?:\\.|'')[^'\\]*)*(?:'|\\?\Z)   # 'string', \x and '' escapes
    | "[^"\\]*(?:(?:\\.|"")[^"\\]*)*(?:"|\\?\Z)   # "string", \x and "" escapes
    | `[^`]*(?:``[^`]*)*(?:`|\Z)                   # `identifier`
    | --[^\n]*                                      # -- comment; the newline stays
    | /\*.*?(?:\*/|\Z)                              # /* comment */
    | [(),;]
    | (?:[^'"`(),;/-]+|-(?!-)|/(?!\*))+             # any other text
    """,
    re.S | re.X,
)
_COMMENT = ("--", "/*")
#: the tokens that stay whole whatever text follows them
_PUNCT = frozenset("(),;")


class StatementSplitter:
    """Incremental statement splitter over ``_TOKEN``.

    ``feed(text)`` returns the statements completed (by a top-level
    ``;``) within the text fed so far; ``pending`` is the unterminated
    tail still buffered. State persists across ``feed`` calls, so a
    caller can stream a file line-by-line without re-scanning — the
    distributed dump reader uses this to handle multiple statements on
    one physical line (and statements spanning several lines) without
    dropping or duplicating any. Comments are dropped from the
    statements.
    """

    def __init__(self) -> None:
        self._parts: list[str] = []  # tokens of the open statement
        # The last token fed: it touches the end of the text, so the
        # next chunk may extend it ('-' + '-', '/' + '*', an open quote,
        # or a closed one that a doubled quote reopens). Only it is
        # lexed again with that chunk, so the work is linear in the
        # text unless one token spans many chunks.
        self._tail = ""

    def feed(self, text: str) -> list[str]:
        out: list[str] = []
        parts = self._parts
        toks = _TOKEN.findall(self._tail + text)
        self._tail = toks.pop() if toks and toks[-1] not in _PUNCT else ""
        for tok in toks:
            if tok == ";":
                stmt = "".join(parts).strip()
                parts.clear()
                if stmt:
                    out.append(stmt)
            elif not tok.startswith(_COMMENT):
                parts.append(tok)
        return out

    @property
    def pending(self) -> str:
        tail = "" if self._tail.startswith(_COMMENT) else self._tail
        return ("".join(self._parts) + tail).strip()


def split_statements(chunks: Iterator[str]) -> Iterator[str]:
    """Yield complete SQL statements from a stream of text chunks.
    Semicolons inside 'single', "double", `backtick` quotes (with
    backslash and doubled-quote escapes), -- line comments, and
    /* block comments */ do NOT terminate a statement — exactly the
    cases the reference's regex splitter corrupts."""
    sp = StatementSplitter()
    for chunk in chunks:
        yield from sp.feed(chunk)
    tail = sp.pending
    if tail:
        yield tail


def _file_chunks(path: str, size: int = 1 << 20) -> Iterator[str]:
    with open(path, encoding="utf-8", errors="replace") as f:
        while True:
            chunk = f.read(size)
            if not chunk:
                return
            yield chunk


def _groups(text: str) -> Iterator[list[str]]:
    """Yield each top-level ``( … )`` group of ``text`` as the list of
    its top-level comma-separated items, comments dropped. A group
    left open at the end of ``text`` is not yielded."""
    depth = 0
    items: list[str] = []
    cur: list[str] = []
    for tok in _TOKEN.findall(text):
        if tok == "(":
            depth += 1
            if depth == 1:
                items, cur = [], []
                continue
        elif tok == ")" and depth:
            depth -= 1
            if depth == 0:
                if cur:
                    items.append("".join(cur))
                yield items
                continue
        elif tok == "," and depth == 1:
            items.append("".join(cur))
            cur = []
            continue
        elif tok.startswith(_COMMENT):
            continue
        if depth:
            cur.append(tok)


# ---------------------------------------------------------------------------
# CREATE TABLE / INSERT parsing
# ---------------------------------------------------------------------------

_CREATE_RE = re.compile(r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?\s*\(", re.I | re.S)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:IGNORE\s+)?INTO\s+[`\"]?(\w+)[`\"]?\s*(\([^)]*\))?\s*VALUES\s*",
    re.I | re.S,
)
_CONSTRAINT_PREFIX = re.compile(
    r"^(PRIMARY|UNIQUE|KEY|INDEX|CONSTRAINT|FOREIGN|FULLTEXT|SPATIAL|CHECK)\b", re.I
)


@dataclass
class TableDef:
    name: str
    columns: list[tuple[str, T.DataType]] = field(default_factory=list)

    @property
    def names(self) -> list[str]:
        return [c for c, _ in self.columns]


def parse_create_table(stmt: str) -> TableDef | None:
    m = _CREATE_RE.match(stmt)
    if not m:
        return None
    td = TableDef(m.group(1))
    # the column list is the group that opens at the regex's last '('
    for coldef in next(_groups(stmt[m.end() - 1 :]), []):
        coldef = coldef.strip()
        if not coldef or _CONSTRAINT_PREFIX.match(coldef):
            continue
        cm = re.match(r"^[`\"]?(\w+)[`\"]?\s+(.+)$", coldef, re.S)
        if cm:
            td.columns.append((cm.group(1), mysql_type_to_spark(cm.group(2))))
    return td


_ESCAPES = {
    "n": "\n",
    "t": "\t",
    "r": "\r",
    "0": "\x00",
    "b": "\b",
    "Z": "\x1a",
}
#: a backslash escape, or a doubled quote of either kind
_ESCAPE_RE = re.compile(r"\\(.)|(['\"])\2", re.S)


def _parse_value(tok: str):
    tok = tok.strip()
    if not tok or tok.upper() == "NULL":
        return None
    q = tok[0]
    if q in ("'", '"') and tok[-1] == q and len(tok) >= 2:
        body = tok[1:-1]
        if "\\" not in body and q not in body:
            return body  # no escape can be in it
        # One left-to-right pass: backslash escapes and doubled-quote
        # escapes are consumed together, so the output of one rule can
        # never be re-consumed by another ('a\'\'b' is a''b, not a'b —
        # MySQL semantics, where \x for unknown x is x). A doubled
        # quote of the other kind is not an escape and stays as it is.
        return _ESCAPE_RE.sub(
            lambda m: _ESCAPES.get(m[1], m[1]) if m[1] else (q if m[2] == q else m[0]),
            body,
        )
    return tok  # numeric / literal — cast later against the schema


def parse_insert(stmt: str) -> tuple[str, list[str] | None, list[list]] | None:
    """Return (table, explicit columns or None, rows of raw values)."""
    m = _INSERT_RE.match(stmt)
    if not m:
        return None
    cols = None
    if m.group(2):
        cols = [c.strip().strip('`"') for c in m.group(2)[1:-1].split(",")]
    rows = [[_parse_value(v) for v in row] for row in _groups(stmt[m.end() :])]
    return m.group(1), cols, rows


def _ddl_rows(columns: list[str], cols: list[str] | None, rows: list[list]) -> list[list]:
    """An INSERT's ``rows`` in the DDL's column order: an explicit
    ``INSERT (cols)`` list is reordered (a DDL column it omits is NULL),
    and every row is padded with NULLs or truncated to the DDL's width."""
    if cols:
        order = {c: i for i, c in enumerate(cols)}
        idx = [order.get(c) for c in columns]
        return [[r[i] if i is not None and i < len(r) else None for i in idx] for r in rows]
    width = len(columns)
    return [r[:width] + [None] * (width - len(r)) for r in rows]


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

#: parsed rows per Arrow batch handed to Spark; the driver (or a
#: DataSource split) holds at most one batch per table
_BATCH_ROWS = 50_000


def strings(names: list[str], rows: list[list]):
    """``rows`` (in ``names`` order, values ``str`` or None) as a
    ``pyarrow.Table`` of string columns, one record batch — the only
    form in which parsed dump values cross to the JVM."""
    import pyarrow as pa

    return pa.table(
        [pa.array([r[i] for r in rows], pa.string()) for i in range(len(names))],
        names=names,
    )


def typed(raw: DataFrame, td: TableDef) -> DataFrame:
    """The one cast rule for dump values: ``raw``'s string columns cast to
    the DDL's types on the executors. A value the type cannot hold (a
    zero date, text or an overflowing number in an INT) becomes NULL."""
    return raw.select(*[F.col(c).try_cast(t).alias(c) for c, t in td.columns])


def parse_dump(
    spark: SparkSession,
    path: str,
    tables: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Parse a .sql dump into typed DataFrames, one per table.

    Values are materialized as strings: every ``_BATCH_ROWS`` rows of a
    table cross to the JVM as one ``strings`` batch, and ``typed`` casts
    them to the DDL's types on the executors (a narrow, codegen'd
    projection) — the driver never does per-value type conversion, and
    ``sqldump_datasource.read_table`` types its rows by the same rule.
    ``tables`` filters which tables to load (the reference's
    table-subset option, sh:332-333); a listed table with no CREATE
    TABLE in the dump is a ``ValueError``."""
    defs: dict[str, TableDef] = {}
    pending: dict[str, list[list]] = {}
    frames: dict[str, DataFrame] = {}

    def flush(tname: str) -> None:
        td = defs[tname]
        df = typed(spark.createDataFrame(strings(td.names, pending.pop(tname, []))), td)
        frames[tname] = frames[tname].unionByName(df) if tname in frames else df

    for stmt in split_statements(_file_chunks(path)):
        td = parse_create_table(stmt)
        if td is not None:
            if tables is None or td.name in tables:
                defs[td.name] = td
            continue
        ins = parse_insert(stmt)
        if ins is None or ins[0] not in defs:
            continue
        tname, cols, rows = ins
        buf = pending.setdefault(tname, [])
        buf.extend(_ddl_rows(defs[tname].names, cols, rows))
        if len(buf) >= _BATCH_ROWS:
            flush(tname)

    missing = sorted(set(tables or ()) - set(defs))
    if missing:
        raise ValueError(f"tables {missing} have no CREATE TABLE in {path}")
    for tname in defs:  # the last batch; a table with no rows is empty
        if pending.get(tname) or tname not in frames:
            flush(tname)
    return {tname: frames[tname] for tname in defs}
