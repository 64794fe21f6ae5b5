"""SQL-dump source — SURVEY.md §2.A (src_sqldump_parse).

The reference parses dumps with regexes (CREATE TABLE name at
data_to_orc_converter.sh:329, INSERT rows at sh:343/353/357, naive
``split(',')`` + quote-strip at sh:360-363) and loads everything as an
untyped, unnamed DataFrame (sh:382). That corrupts any string literal
containing a comma, parenthesis, or semicolon, and throws away the
DDL's column names and types.

This module is the deliberate divergence (SURVEY.md §7): one set of
MySQL quoting patterns (``_Q1``/``_Q2``/``_BT`` and the comments) is
the only code that knows the quoting rules — 'single' and "double"
strings with backslash and doubled-quote escapes, `backtick`
identifiers, ``--`` and ``/* */`` comments. They are compiled twice:
``_TOKEN`` lexes one token per element, ``_RUN`` lexes runs of elements
with no ``;`` or comment in them, so the streaming statement splitter
(bounded memory — the reference reads the whole dump twice,
sh:325/371) sees a few tokens per statement rather than one per value,
and carries at most three characters of lexer state from one chunk to
the next, so a string that spans many chunks is not lexed again.
An INSERT's tuples are matched whole, one regex per tuple of the first
tuple's width, items quoted or bare; from the first tuple that does not
match (ragged, nested, ``_utf8'x'``, a comment in it), the token walk
(``_groups`` + ``_parse_value``) reads the rest. That walk also reads
the CREATE TABLE column list (as a typed Spark schema) and is the
reference the whole-tuple path is tested against; a literal's escapes
are decoded with one ``re.sub``. For both readers this module also owns
the two steps after parsing: ``strings`` builds the Arrow batch of
string columns in which values cross to the JVM (as the reference
hands its writer Arrow, sh:382/389/391: no per-value type check or
pickling), and ``typed`` is the one cast rule from those strings to the
DDL's types. The distributed reader (``sqldump_datasource.py``) reuses
the parser and both steps.

Scale posture: a .sql dump is an inherently serial, single-machine
ingest format — the parse is driver-side by design. Python holds at
most one ``_BATCH_ROWS`` batch per table; each batch is handed to the
driver JVM as Arrow bytes, which it holds until the table is written.
The session posture (``session.SESSION_CONF``) makes each batch RDD
partitions rather than a driver-side local relation, so the Arrow
decoding, the ``try_cast`` and the ORC write all run in the write's
tasks on the executors. For 100 TB ingest use the JDBC or columnar
sources.
"""

from __future__ import annotations

import functools
import itertools
import re
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
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

#: the body of a 'string' / "string" (\x and doubled-quote escapes) and
#: of a `identifier`, each after its opening quote
_Q1 = r"[^'\\]*(?:(?:\\.|'')[^'\\]*)*"
_Q2 = r'[^"\\]*(?:(?:\\.|"")[^"\\]*)*'
_BT = r"[^`]*(?:``[^`]*)*"
#: a quoted string or identifier. An unterminated one (or comment) runs
#: to the end of the text (the ``\Z`` branches), so the tokens tile the
#: text with no gaps: a caller can rebuild any span by joining them.
_QUOTED = rf"""'{_Q1}(?:'|\\?\Z)|"{_Q2}(?:"|\\?\Z)|`{_BT}(?:`|\Z)"""
#: -- comment (the newline stays) | /* comment */
_COMMENTS = r"--[^\n]*|/\*.*?(?:\*/|\Z)"
#: a '-' or '/' that starts no comment
_DASH = r"-(?!-)|/(?!\*)"
#: The lexer: one token per quoted element, comment, ``( ) , ;`` or run
#: of other text.
_TOKEN = re.compile(rf"{_QUOTED}|{_COMMENTS}|[(),;]|(?:[^'\"`(),;/-]+|{_DASH})+", re.S)
#: an element of a run: a quoted one, other text (``( ) ,`` included) or
#: a dash
_ELEMENT = rf"{_QUOTED}|[^'\"`;/-]+|{_DASH}"
#: The same rules, lexed in runs for the statement splitter: a token is
#: a comment, a ``;``, or a run of up to 256 elements with neither in
#: it. The bound keeps the scan for the last token's last element short.
_RUN = re.compile(rf";|{_COMMENTS}|(?:{_ELEMENT}){{1,256}}", re.S)
_RUN_ELEMENT = re.compile(_ELEMENT, re.S)
#: a quoted element: whether it is closed, else its unpaired trailing
#: backslash (a quoted element is lexed the same way: greedy body first)
_QUOTE_END = {
    q: re.compile(rf"{q}(?:{body})(?:({q})|(\\?))", re.S)
    for q, body in (("'", _Q1), ('"', _Q2), ("`", _BT))
}
_COMMENT = ("--", "/*")


def _end_state(tok: str) -> str:
    """The shortest text that leaves ``_RUN`` where the last token
    ``tok`` (which ends the text lexed) leaves it: inside a comment or a
    quoted element, just after a quote (a doubled quote reopens it), or
    after a ``-`` or ``/`` (it may start a comment); '' between
    elements."""
    if tok.startswith("--"):  # its newline is not in it yet
        return "--"
    if tok.startswith("/*"):
        if len(tok) >= 4 and tok.endswith("*/"):
            return ""
        return "/**" if len(tok) > 2 and tok.endswith("*") else "/*"
    *_, last = _RUN_ELEMENT.finditer(tok)  # tok is a run
    e = last[0]
    if e[0] in _QUOTE_END:
        closed, backslash = _QUOTE_END[e[0]].fullmatch(e).groups()
        return e[0] + (closed or backslash)
    return e if e in ("-", "/") else ""


def _held(state: str) -> str:
    """The text of the statement that ``state`` holds back: a quoted
    state's opening quote is not it (the element's real opening quote
    was kept with its body), and a comment is dropped."""
    if state[:1] in _QUOTE_END:
        return state[1:]
    return "" if state.startswith(_COMMENT) else state


class StatementSplitter:
    """Incremental statement splitter over ``_RUN``.

    ``feed(text)`` returns the statements completed (by a top-level
    ``;``) within the text fed so far; ``pending`` is the unterminated
    tail still buffered and ``open`` says whether there is one. State
    persists across ``feed`` calls, so a caller can stream a file
    line-by-line without re-scanning — the distributed dump reader uses
    this to handle multiple statements on one physical line (and
    statements spanning several lines) without dropping or duplicating
    any. Comments are dropped from the statements.
    """

    def __init__(self) -> None:
        # text of the open statement; whitespace before it is not kept,
        # so the list is empty unless there is a statement
        self._parts: list[str] = []
        # The lexer's state at the end of the text fed so far, as at
        # most three characters (``_end_state``) that are lexed again
        # in front of the next chunk. The element they stand for is
        # kept in ``_parts`` apart from ``_held(state)``, so the work is
        # linear in the text: a quoted string that spans many chunks is
        # resumed, not lexed again from its start.
        self._state = ""

    def feed(self, text: str) -> list[str]:
        out: list[str] = []
        parts = self._parts
        toks = _RUN.findall(self._state + text)
        if not toks:
            return out
        # a quoted state's quote is already in ``_parts``
        cut = 1 if self._state[:1] in _QUOTE_END else 0
        self._state = "" if toks[-1] == ";" else _end_state(toks[-1])
        if held := _held(self._state):
            toks[-1] = toks[-1][: -len(held)]
        for tok in toks:
            part, cut = tok[cut:], 0
            if tok == ";":
                if parts:
                    out.append("".join(parts).strip())
                    parts.clear()
            elif part and not tok.startswith(_COMMENT) and (parts or not part.isspace()):
                parts.append(part)
        return out

    @property
    def open(self) -> bool:
        """Whether an unterminated statement is buffered (as ``pending``
        would say, without joining it)."""
        return bool(self._parts or _held(self._state))

    @property
    def pending(self) -> str:
        return ("".join(self._parts) + _held(self._state)).strip()


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

#: a table name, keyed by its last part: ``t``, ```t```, ``db.t``, ```db`.`t```
_TABLE = r"(?:[`\"]?\w+[`\"]?\.)?[`\"]?(?P<name>\w+)[`\"]?"
_CREATE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<ref>{_TABLE})\s*\(", re.I | re.S
)
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+(?:IGNORE\s+)?INTO\s+{_TABLE}\s*(\([^)]*\))?\s*VALUES\s*",
    re.I | re.S,
)
_CONSTRAINT_PREFIX = re.compile(
    r"^(PRIMARY|UNIQUE|KEY|INDEX|CONSTRAINT|FOREIGN|FULLTEXT|SPATIAL|CHECK)\b", re.I
)


@dataclass
class TableDef:
    name: str
    columns: list[tuple[str, T.DataType]] = field(default_factory=list)
    #: the name as the CREATE TABLE writes it, schema qualifier included
    ref: str = ""

    @property
    def names(self) -> list[str]:
        return [c for c, _ in self.columns]


def parse_create_table(stmt: str) -> TableDef | None:
    m = _CREATE_RE.match(stmt)
    if not m:
        return None
    td = TableDef(m["name"], ref=m["ref"])
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


def _unquote(body: str, q: str) -> str:
    """The text of a ``q``-quoted literal whose body is ``body``."""
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


def _parse_value(tok: str):
    tok = tok.strip()
    if not tok or tok.upper() == "NULL":
        return None
    q = tok[0]
    if q in ("'", '"') and tok[-1] == q and len(tok) >= 2:
        return _unquote(tok[1:-1], q)
    return tok  # numeric / literal — cast later against the schema


# One tuple item as a whole: a complete 'string' or "string" (its body
# captured) or a run of bare words (NULL, numbers). A bare word has no
# quote, no ( ) , ; and no comment start; each of its characters can
# match one way only, so a failed match backtracks in linear time.
_WORD_CH = r"[^\s'\"`(),;/-]"
_WORD = rf"(?:{_WORD_CH}|{_DASH}){_WORD_CH}*(?:(?:{_DASH}){_WORD_CH}*)*"
_VALUE = rf"""\s*(?:'({_Q1})'|"({_Q2})"|({_WORD}(?:\s+{_WORD})*))\s*"""
_ITEM = re.compile(_VALUE + "[,)]", re.S)


def _tuple_width(stmt: str, pos: int) -> int:
    """The number of items of the tuple at ``pos`` if every one is a
    ``_VALUE``, else 0."""
    if not stmt.startswith("(", pos):
        return 0
    width = 0
    while m := _ITEM.match(stmt, pos + 1):
        width += 1
        pos = m.end() - 1
        if stmt[pos] == ")":
            return width
    return 0


@functools.lru_cache(maxsize=32)
def _tuple_res(width: int) -> tuple[re.Pattern, re.Pattern]:
    """The first and each later width-``width`` tuple of a VALUES list."""
    tup = r"\(" + ",".join([_VALUE] * width) + r"\)"
    return re.compile(tup, re.S), re.compile(r"\s*,\s*" + tup, re.S)


def _decode(q1: tuple, q2: tuple, bare: tuple) -> list:
    """One column of matched items as ``_parse_value`` reads them."""
    return [
        _unquote(a, "'") if a is not None
        else _unquote(b, '"') if b is not None
        else None if w.upper() == "NULL" else w
        for a, b, w in zip(q1, q2, bare)
    ]


class Insert(NamedTuple):
    table: str
    #: the explicit ``INSERT (cols)`` list, or None
    cols: list[str] | None
    #: the number of rows (tuples)
    n: int
    #: one list of ``n`` raw values per item position; a short tuple's
    #: missing items are None
    values: list[list]


def parse_insert(stmt: str) -> Insert | None:
    """An INSERT statement's values, column by column. The tuples that
    all have the first one's width and only ``_VALUE`` items are matched
    whole by one regex each; the token walk (``_groups``) reads the rest
    of the statement from the first tuple that is not."""
    m = _INSERT_RE.match(stmt)
    if not m:
        return None
    cols = None
    if m.group(2):
        cols = [c.strip().strip('`"') for c in m.group(2)[1:-1].split(",")]
    pos, tuples = m.end(), []
    width = _tuple_width(stmt, pos)
    if width:
        head, nxt = _tuple_res(width)
        t = head.match(stmt, pos)
        while t:
            tuples.append(t.groups())
            pos = t.end()
            t = nxt.match(stmt, pos)
    groups = list(zip(*tuples))
    values = [_decode(*groups[i : i + 3]) for i in range(0, len(groups), 3)]
    rest = [[_parse_value(v) for v in row] for row in _groups(stmt[pos:])]
    if rest:  # both parts padded with None to the wider one
        rest_values = list(itertools.zip_longest(*rest))
        values = [
            (values[i] if i < len(values) else [None] * len(tuples))
            + (list(rest_values[i]) if i < len(rest_values) else [None] * len(rest))
            for i in range(max(len(values), len(rest_values)))
        ]
    return Insert(m.group(1), cols, len(tuples) + len(rest), values)


def _ddl_values(names: list[str], ins: Insert) -> list[list]:
    """An INSERT's values in the DDL's column order: an explicit
    ``INSERT (cols)`` list is matched case-insensitively, as MySQL
    matches names, and reordered; a DDL column the INSERT has no value
    for is NULL."""
    if ins.cols:
        order = {c.casefold(): i for i, c in enumerate(ins.cols)}
        idx = [order.get(c.casefold()) for c in names]
    else:
        idx = range(len(names))
    width = len(ins.values)
    return [ins.values[i] if i is not None and i < width else [None] * ins.n for i in idx]


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

#: parsed rows per Arrow batch handed to Spark; the driver (or a
#: DataSource split) holds at most one batch per table
_BATCH_ROWS = 50_000


def strings(names: list[str], columns: list[list]):
    """``columns`` (one list per name, values ``str`` or None) as a
    ``pyarrow.Table`` of string columns, one record batch — the only
    form in which parsed dump values cross to the JVM."""
    import pyarrow as pa

    return pa.table([pa.array(c, pa.string()) for c in columns], names=names)


def typed(raw: DataFrame, td: TableDef) -> DataFrame:
    """The one cast rule for dump values: ``raw``'s string columns cast to
    the DDL's types. A value the type cannot hold (a zero date, text or
    an overflowing number in an INT) becomes NULL. The projection runs
    in whole-stage codegen in the tasks that read ``raw`` — on the
    executors, as long as ``raw`` is not a driver-side local relation
    (``session.SESSION_CONF`` keeps Arrow tables from becoming one).
    One ``selectExpr`` builds the projection (a DDL name is ``\\w+``, so
    it needs no escape inside backticks)."""
    return raw.selectExpr(*[f"try_cast(`{c}` AS {t.simpleString()}) AS `{c}`" for c, t in td.columns])


def parse_dump(
    spark: SparkSession,
    path: str,
    tables: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Parse a .sql dump into typed DataFrames, one per table.

    Values are materialized as strings: every ``_BATCH_ROWS`` rows of a
    table cross to the JVM as one ``strings`` batch (under the session
    posture, an RDD of ``arrow.maxRecordsPerBatch``-row partitions), and
    ``typed`` casts them to the DDL's types in the tasks that consume
    the frame (a narrow, codegen'd projection) — neither the Python
    driver nor the driver JVM does per-value type conversion, and
    ``sqldump_datasource.read_table`` types its rows by the same rule.
    ``tables`` filters which tables to load (the reference's
    table-subset option, sh:332-333); a listed table with no CREATE
    TABLE in the dump is a ``ValueError``, and so is a second CREATE
    TABLE of a loaded table (tables are keyed by their name without a
    schema, so ``db1.t`` and ``db2.t`` would merge)."""
    defs: dict[str, TableDef] = {}
    pending: dict[str, list[list]] = {}  # one list per DDL column
    frames: dict[str, DataFrame] = {}

    def flush(tname: str) -> None:
        td = defs[tname]
        columns = pending.pop(tname, None) or [[] for _ in td.columns]
        df = typed(spark.createDataFrame(strings(td.names, columns)), td)
        frames[tname] = frames[tname].unionByName(df) if tname in frames else df

    for stmt in split_statements(_file_chunks(path)):
        td = parse_create_table(stmt)
        if td is not None:
            if td.name in defs:
                raise ValueError(
                    f"table {td.name!r} is created twice in {path}, as "
                    f"{defs[td.name].ref} and as {td.ref}: tables are keyed by "
                    "their name without its schema, so split the dump per database"
                )
            if tables is None or td.name in tables:
                defs[td.name] = td
            continue
        ins = parse_insert(stmt)
        if ins is None or ins.table not in defs:
            continue
        names = defs[ins.table].names
        buf = pending.setdefault(ins.table, [[] for _ in names])
        for col, vals in zip(buf, _ddl_values(names, ins)):
            col.extend(vals)
        if buf and len(buf[0]) >= _BATCH_ROWS:
            flush(ins.table)

    missing = sorted(set(tables or ()) - set(defs))
    if missing:
        raise ValueError(f"tables {missing} have no CREATE TABLE in {path}")
    for tname in defs:  # the last batch; a table with no rows is empty
        if any(pending.get(tname, ())) or tname not in frames:
            flush(tname)
    return {tname: frames[tname] for tname in defs}
