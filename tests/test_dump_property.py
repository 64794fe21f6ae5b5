"""Property-based tests for the SQL-dump tokenizer (hypothesis):
arbitrary strings — including quotes, commas, parens, semicolons,
newlines, unicode — must survive render → split → parse unchanged.
These are exactly the inputs the reference's regex parser corrupts
(data_to_orc_converter.sh:357-363)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from universal_data_to_orc_converter_spark.sources import sqldump
from universal_data_to_orc_converter_spark.sources.sqldump import (
    _INSERT_RE,
    StatementSplitter,
    _groups,
    _parse_value,
    parse_create_table,
    parse_insert,
    split_statements,
)

from .conftest import insert_rows

# printable-ish text including every delimiter the tokenizer cares about
nasty_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "S", "Zs"),
        include_characters="',\"();\\\n\t`-/*",
    ),
    max_size=60,
)


def render_literal(s: str) -> str:
    """Render a Python string as a single-quoted SQL literal with
    backslash escaping (MySQL style)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@given(st.lists(nasty_text, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_string_literals_roundtrip(values):
    stmt = "INSERT INTO t VALUES ({});".format(
        ", ".join(render_literal(v) for v in values)
    )
    dump = "CREATE TABLE t ({});".format(
        ", ".join(f"c{i} TEXT" for i in range(len(values)))
    ) + stmt
    stmts = list(split_statements(iter([dump])))
    assert len(stmts) == 2, stmts
    parsed = parse_insert(stmts[1])
    assert parsed is not None
    rows = insert_rows(parsed)
    assert len(rows) == 1
    # normalize the parser's escape handling of control chars we encode
    got = rows[0]
    assert len(got) == len(values)
    for g, v in zip(got, values):
        assert g == v, (g, v)


@given(nasty_text, st.sampled_from("'\""), st.booleans())
@settings(max_examples=300, deadline=None)
def test_quoted_literal_decodes_to_its_text(text, quote, doubled):
    """Any text, rendered as a '…' or "…" literal with its own quote
    escaped by doubling or by a backslash, decodes to itself — whether
    or not the body holds an escape at all."""
    escape = quote + quote if doubled else "\\" + quote
    body = text.replace("\\", "\\\\").replace(quote, escape)
    assert _parse_value(quote + body + quote) == text


@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(10**12), max_value=10**12),
            st.none(),
            nasty_text,
        ),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=100, deadline=None)
def test_multi_row_inserts_roundtrip(row, n_rows):
    def render_val(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return render_literal(v)

    tup = "(" + ", ".join(render_val(v) for v in row) + ")"
    stmt = "INSERT INTO t VALUES " + ", ".join([tup] * n_rows) + ";"
    parsed = parse_insert(stmt)
    assert parsed is not None
    rows = insert_rows(parsed)
    assert len(rows) == n_rows
    for r in rows:
        assert len(r) == len(row)
        for g, v in zip(r, row):
            if v is None:
                assert g is None
            elif isinstance(v, int):
                assert g == str(v)
            else:
                assert g == v


@given(st.lists(st.sampled_from(
    ["INT", "BIGINT", "VARCHAR(50)", "TEXT", "DECIMAL(10,2)", "DOUBLE",
     "DATE", "DATETIME", "BOOLEAN"]), min_size=1, max_size=8))
@settings(max_examples=50, deadline=None)
def test_create_table_column_count(types):
    ddl = "CREATE TABLE t ({})".format(
        ", ".join(f"col{i} {t}" for i, t in enumerate(types))
    )
    td = parse_create_table(ddl)
    assert td is not None
    assert len(td.columns) == len(types)
    assert [c for c, _ in td.columns] == [f"col{i}" for i in range(len(types))]


# ---------------------------------------------------------------------------
# parse_insert's whole-tuple regex against the token walk it falls back to
# ---------------------------------------------------------------------------

regular_item = st.one_of(
    st.integers(min_value=-(10**12), max_value=10**12).map(str),
    st.sampled_from(["NULL", "null", "Null", "-4.5", "1e-3", "1 2", "TRUE", "a/b", "x-y"]),
    nasty_text.map(render_literal),
    nasty_text.map(lambda s: '"' + s.replace('"', '""') + '"'),
)
# items the whole-tuple regex does not take, so the token walk reads
# them, and near misses it does take ('a''b', NULL x)
odd_item = st.sampled_from([
    "", " ", "(1, 2)", "'a' 'b'", "'a''b'", "'a'b", "_utf8'x'", "X'0A'",
    "1 -- c\n", "/* c */ 2", "--", "`id`", "'open", "NULL x",
])
spacing = st.sampled_from(["", " ", "\n", " \n  ", "\t"])


def token_walk(stmt):
    """The reference reading: every top-level tuple's items, each
    decoded by ``_parse_value``."""
    start = _INSERT_RE.match(stmt).end()
    return [[_parse_value(v) for v in row] for row in _groups(stmt[start:])]


@given(st.data())
@settings(max_examples=500, deadline=None)
def test_parse_insert_matches_token_walk(data):
    width = data.draw(st.integers(min_value=1, max_value=5))
    tuples = data.draw(
        st.lists(st.lists(regular_item, min_size=width, max_size=width), min_size=1, max_size=6)
    )
    for _ in range(data.draw(st.integers(min_value=0, max_value=3))):
        if data.draw(st.booleans()):  # a ragged tuple
            odd = data.draw(st.lists(regular_item, max_size=6))
        else:  # a tuple of the same width with one odd item
            odd = data.draw(st.lists(regular_item, min_size=width, max_size=width))
            odd[data.draw(st.integers(min_value=0, max_value=width - 1))] = data.draw(odd_item)
        tuples.insert(data.draw(st.integers(min_value=0, max_value=len(tuples))), odd)
    pad = data.draw(spacing)
    stmt = "INSERT INTO t VALUES " + ("," + data.draw(spacing)).join(
        "(" + ",".join(pad + v + pad for v in t) + ")" for t in tuples
    ) + data.draw(st.sampled_from(["", ";", " "]))
    ref = token_walk(stmt)
    ins = parse_insert(stmt)
    # a short tuple's missing items are None
    width = max(map(len, ref), default=0)
    assert (ins.n, len(ins.values)) == (len(ref), width)
    assert insert_rows(ins) == [r + [None] * (width - len(r)) for r in ref], stmt


def _mysqldump_text(n_rows):
    """A dump shaped as mysqldump writes it (and as the benchmark
    generates it): a header comment, a ``/*!…*/`` directive, DDL, and
    one extended INSERT of ``n_rows`` seven-value tuples; with the
    statements it holds."""
    tuples = ",".join(
        f"({i},{i % 97},'F',{i}.25,'1997-08-22 00:00:00','2-HIGH',"
        f"'it\\'s back\\\\slash; (x), \"quoted\" -- not /* a comment')"
        for i in range(n_rows)
    )
    stmts = [
        "DROP TABLE IF EXISTS `orders`",
        "CREATE TABLE `orders` (\n  `o_orderkey` bigint DEFAULT NULL,\n"
        "  `o_comment` varchar(120) DEFAULT NULL\n) ENGINE=InnoDB",
        "LOCK TABLES `orders` WRITE",
        f"INSERT INTO `orders` VALUES {tuples}",
        "UNLOCK TABLES",
    ]
    text = "-- MySQL dump 10.13\n/*!40101 SET NAMES utf8mb4 */;\n" + "".join(s + ";\n" for s in stmts)
    return text, stmts


@pytest.mark.parametrize("size", [7, 64, 4096, 1 << 20])
def test_split_long_insert_same_at_every_chunk_size(size):
    """The splitter lexes runs of at most 256 elements and holds the
    last one back for the next chunk: an INSERT of far more elements
    splits the same whatever the chunk size."""
    text, stmts = _mysqldump_text(200)
    chunks = (text[i : i + size] for i in range(0, len(text), size))
    assert list(split_statements(chunks)) == stmts


# a hand-written dump: string literals holding raw newlines (one over
# 2000 lines, one with doubled quotes and a backslash before a line
# end, a "double-quoted" one) and a block comment over many lines
_LONG_LITERAL_DUMP = (
    "CREATE TABLE t (a INT, s TEXT);\n"
    + "INSERT INTO t VALUES (1,'"
    + "".join(f"line {i}; ''quoted'' -- not /* a comment\n" for i in range(2000))
    + "'),\n(2,'it''\n''s\\\n'),\n(3,\"x\n\n\n\");\n"
    + "/* " + "comment;\n" * 500 + "*/INSERT INTO t VALUES (4,'-');\n"
)


@pytest.mark.parametrize("chunking", ["lines", "37 chars"])
def test_split_long_literal_lexes_each_chunk_once(monkeypatch, chunking):
    """Fed line by line, as the distributed reader feeds a statement
    (or in small chunks), a literal or comment that spans many chunks
    is resumed, not lexed again from its start with every chunk: the
    lexer sees each character of the dump a bounded number of times,
    and the statements equal a one-chunk feed."""
    text = _LONG_LITERAL_DUMP
    whole = list(split_statements(iter([text])))
    assert len(whole) == 3 and whole[1].count("\n") == 2007
    run, lexed = sqldump._RUN, []

    class Counting:
        def findall(self, chunk):
            lexed.append(len(chunk))
            return run.findall(chunk)

    monkeypatch.setattr(sqldump, "_RUN", Counting())
    if chunking == "lines":
        chunks = text.splitlines(keepends=True)
    else:
        chunks = [text[i : i + 37] for i in range(0, len(text), 37)]
    sp, got = StatementSplitter(), []
    for chunk in chunks:
        got += sp.feed(chunk)
    assert got == whole
    assert sum(lexed) <= 2 * len(text), (sum(lexed), len(text))
    assert not sp.open and sp.pending == ""


# Long tuples that the whole-tuple regex starts to match and fails on
# only at their end: a backtracking pattern with a nested quantifier
# takes exponential time on them.
_FAILING_TUPLES = [
    "(" + "9" * 100_000 + "'",  # one long word, then a quote
    "(" + "ab-cd/ef " * 20_000 + "--)\n)",  # many words, then a comment
    "(1,2),(" + "x" * 100_000 + ",(",  # a later tuple: a long word, then a paren
    "(" + "'a\\'b''c'," * 20_000 + "'open",  # many literals, then an open one
]


def test_parse_insert_failing_tuples_return():
    """Each failing tuple still parses (through the token walk). Run in
    a child process: a regex match holds the GIL, so only a process
    can be given up on if one hangs."""
    code = (
        "import sys\n"
        "from universal_data_to_orc_converter_spark.sources.sqldump import parse_insert\n"
        "for tail in sys.stdin.read().split('\\0'):\n"
        "    assert parse_insert('INSERT INTO t VALUES ' + tail) is not None\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code],
        input="\0".join(_FAILING_TUPLES),
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert done.returncode == 0
