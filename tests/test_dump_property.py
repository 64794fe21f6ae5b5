"""Property-based tests for the SQL-dump tokenizer (hypothesis):
arbitrary strings — including quotes, commas, parens, semicolons,
newlines, unicode — must survive render → split → parse unchanged.
These are exactly the inputs the reference's regex parser corrupts
(data_to_orc_converter.sh:357-363)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from universal_data_to_orc_converter_spark.sources.sqldump import (
    _parse_value,
    parse_create_table,
    parse_insert,
    split_statements,
)

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
    _, _, rows = parsed
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
    _, _, rows = parsed
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
