"""CLI surface tests — the reference's converter CLIs, driven as a
user would (subprocess, real files)."""

from __future__ import annotations

import json
import subprocess
import sys


def run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "universal_data_to_orc_converter_spark", *args],
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_cli_csv_conversion(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "users.csv").write_text("id,name\n1,ann\n2,bo\n")
    out = tmp_path / "out"
    r = run_cli("csv", str(src), str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(r.stdout.strip().splitlines()[-1])
    assert "users" in payload["tables"]
    assert list(out.glob("users/*.orc"))
    # per-table progress narrates on STDERR (stdout stays one JSON
    # line); exact Observation row total from the single write pass
    assert "users: 2 rows written (1/1 tables)" in r.stderr, (
        r.stderr[-2000:]
    )


def test_cli_quiet_suppresses_progress(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "users.csv").write_text("id\n1\n")
    out = tmp_path / "out"
    r = run_cli("csv", str(src), str(out), "--quiet")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "rows written" not in r.stderr
    assert "Converting" not in r.stderr


def test_cli_dump_conversion(tmp_path):
    dump = tmp_path / "d.sql"
    dump.write_text(
        "CREATE TABLE t (id INT, s VARCHAR(20));"
        "INSERT INTO t VALUES (1, 'a;b'), (2, NULL);"
    )
    out = tmp_path / "out"
    r = run_cli("dump", str(dump), str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(payload["tables"]) == {"t"}


def test_cli_mysql_requires_env_password(tmp_path):
    r = run_cli(
        "mysql", str(tmp_path / "o"),
        "--host", "h", "--database", "d", "--user", "u",
    )
    assert r.returncode == 2
    assert "MYSQL_PASSWORD" in r.stderr


def test_cli_rejects_unknown_command():
    r = run_cli("nope")
    assert r.returncode != 0


def test_wizard_csv_flow_subprocess(tmp_path):
    """Drive the interactive wizard end-to-end through a pipe, the way
    a user answers the reference script's prompts (sh:84-173)."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "users.csv").write_text("id,name\n1,ann\n2,bo\n")
    out = tmp_path / "orc"
    answers = "\n".join(
        ["3", str(src), "", "y", "y", str(out), "", ""]
    ) + "\n"
    r = subprocess.run(
        [sys.executable, "-m", "universal_data_to_orc_converter_spark", "wizard"],
        input=answers,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Select input data type:" in r.stdout
    # input() leaves the last prompt unterminated, so the JSON shares
    # its line — parse from the payload marker
    payload = json.loads(r.stdout[r.stdout.rindex('{"tables"'):])
    assert "users" in payload["tables"]
    assert list(out.glob("users/*.orc"))


def test_wizard_dump_flow_inprocess(spark, tmp_path):
    from universal_data_to_orc_converter_spark.wizard import run_wizard

    dump = tmp_path / "d.sql"
    dump.write_text(
        "CREATE TABLE a (x INT); INSERT INTO a VALUES (1);"
        "CREATE TABLE b (y INT); INSERT INTO b VALUES (2);"
    )
    out = tmp_path / "orc"
    answers = iter(["2", str(dump), "y", "a", str(out), "zstd", "4"])
    lines = []
    rc = run_wizard(
        spark,
        ask=lambda prompt: next(answers),
        ask_secret=lambda prompt: "",
        say=lines.append,
    )
    assert rc == 0
    payload = json.loads(lines[-1])
    assert set(payload["tables"]) == {"a"}
    assert list(out.glob("a/*.orc"))
    # per-table progress narration (the reference's sh:249 progress
    # lines; README:106-110) — exact observed row count, no extra scan
    assert any(l.startswith("Converting a (1/1)") for l in lines), lines
    assert "a: 1 rows written (1/1 tables)" in lines, lines


def test_convert_progress_silent_without_report(spark, tmp_path, monkeypatch):
    """report=None must write the frame unobserved: no CollectMetrics
    node in the plan the ORC write gets (report on adds one)."""
    from universal_data_to_orc_converter_spark import converter

    src = tmp_path / "t.csv"
    src.write_text("id\n1\n2\n")
    plans = []
    real_write = converter.write_orc

    def spy(df, path, **kw):
        plans.append(df._jdf.queryExecution().analyzed().toString())
        real_write(df, path, **kw)

    monkeypatch.setattr(converter, "write_orc", spy)
    converter.convert_csv(spark, str(src), str(tmp_path / "silent"))
    converter.convert_csv(
        spark, str(src), str(tmp_path / "narrated"), report=lambda s: None
    )
    assert "CollectMetrics" not in plans[0], plans[0]
    assert "CollectMetrics" in plans[1], plans[1]


def test_convert_progress_reports_rows(spark, tmp_path):
    from universal_data_to_orc_converter_spark.converter import convert_csv

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("id\n1\n")
    (src / "b.csv").write_text("id\n" + "".join(f"{i}\n" for i in range(1234)))
    (src / "c.csv").write_text("id\n1\n2\n")
    lines = []
    convert_csv(spark, str(src), str(tmp_path / "out"), report=lines.append)
    assert "Converting b (2/3) ..." in lines, lines
    assert "b: 1,234 rows written (2/3 tables)" in lines, lines
    assert lines[-1] == "c: 2 rows written (3/3 tables)", lines


def test_convert_progress_restores_caller_job_group(spark, tmp_path):
    """A caller that wraps multi-table conversions in its OWN job group
    must get it back after each table — an unconditional clear would
    wipe it after the first table."""
    from universal_data_to_orc_converter_spark.converter import convert_csv

    src = tmp_path / "t.csv"
    src.write_text("id\n1\n")
    sc = spark.sparkContext
    sc.setJobGroup("caller_batch", "caller's own group")
    try:
        convert_csv(
            spark, str(src), str(tmp_path / "jg"), report=lambda s: None
        )
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller_batch"
        assert (
            sc.getLocalProperty("spark.job.description")
            == "caller's own group"
        )
    finally:
        sc.setJobGroup(None, None)
    # and with no caller group, the loop still leaves the thread clean
    convert_csv(spark, str(src), str(tmp_path / "jg2"), report=lambda s: None)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_convert_progress_empty_table_reports_zero_rows(spark, tmp_path):
    """A dump table with a CREATE TABLE and no INSERT is an empty frame;
    its observed row total must still resolve (0) and the conversion
    return. Run in a daemon thread so a hang fails instead of stalling
    the suite."""
    import threading

    from universal_data_to_orc_converter_spark.converter import (
        convert_sql_dump,
    )

    dump = tmp_path / "d.sql"
    dump.write_text(
        "CREATE TABLE d (x INT); INSERT INTO d VALUES (1);"
        "CREATE TABLE e (y INT);"
    )
    lines, result = [], {}

    def run():
        result["tables"] = convert_sql_dump(
            spark, str(dump), str(tmp_path / "out"), report=lines.append
        )

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(180)
    assert not t.is_alive(), f"conversion did not return: {lines}"
    assert set(result["tables"]) == {"d", "e"}
    assert "e: 0 rows written (2/2 tables)" in lines, lines


def test_wizard_missing_dump_errors(spark, tmp_path):
    import pytest

    from universal_data_to_orc_converter_spark.wizard import (
        WizardError,
        run_wizard,
    )

    answers = iter(["2", str(tmp_path / "nope.sql")])
    with pytest.raises(WizardError, match="not found"):
        run_wizard(
            spark,
            ask=lambda p: next(answers),
            ask_secret=lambda p: "",
            say=lambda s: None,
        )


def test_wizard_answers_file_replay(spark, tmp_path, capsys):
    """--answers-file replays a recorded session: same prompts, no TTY.
    Blank lines take defaults, # lines are comments, and a truncated
    file fails loudly naming the unanswered prompt."""
    from universal_data_to_orc_converter_spark.wizard import (
        WizardError,
        answers_from_file,
        run_wizard,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "users.csv").write_text("id,name\n1,ann\n2,bo\n")
    out = tmp_path / "orc"
    af = tmp_path / "answers.txt"
    af.write_text(
        "# recorded wizard session: CSV path, defaults for the rest\n"
        "3\n"
        f"{src}\n"
        "\n"   # delimiter -> default ','
        "\n"   # header -> default yes
        "\n"   # infer -> default yes
        f"{out}\n"
        "\n"   # compression -> snappy
        "\n"   # workers -> 4
    )
    lines = []
    ask = answers_from_file(str(af))
    rc = run_wizard(spark, ask=ask, ask_secret=ask, say=lines.append)
    assert rc == 0
    payload = json.loads(lines[-1])
    assert "users" in payload["tables"]
    assert list(out.glob("users/*.orc"))

    # truncated file -> loud failure naming the prompt
    af2 = tmp_path / "short.txt"
    af2.write_text("3\n")
    import pytest

    with pytest.raises(WizardError, match="exhausted at prompt"):
        run_wizard(
            spark,
            ask=answers_from_file(str(af2)),
            ask_secret=lambda p: "",
            say=lines.append,
        )


def test_wizard_workers_reach_jdbc_num_partitions(monkeypatch, spark):
    """The 'Parallel workers [4]' answer must arrive at convert_mysql
    as num_partitions (ADVICE r2: it was silently discarded)."""
    from universal_data_to_orc_converter_spark import wizard

    seen = {}

    def fake_convert_mysql(spark_, cfg, out_dir, tables, compression, **kw):
        seen["num_partitions"] = kw.get("num_partitions")
        return {}

    import universal_data_to_orc_converter_spark.converter as conv

    monkeypatch.setattr(conv, "convert_mysql", fake_convert_mysql)
    answers = iter(
        [
            "1",  # MySQL
            "dbhost",  # host
            "3306",  # port
            "u",  # user
            "db",  # database
            "y",  # export all tables
            "./out",  # output dir
            "zstd",  # compression
            "11",  # parallel workers
        ]
    )
    rc = wizard.run_wizard(
        spark,
        ask=lambda _p: next(answers),
        ask_secret=lambda _p: "pw",
        say=lambda _m: None,
    )
    assert rc == 0
    assert seen["num_partitions"] == 11


def test_answers_file_hash_answer_and_crlf(tmp_path):
    """A lone '#' line and '# ...' lines are comments; '#x' or '#' as
    a recorded ANSWER must survive; CRLF endings are stripped."""
    from universal_data_to_orc_converter_spark.wizard import (
        answers_from_file,
    )

    af = tmp_path / "a.txt"
    af.write_bytes(b"# comment\r\n#\r\n3\r\n#|\r\n\r\n")
    ask = answers_from_file(str(af))
    assert ask("choice") == "3"
    assert ask("delimiter") == "#|"
    assert ask("header") == ""
