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


def test_write_with_progress_silent_without_report(spark, tmp_path):
    """report=None must leave the write hook-free: no observe node in
    the plan, no narration — byte-identical to a plain write."""
    from universal_data_to_orc_converter_spark.progress import (
        write_with_progress,
    )

    df = spark.range(10)
    seen = []
    write_with_progress(
        spark, df, "t", 1, 1, None,
        lambda d: seen.append(d.schema.jsonValue() if False else d),
    )
    assert seen[0] is df  # untouched frame — no observe() wrapper


def test_write_with_progress_reports_rows(spark, tmp_path):
    from universal_data_to_orc_converter_spark.progress import (
        write_with_progress,
    )

    out = str(tmp_path / "rows_orc")
    lines = []
    write_with_progress(
        spark,
        spark.range(1234),
        "users",
        2,
        3,
        lines.append,
        lambda d: d.write.mode("overwrite").orc(out),
    )
    assert lines[0] == "Converting users (2/3) ..."
    assert lines[-1] == "users: 1,234 rows written (2/3 tables)"


def test_write_with_progress_restores_caller_job_group(spark, tmp_path):
    """A caller that wraps multi-table conversions in its OWN job group
    must get it back after each table — the pre-r13 finally clause
    cleared the thread's group unconditionally (r12 advice)."""
    from universal_data_to_orc_converter_spark.progress import (
        write_with_progress,
    )

    sc = spark.sparkContext
    sc.setJobGroup("caller_batch", "caller's own group")
    try:
        write_with_progress(
            spark,
            spark.range(5),
            "t",
            1,
            1,
            lambda s: None,
            lambda d: d.write.mode("overwrite").orc(
                str(tmp_path / "jg_orc")
            ),
        )
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller_batch"
        assert (
            sc.getLocalProperty("spark.job.description")
            == "caller's own group"
        )
    finally:
        sc.setJobGroup(None, None)
    # and with no caller group, the hook still leaves the thread clean
    write_with_progress(
        spark,
        spark.range(5),
        "t2",
        1,
        1,
        lambda s: None,
        lambda d: d.write.mode("overwrite").orc(str(tmp_path / "jg2_orc")),
    )
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_write_with_progress_rejects_actionless_write(spark, monkeypatch):
    """A write callback that never runs an action would block forever
    on Observation.get; the hook must raise instead (r12 advice)."""
    import pytest

    from universal_data_to_orc_converter_spark import progress
    from universal_data_to_orc_converter_spark.progress import (
        write_with_progress,
    )

    monkeypatch.setattr(progress, "_OBS_TIMEOUT_SEC", 2.0)
    with pytest.raises(ValueError, match="no Spark action"):
        write_with_progress(
            spark, spark.range(5), "noop", 1, 1, lambda s: None,
            lambda d: None,
        )


def test_write_with_progress_rejects_unrelated_frame_action(
    spark, monkeypatch
):
    """A callback that runs an action on some OTHER frame — never
    materializing the observed plan — slipped past the old job-group
    guard and then hung on Observation.get (r13 advice); the
    Observation-poll guard must raise."""
    import pytest

    from universal_data_to_orc_converter_spark import progress
    from universal_data_to_orc_converter_spark.progress import (
        write_with_progress,
    )

    monkeypatch.setattr(progress, "_OBS_TIMEOUT_SEC", 2.0)
    with pytest.raises(ValueError, match="no Spark action"):
        write_with_progress(
            spark, spark.range(5), "wrongframe", 1, 1, lambda s: None,
            lambda d: spark.range(3).count(),  # ignores d entirely
        )


def test_write_with_progress_allows_callback_own_job_group(
    spark, tmp_path
):
    """A callback that sets its OWN job group internally lands its
    jobs outside the hook's group — the old guard then raised a
    spurious ValueError AFTER the data was written (r13 advice). The
    Observation-poll guard must succeed and report the exact count."""
    from universal_data_to_orc_converter_spark.progress import (
        write_with_progress,
    )

    out = str(tmp_path / "own_group_orc")
    lines = []

    def write_in_own_group(d):
        spark.sparkContext.setJobGroup("cb_private", "callback group")
        d.write.mode("overwrite").orc(out)

    write_with_progress(
        spark, spark.range(77), "owng", 1, 1, lines.append,
        write_in_own_group,
    )
    assert lines[-1] == "owng: 77 rows written (1/1 tables)"


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
