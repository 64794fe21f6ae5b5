"""Interactive wizard — the reference's primary entry point
(data_to_orc_converter.sh:84-173), prompt-for-prompt.

The reference is an interactive bash script: choose a source type
(MySQL / SQL dump / CSV), answer per-source questions, then output
options, then it generates+runs a converter. This module mirrors those
prompts (same wording, same defaults, same y/N conventions) on top of
the same converter functions the non-interactive CLI uses.

Differences, both deliberate:

* the MySQL password is read with ``getpass`` (the reference's
  ``read -s``) and never echoed or placed in argv (sh:537 passes it on
  the command line);
* "Parallel workers" is accepted for parity with the reference and,
  as things stand, changes no read. On the MySQL path it is passed as
  ``convert_mysql``'s ``num_partitions``, but that only splits tables
  named in ``partition_columns`` into key ranges, and the wizard asks
  for no partition column — so it takes effect only through the
  library API with a partition column. The dump/CSV paths have no
  worker knob: Spark schedules their file splits itself.

Testable by construction: prompts go through ``ask``/``say``
callables, so tests drive the full flow expect-style with string
queues and no TTY.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable


class WizardError(Exception):
    """Fatal wizard input (mirrors the reference's ``error`` fn)."""


def _yes(ans: str, default: bool) -> bool:
    a = ans.strip().lower()
    if not a:
        return default
    return a in ("y", "yes")


def run_wizard(
    spark,
    ask: Callable[[str], str] = input,
    ask_secret: Callable[[str], str] | None = None,
    say: Callable[[str], None] = print,
) -> int:
    """Run the interactive conversion wizard. Returns the exit code."""
    if ask_secret is None:
        import getpass

        ask_secret = getpass.getpass

    say("")
    say("Select input data type:")
    say("1) MySQL Database")
    say("2) SQL Dump File")
    say("3) CSV Files")
    dtype = ask("Enter choice [1]: ").strip() or "1"
    if dtype not in ("1", "2", "3"):
        raise WizardError(f"invalid choice: {dtype}")

    params: dict = {}
    if dtype == "1":
        say("")
        say("MySQL Database Configuration")
        params["host"] = ask("MySQL Host [localhost]: ").strip() or "localhost"
        params["port"] = int(ask("MySQL Port [3306]: ").strip() or "3306")
        params["user"] = ask("MySQL Username: ").strip()
        params["password"] = ask_secret("MySQL Password: ")
        params["database"] = ask("Database Name: ").strip()
        say("")
        if _yes(ask("Export all tables? [y/N]: "), default=False):
            params["tables"] = None
        else:
            params["tables"] = [
                t.strip()
                for t in ask("Table names (comma-separated): ").split(",")
                if t.strip()
            ]
    elif dtype == "2":
        say("")
        say("SQL Dump Configuration")
        path = ask("Path to SQL dump file: ").strip()
        if not os.path.isfile(path):
            raise WizardError(f"SQL dump file not found: {path}")
        params["input"] = path
        if _yes(ask("Extract specific tables? [y/N]: "), default=False):
            params["tables"] = [
                t.strip()
                for t in ask("Table names (comma-separated): ").split(",")
                if t.strip()
            ]
        else:
            params["tables"] = None
    else:
        say("")
        say("CSV Files Configuration")
        path = ask("CSV file or directory path: ").strip()
        if not os.path.exists(path):
            raise WizardError(f"CSV path not found: {path}")
        params["input"] = path
        params["delimiter"] = ask("CSV delimiter [,]: ") or ","
        params["header"] = _yes(ask("Has header row? [Y/n]: "), default=True)
        params["infer"] = _yes(
            ask("Infer schema from data? [Y/n]: "), default=True
        )

    say("")
    say("Output Configuration")
    out_dir = ask("Output directory [./orc_output]: ").strip() or "./orc_output"
    compression = ask("Compression [snappy]: ").strip() or "snappy"
    workers = int(ask("Parallel workers [4]: ").strip() or "4")

    if dtype == "1":
        from .converter import convert_mysql
        from .sources.jdbc import JdbcConfig

        cfg = JdbcConfig(
            params["host"],
            params["port"],
            params["database"],
            params["user"],
            params["password"],
        )
        written = convert_mysql(
            spark,
            cfg,
            out_dir,
            params["tables"],
            compression,
            num_partitions=workers,
            report=say,
        )
    elif dtype == "2":
        from .converter import convert_sql_dump

        written = convert_sql_dump(
            spark,
            params["input"],
            out_dir,
            compression,
            params["tables"],
            report=say,
        )
    else:
        from .converter import convert_csv

        written = convert_csv(
            spark,
            params["input"],
            out_dir,
            delimiter=params["delimiter"],
            header=params["header"],
            infer_schema=params["infer"],
            compression=compression,
            report=say,
        )
    say(json.dumps({"tables": written}))
    return 0


def answers_from_file(path: str) -> Callable[[str], str]:
    """Build an ``ask`` callable replaying answers from a file.

    Makes the wizard scriptable without a TTY: one answer per line, in
    prompt order; blank lines mean "accept the default" (exactly what
    pressing Enter does interactively); a line starting with ``# ``
    (hash-space) or consisting of a lone ``#`` is a comment and is
    skipped — a bare ``#`` followed by other text is an ANSWER, so
    e.g. ``#`` works as a CSV delimiter. CRLF files are handled (both
    ``\r`` and ``\n`` stripped). Exhausting the file raises
    WizardError naming the unanswered prompt, so a truncated answers
    file fails loudly instead of hanging."""
    with open(path, encoding="utf-8") as fh:
        lines = [ln.rstrip("\r\n") for ln in fh]
    answers = [ln for ln in lines if not (ln == "#" or ln.startswith("# "))]
    it = iter(answers)

    def ask(prompt: str) -> str:
        try:
            return next(it)
        except StopIteration:
            raise WizardError(
                f"answers file {path!r} exhausted at prompt: {prompt!r}"
            ) from None

    return ask
