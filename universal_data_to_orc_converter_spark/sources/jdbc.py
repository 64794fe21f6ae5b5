"""JDBC source — SURVEY.md §2.A (src_jdbc_scan / src_jdbc_catalog /
src_jdbc_ping).

The reference paginates MySQL with ``SELECT * … LIMIT 50000 OFFSET n``
(data_to_orc_converter.sh:236) — nondeterministic without ORDER BY and
O(n²) server-side — from one connection shared across 4 threads
(sh:259-264), with the password on the command line (sh:537).

Spark-native replacement: a range-partitioned JDBC scan — each
executor opens its own connection and reads a bounded key range
(deterministic, O(n) server-side, as parallel as numPartitions).
Credentials travel in reader options, never argv.

No MySQL server exists in the test environment, so the MySQL config is
exercised by unit tests on option construction; the LIVE JDBC path is
proven end-to-end against embedded Apache Derby (``DerbyConfig``),
whose driver ships inside Spark's own jars — a real database engine
behind a real JDBC round-trip (write → range-partitioned read), run in
the correctness gate as ``op_jdbc_roundtrip``. Embedded Derby is
single-JVM (fine under local[*]; a cluster would use the Derby network
server or any served database — the Spark-side code is identical).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class JdbcConfig:
    host: str
    port: int
    database: str
    user: str
    password: str
    driver: str = "com.mysql.cj.jdbc.Driver"
    #: 1-row liveness probe (dialect-specific)
    ping_query: str = "SELECT 1 AS ok"

    @property
    def url(self) -> str:
        return f"jdbc:mysql://{self.host}:{self.port}/{self.database}"

    def reader_options(self, fetchsize: int = 10_000) -> dict[str, str]:
        return {
            "url": self.url,
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
            "fetchsize": str(fetchsize),
        }


@dataclass
class DerbyConfig:
    """Embedded Apache Derby — the in-environment live JDBC target.
    ``path`` is the database directory; ``create=True`` on first use."""

    path: str
    create: bool = False
    driver: str = "org.apache.derby.jdbc.EmbeddedDriver"
    #: Derby has no FROM-less SELECT; SYSDUMMY1 is its DUAL
    ping_query: str = "SELECT 1 AS ok FROM SYSIBM.SYSDUMMY1"

    @property
    def url(self) -> str:
        return f"jdbc:derby:{self.path}" + (";create=true" if self.create else "")

    def reader_options(self, fetchsize: int = 10_000) -> dict[str, str]:
        return {
            "url": self.url,
            "driver": self.driver,
            "fetchsize": str(fetchsize),
        }


def read_table(
    spark: SparkSession,
    cfg,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """Full-table scan. With a numeric ``partition_column`` the scan
    splits into ``num_partitions`` bounded range predicates — the
    deterministic replacement for the reference's LIMIT/OFFSET loop."""
    reader = spark.read.format("jdbc").options(**cfg.reader_options())
    reader = reader.option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def list_tables(spark: SparkSession, cfg) -> DataFrame:
    """src_jdbc_catalog — the reference shells out to the mysql CLI for
    SHOW TABLES (sh:573); the engine catalog is the native way
    (information_schema for MySQL, SYS.SYSTABLES for Derby)."""
    if isinstance(cfg, DerbyConfig):
        query = (
            "SELECT TABLENAME AS table_name FROM SYS.SYSTABLES "
            "WHERE TABLETYPE = 'T'"
        )
    else:
        query = (
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{cfg.database}'"
        )
    return (
        spark.read.format("jdbc")
        .options(**cfg.reader_options())
        .option("query", query)
        .load()
    )


def ping(spark: SparkSession, cfg) -> bool:
    """src_jdbc_ping — 1-row probe replacing the reference's
    ``USE db`` shell-out (sh:583-589)."""
    try:
        (
            spark.read.format("jdbc")
            .options(**cfg.reader_options())
            .option("query", cfg.ping_query)
            .load()
            .collect()
        )
        return True
    except Exception:
        return False


def write_table(
    spark: SparkSession,
    cfg,
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
) -> None:
    """JDBC sink: each partition writes over its own connection."""
    (
        df.write.format("jdbc")
        .options(**cfg.reader_options())
        .option("dbtable", table)
        .mode(mode)
        .save()
    )


def partition_bounds(spark: SparkSession, cfg, table: str, column: str) -> tuple | None:
    """``(MIN, MAX)`` of ``column`` in ``table``: the bounds of a
    range-partitioned ``read_table``, or None for an empty table. The
    column is quoted by Spark's JDBC dialect for ``cfg.url`` (backticks
    for MySQL, double quotes for Derby), so a case-folding database
    keeps its spelling. The aliases are needed (Spark selects the
    query's columns by name), but the row is read by position because
    databases fold the case of unquoted aliases differently."""
    dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(cfg.url)
    col = dialect.quoteIdentifier(column)
    lo, hi = (
        spark.read.format("jdbc")
        .options(**cfg.reader_options())
        .option("query", f"SELECT MIN({col}) lo, MAX({col}) hi FROM {table}")
        .load()
        .collect()[0]
    )
    return None if lo is None else (lo, hi)
