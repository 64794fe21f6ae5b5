"""The benchmark's four workloads.

Each workload owns its generated inputs, one timed iteration, the
correctness check of what the iterations produced, the read-back probe,
and the traced per-layer probes. Every call into the package goes
through its public functions; nothing here reaches into package
internals.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from spans import Spans

#: lineitem (fact) rows every workload generates: 1/10 of the
#: repository's sf0.1, so a run collects several iterations within the
#: time it is given on a 4-core host (the dump then holds 15k orders)
LINEITEM_ROWS = 60_000

_LINEITEM_PRED = "l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.05"
_ORDERS_PRED = "o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderstatus = 'F'"


def _dir_bytes(path: str, pattern: str = "*.orc") -> list[int]:
    return [os.path.getsize(f) for f in glob.glob(os.path.join(path, pattern))]


def _lower(df):
    return df.toDF(*[c.lower() for c in df.columns])


def checksum_expr(schema: list[tuple[str, str]]):
    """Order-insensitive content hash: every column cast to the source
    type, then to string, hashed per row and summed exactly."""
    cols = [
        F.coalesce(F.col(n).cast(t).cast("string"), F.lit("\\N")) for n, t in schema
    ]
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def probe_csv(spark, spans: Spans, path: str):
    """``sources.csv``: the ``read_csv()`` call (schema inference runs
    inside it), then a full scan into ``noop``."""
    from universal_data_to_orc_converter_spark.sources.csv import read_csv

    with spans.span("sources.csv.read_csv_s") as s:
        df = read_csv(spark, path)
    spans.layers["sources.csv.read_csv_s"] = s.seconds
    with spans.span("sources.csv.scan_s") as s:
        _noop(read_csv(spark, path))
    spans.layers["sources.csv.scan_s"] = s.seconds
    return df


def load_derby(spark, src, parquet_path: str, db: str, table: str = "lineitem"):
    """An embedded Derby database at ``db`` holding ``parquet_path`` as
    ``table``; strings become VARCHARs as wide as their longest value."""
    from universal_data_to_orc_converter_spark.sources.jdbc import DerbyConfig

    widths = {
        f.name: f"VARCHAR({max(len(v) for v in src[f.name].to_pylist())})"
        for f in src.schema
        if f.type == "string"
    }
    (
        spark.read.parquet(parquet_path)
        .write.format("jdbc")
        .options(**DerbyConfig(db, create=True).reader_options())
        .option("dbtable", table)
        .option("createTableColumnTypes", ", ".join(f"{k} {v}" for k, v in widths.items()))
        .mode("overwrite")
        .save()
    )
    return DerbyConfig(db)


def probe_jdbc(spark, spans: Spans, cfg, table: str):
    """``sources.jdbc``: the catalog listing, then ``read_table`` into
    ``noop``."""
    from universal_data_to_orc_converter_spark.sources import jdbc

    with spans.span("sources.jdbc.list_tables_s") as s:
        jdbc.list_tables(spark, cfg).collect()
    spans.layers["sources.jdbc.list_tables_s"] = s.seconds
    with spans.span("sources.jdbc.scan_s") as s:
        _noop(jdbc.read_table(spark, cfg, table))
    spans.layers["sources.jdbc.scan_s"] = s.seconds
    return jdbc.read_table(spark, cfg, table)


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase seconds of ``df``'s own QueryExecution (planning is
    forced here if no action has run it yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


class Workload:
    name = ""
    #: fresh JVMs per run, each with its own set-up. A JVM's speed
    #: differs from the next one's by 10-20% on a small shared host, for
    #: the whole life of the process, so the run takes its medians
    #: across several.
    rounds = 2
    #: rows one iteration processes, input bytes it reads
    rows = 0
    input_bytes = 0

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.report_lines: list[str] = []

    @property
    def size_base(self) -> int:
        """Bytes the ORC output is measured against (``orc_size_ratio``)."""
        return self.input_bytes

    def report(self, line: str) -> None:
        """The conversion callback, on as in the CLI (kept, not printed)."""
        self.report_lines.append(line)

    def prepare(self, spark, work: str, manifest: gen.Manifest) -> None:
        raise NotImplementedError

    def iterate(self, spark, i: int) -> list[float]:
        """One iteration; returns the times of its parts, in a fixed
        order."""
        raise NotImplementedError


class _Convert(Workload):
    """Source → ORC through one of the ``converter`` entry points."""

    source_table = ""  # generated table the conversion reads
    out_table = ""  # table directory name the converter writes
    predicate = None

    def prepare(self, spark, work, manifest):
        self.work = work
        self.out_root = os.path.join(work, "out")
        tables = gen.make_tables(LINEITEM_ROWS)
        src = gen.permute(self.source(tables), self.seed)
        self.rows = src.num_rows
        self.ref_path = manifest.record_parquet(src, os.path.join(work, "source.parquet"))
        self.render(spark, src, manifest)

    def source(self, tables):
        return tables[self.source_table]

    def render(self, spark, src, manifest) -> None:
        raise NotImplementedError

    def convert(self, spark, out: str, report) -> None:
        raise NotImplementedError

    def iterate(self, spark, i):
        out = os.path.join(self.out_root, str(i))
        t0 = time.perf_counter()
        self.convert(spark, out, self.report)
        return [time.perf_counter() - t0]

    def table_dir(self, i: int) -> str:
        return os.path.join(self.out_root, str(i), self.out_table)

    def verify(self, spark, iters: list[int]) -> list[str]:
        """Row count and content checksum of every iteration's ORC
        table must equal those of the source parquet."""
        ref = spark.read.parquet(self.ref_path)
        schema = [(n, t) for n, t in ref.dtypes]
        want = ref.agg(F.count(F.lit(1)), checksum_expr(schema)).first()
        if not iters:
            return []
        got = (
            _lower(spark.read.orc([self.table_dir(i) for i in iters]))
            .withColumn(
                "_it", F.regexp_extract(F.input_file_name(), r"/out/(\d+)/", 1)
            )
            .groupBy("_it")
            .agg(F.count(F.lit(1)), checksum_expr(schema))
            .collect()
        )
        seen = {r[0]: (r[1], r[2]) for r in got}
        bad = []
        for i in iters:
            if seen.get(str(i)) != (want[0], want[1]):
                bad.append(f"iteration {i}: {seen.get(str(i))} != {tuple(want)}")
        return bad

    def output_bytes(self, i: int) -> int:
        return sum(_dir_bytes(self.table_dir(i)))

    def readback(self, spark, i: int) -> float:
        """The reference README's read-back: ``spark.read.orc`` plus a
        fixed WHERE and an aggregate over the table just written."""
        t0 = time.perf_counter()
        _lower(spark.read.orc(self.table_dir(i))).where(self.predicate).agg(
            F.count(F.lit(1)), F.sum(F.col(self.price_col))
        ).collect()
        return time.perf_counter() - t0

    # -- traced probes -----------------------------------------------------

    def source_frame(self, spark, spans: Spans):
        """The source's DataFrame, timed as this workload's read layer."""
        raise NotImplementedError

    def probes(self, spark, spans: Spans) -> None:
        layers = spans.layers
        # twice: the first pass pays this process's cold start of the
        # probed path; the second one's numbers are kept
        for _ in range(2):
            df = self.source_frame(spark, spans)
        for k, v in catalyst_phases(df).items():
            layers[f"catalyst.{k}_s"] = v
        cached = df.cache()
        cached.count()
        out = os.path.join(self.work, "probe_orc")
        from universal_data_to_orc_converter_spark.sinks.orc import write_orc

        with spans.span("sinks.orc.write_s") as s:
            write_orc(cached, out)
        layers["sinks.orc.write_s"] = s.seconds
        spans.defer("sinks.orc.commit_s", s, "after_last_task")
        sizes = _dir_bytes(out)
        layers["sinks.orc.files"] = len(sizes)
        layers["sinks.orc.mean_file_mb"] = sum(sizes) / len(sizes) / 1e6
        cached.unpersist()
        # the progress callback's cost: report on vs report=None, paired
        # and alternated, median of the differences
        diffs = []
        for k in range(3):
            times = {}
            for rep in ((self.report, None) if k % 2 == 0 else (None, self.report)):
                dst = os.path.join(self.work, "probe_progress", str(rep is None))
                t0 = time.perf_counter()
                self.convert(spark, dst, rep)
                times[rep is None] = time.perf_counter() - t0
            diffs.append(times[False] - times[True])
        layers["progress.overhead_s"] = statistics.median(diffs)

    price_col = ""


class ConvertCsv(_Convert):
    name = "convert_csv"
    source_table = "lineitem"
    out_table = "lineitem"
    predicate = _LINEITEM_PRED
    price_col = "l_extendedprice"

    def render(self, spark, src, manifest):
        self.csv_path = os.path.join(self.work, "lineitem.csv")
        gen.write_csv(src, self.csv_path)
        manifest.record(self.csv_path)
        self.input_bytes = manifest.bytes("lineitem.csv")

    def convert(self, spark, out, report):
        from universal_data_to_orc_converter_spark import converter

        converter.convert_csv(spark, self.csv_path, out, report=report)

    def source_frame(self, spark, spans):
        return probe_csv(spark, spans, self.csv_path)


class ConvertSqlDump(_Convert):
    name = "convert_sqldump"
    source_table = "orders"
    out_table = "orders"
    predicate = _ORDERS_PRED
    price_col = "o_totalprice"

    def source(self, tables):
        return gen.orders_for_dump(tables["orders"])

    def render(self, spark, src, manifest):
        self.dump_path = os.path.join(self.work, "orders.sql")
        gen.write_sql_dump(src, "orders", self.dump_path)
        manifest.record(self.dump_path)
        self.input_bytes = manifest.bytes("orders.sql")

    def convert(self, spark, out, report):
        from universal_data_to_orc_converter_spark import converter

        converter.convert_sql_dump(spark, self.dump_path, out, report=report)

    def source_frame(self, spark, spans):
        from universal_data_to_orc_converter_spark.sources import (
            sqldump,
            sqldump_datasource,
        )

        def chunks():
            with open(self.dump_path, encoding="utf-8") as f:
                yield from iter(lambda: f.read(1 << 20), "")

        with spans.span("sources.sqldump.split_s") as s:
            stmts = list(sqldump.split_statements(chunks()))
        split_s = s.seconds
        with spans.span("sources.sqldump.insert_parse_s") as s:
            for stmt in stmts:
                sqldump.parse_insert(stmt)
        parse_s = s.seconds
        with spans.span("sources.sqldump.parse_dump_s") as s:
            df = sqldump.parse_dump(spark, self.dump_path)["orders"]
        spans.layers["sources.sqldump.split_s"] = split_s
        spans.layers["sources.sqldump.insert_parse_s"] = parse_s
        spans.layers["sources.sqldump.parse_dump_s"] = s.seconds
        spans.layers["sources.sqldump.to_spark_s"] = s.seconds - split_s - parse_s
        sqldump_datasource.register(spark)
        with spans.span("sources.sqldump_datasource.scan_s") as s:
            _noop(
                spark.read.format("sqldump")
                .option("path", self.dump_path)
                .option("table", "orders")
                .load()
            )
        spans.layers["sources.sqldump_datasource.scan_s"] = s.seconds
        return df

    def probes(self, spark, spans):
        super().probes(spark, spans)
        # BENCHMARK.json lists no CSV or JDBC conversion, so those
        # sources are measured here, on the same rows
        import pyarrow.parquet as pq

        src = pq.read_table(self.ref_path)
        csv_path = os.path.join(self.work, "orders.csv")
        gen.write_csv(src, csv_path)
        cfg = load_derby(spark, src, self.ref_path, os.path.join(self.work, "derby"), "orders")
        for _ in range(2):
            probe_csv(spark, spans, csv_path)
            probe_jdbc(spark, spans, cfg, "ORDERS")


class ConvertJdbc(_Convert):
    """``convert_mysql`` with ``tables=None`` and no partition columns —
    the ``mysql`` CLI path — against embedded Derby."""

    name = "convert_jdbc"
    source_table = "lineitem"
    out_table = "LINEITEM"  # Derby folds unquoted table names to upper case
    predicate = _LINEITEM_PRED
    price_col = "l_extendedprice"

    def render(self, spark, src, manifest):
        self.cfg = load_derby(spark, src, self.ref_path, os.path.join(self.work, "derby"))
        # the input's size is that of its CSV rendering
        csv_path = os.path.join(self.work, "lineitem.csv")
        gen.write_csv(src, csv_path)
        manifest.record(csv_path)
        self.input_bytes = manifest.bytes("lineitem.csv")
        os.remove(csv_path)

    def convert(self, spark, out, report):
        from universal_data_to_orc_converter_spark import converter

        converter.convert_mysql(spark, self.cfg, out, tables=None, report=report)

    def source_frame(self, spark, spans):
        return probe_jdbc(spark, spans, self.cfg, self.out_table)


class QueryHeadline(Workload):
    """``bench.HEADLINE`` through the registry, into the ``noop`` sink.
    One iteration is a pass over the 8 queries in a seed-permuted
    order."""

    name = "query_headline"
    #: its set-up and cold first pass alone take ~25 s, so one JVM per
    #: run: setup_s and first_iter_s are then single readings
    rounds = 1

    def prepare(self, spark, work, manifest):
        from bench import HEADLINE
        from universal_data_to_orc_converter_spark.registry import load_all_queries
        from universal_data_to_orc_converter_spark.sinks.orc import write_orc

        self.work = work
        self.data = os.path.join(work, "data")
        os.makedirs(self.data)
        self.headline = list(HEADLINE)
        self.specs = load_all_queries()
        tables = gen.make_tables(LINEITEM_ROWS)
        for k, (name, t) in enumerate(sorted(tables.items())):
            manifest.record_parquet(
                gen.permute(t, self.seed + k), os.path.join(self.data, f"{name}.parquet")
            )
        # the rows and bytes of every generated table
        self.rows = sum(t.num_rows for t in tables.values())
        self.input_bytes = sum(manifest.bytes(f"{name}.parquet") for name in tables)
        self.planted = {(i - 1, i) for i in range(1, tables["documents"].num_rows, 20)}
        # bench.py's compression figure: lineitem as ORC(zlib) vs CSV,
        # and the ORC table the read-back probe scans
        li = gen.permute(tables["lineitem"], self.seed)
        csv_path = os.path.join(work, "lineitem.csv")
        gen.write_csv(li, csv_path)
        manifest.record(csv_path)
        self.csv_bytes = manifest.bytes("lineitem.csv")
        os.remove(csv_path)
        self.orc_dir = os.path.join(work, "lineitem_orc")
        write_orc(
            spark.read.parquet(os.path.join(self.data, "lineitem.parquet")),
            self.orc_dir,
            compression="zlib",
        )

    def order(self, p: int) -> list[str]:
        rng = np.random.default_rng([self.seed, p])
        return [self.headline[k] for k in rng.permutation(len(self.headline))]

    def iterate(self, spark, i):
        """One pass in the seed's order; times in ``bench.HEADLINE``
        order."""
        from bench import run_query

        times = {q: run_query(spark, self.specs[q].fn, self.data) for q in self.order(i)}
        return [times[q] for q in self.headline]

    def verify(self, spark, iters):
        """Each query's result against the registry's DuckDB oracle;
        the MinHash query has none and must find the planted pairs."""
        import duckdb

        from tests.conftest import _norm

        bad = []
        con = duckdb.connect()
        try:
            for f in sorted(glob.glob(os.path.join(self.data, "*.parquet"))):
                name = os.path.basename(f)[: -len(".parquet")]
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
            for q in self.headline:
                df = self.specs[q].fn(spark, self.data)
                rows = df.collect()
                oracle = self.specs[q].oracle
                if oracle is None:
                    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
                    if not rows or not self.planted <= pairs:
                        bad.append(f"{q}: {len(rows)} rows, planted pairs missing")
                    continue
                rel = con.sql(oracle)
                cols = sorted(df.columns)
                if cols != sorted(rel.columns):
                    bad.append(f"{q}: columns {cols} != {sorted(rel.columns)}")
                    continue
                idx = {c: k for k, c in enumerate(rel.columns)}
                got = sorted((tuple(_norm(r[c]) for c in cols) for r in rows), key=repr)
                want = sorted(
                    (tuple(_norm(r[idx[c]]) for c in cols) for r in rel.fetchall()),
                    key=repr,
                )
                if got != want:
                    bad.append(f"{q}: result differs from the DuckDB oracle")
        finally:
            con.close()
        return bad

    @property
    def size_base(self) -> int:
        return self.csv_bytes

    def output_bytes(self, i: int) -> int:
        return sum(_dir_bytes(self.orc_dir))

    def readback(self, spark, i):
        t0 = time.perf_counter()
        spark.read.orc(self.orc_dir).where(_LINEITEM_PRED).agg(
            F.count(F.lit(1)), F.sum("l_extendedprice")
        ).collect()
        return time.perf_counter() - t0

    def probes(self, spark, spans):
        layers = spans.layers
        totals = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for q in self.order(10**6):
            with spans.span(f"operators.{q}.construct_s") as s:
                df = self.specs[q].fn(spark, self.data)
            layers[f"operators.{q}.construct_s"] = s.seconds
            spans.defer(f"operators.{q}.jobs_at_construct", s, "jobs")
            for k, v in catalyst_phases(df).items():
                totals[k] += v
            t0 = time.perf_counter()
            _noop(df)
            layers[f"operators.{q}.exec_s"] = time.perf_counter() - t0
        for k, v in totals.items():
            layers[f"catalyst.{k}_s"] = v


WORKLOADS = {
    w.name: w for w in (ConvertCsv, ConvertSqlDump, ConvertJdbc, QueryHeadline)
}
