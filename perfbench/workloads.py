"""The benchmark's workloads.

Each workload is closed-loop with one client: the next op starts only
after the previous one finished and was checked.  Per op, the driver
calls ``before_op`` (untimed), ``op`` (timed), then ``check`` (untimed).
``traced_op`` runs the same op split into spans at the layer
boundaries; it is used only by the traced run.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from dicomdb_spark import pipeline as P
from dicomdb_spark.functions.scalars import time_str_to_sec
from dicomdb_spark.operators.joins import merge_classify
from dicomdb_spark.operators.stacks import assemble_stacks
from dicomdb_spark.sources.dicom import parse_headers
from dicomdb_spark.sources.inventory import (
    is_dicom_magic,
    path_name_filters,
    regex_descent,
    scan_files,
    split_tree_levels,
)
from dicomdb_spark.sources.jdbc import upsert_partition_writer
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen_dicom, gen_tables
from perfbench.probes import CountingConnect, CountingParser

EXAM_DDL = (
    'CREATE TABLE exam ("EUID" VARCHAR, "AcquisitionDate" VARCHAR,'
    ' "n_series" BIGINT, "ExamDuration" BIGINT, "FirstSerieName" VARCHAR,'
    ' PRIMARY KEY ("EUID", "AcquisitionDate"))'
)
SERIE_DDL = (
    'CREATE TABLE serie ("SeriesInstanceUID" VARCHAR, "SeriesNumber" INTEGER,'
    ' "EchoTime" DOUBLE, "EUID" VARCHAR, "AcquisitionDate" VARCHAR,'
    ' "first_acq_seconds" DOUBLE, "duration_s" DOUBLE,'
    ' PRIMARY KEY ("SeriesInstanceUID", "SeriesNumber", "EchoTime"))'
)
EXAM_KEYS = ["EUID", "AcquisitionDate"]
EXAM_COMPARE = ["n_series", "ExamDuration", "FirstSerieName"]
SERIE_KEYS = list(P.SERIE_DB_KEYS)
SERIE_COMPARE = ["EUID", "AcquisitionDate", "first_acq_seconds", "duration_s"]
SERIE_FLOATS = ["first_acq_seconds", "duration_s"]

EXAM_SCHEMA = T.StructType(
    [
        T.StructField("EUID", T.StringType()),
        T.StructField("AcquisitionDate", T.StringType()),
        T.StructField("n_series", T.LongType()),
        T.StructField("ExamDuration", T.LongType()),
        T.StructField("FirstSerieName", T.StringType()),
    ]
)
SERIE_SCHEMA = T.StructType(
    [
        T.StructField("SeriesInstanceUID", T.StringType()),
        T.StructField("SeriesNumber", T.IntegerType()),
        T.StructField("EchoTime", T.DoubleType()),
        T.StructField("EUID", T.StringType()),
        T.StructField("AcquisitionDate", T.StringType()),
        T.StructField("first_acq_seconds", T.DoubleType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=gen_dicom._nullsafe)


def db_state(db_path: str) -> tuple[list[tuple], list[tuple]]:
    """``(serie_rows, exam_rows)`` currently in the DB, sorted."""
    con = duckdb.connect(db_path, read_only=True)
    try:
        serie = con.execute("SELECT * FROM serie").fetchall()
        exam = con.execute("SELECT * FROM exam").fetchall()
    finally:
        con.close()
    return _sorted_rows(serie), _sorted_rows(exam)


def create_db(db_path: str, serie_rows=(), exam_rows=()) -> None:
    con = duckdb.connect(db_path)
    try:
        con.execute(EXAM_DDL)
        con.execute(SERIE_DDL)
        if serie_rows:
            con.executemany("INSERT INTO serie VALUES (?, ?, ?, ?, ?, ?, ?)", list(serie_rows))
        if exam_rows:
            con.executemany("INSERT INTO exam VALUES (?, ?, ?, ?, ?)", list(exam_rows))
    finally:
        con.close()


class Context:
    """What every workload shares: the session, the seed, a work dir."""

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)


class Workload:
    name = ""
    rotation = 1  # a run stops only after a multiple of this many ops
    warm_ops = 1  # untimed ops before the timed ones
    layer: dict[str, float]

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.layer = {}

    def generate(self) -> None:
        """Make this run's inputs from the seed (repeatable)."""

    def prepare(self) -> None:
        """DB or oracle preparation, once, after ``generate``."""

    def warm_up(self) -> None:
        """``warm_ops`` untimed ops (negative indices) so that the JVM's
        compiled code and the Python workers are in place before timing;
        raises on a wrong result."""
        for i in range(-self.warm_ops, 0):
            self.before_op(i)
            self.op(i)
            if not self.check(i):
                raise RuntimeError(f"{self.name}: warm-up op {i} left a wrong result")

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> bool:
        raise NotImplementedError

    def items(self, i: int) -> int:
        """Input items op ``i`` consumed (files or table rows)."""
        raise NotImplementedError

    def traced_op(self, i: int, spans) -> None:
        raise NotImplementedError

    def finish_trace(self, n_ops: int, engine: dict, spans) -> None:
        """Fill ``self.layer`` (and ``self.engine_layers``) from the
        traced ops' spans and counters and the event log."""


def _per_op(total: float, n_ops: int) -> float:
    return total / n_ops if n_ops else 0.0


# -- crawl_import ----------------------------------------------------------


class CrawlImport(Workload):
    """One op fully imports the on-disk tree into a DB restored, before
    the op, to a snapshot where a third of the exams are absent, a third
    stale and a third current."""

    name = "crawl_import"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.root = os.path.join(ctx.work_dir, "tree")
        self.db = os.path.join(ctx.work_dir, "crawl.duckdb")
        self.pristine = os.path.join(ctx.work_dir, "crawl.pristine.duckdb")

    def generate(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self.tree = gen_dicom.crawl_tree(self.root, self.ctx.seed)
        self.serie_rows, self.exam_rows = gen_dicom.expected_rows(self.tree.series)

    def prepare(self) -> None:
        rng = random.Random(f"snapshot:{self.ctx.seed}")
        fate = {}
        for k, e in enumerate(sorted(self.exam_rows, key=lambda r: rng.random())):
            fate[(e[0], e[1])] = ("absent", "stale", "current")[k % 3]
        snap_exam, snap_serie = [], []
        for e in self.exam_rows:
            f = fate[(e[0], e[1])]
            if f == "current":
                snap_exam.append(e)
            elif f == "stale":
                snap_exam.append((e[0], e[1], e[2] + 1, e[3] + 3, e[4]))
        for s in self.serie_rows:
            f = fate[(s[3], s[4])]
            if f == "current":
                snap_serie.append(s)
            elif f == "stale":
                dur = 7.0 if s[6] is None else s[6] + 1.0
                snap_serie.append(s[:6] + (dur,))
        # rows of exams whose files left the tree: the import keeps them
        foreign_exam = [(f"9.9.{self.ctx.seed}.{k}", "20140101", 3, 11, f"9.9.{self.ctx.seed}.{k}.1") for k in range(3)]
        foreign_serie = [
            (f"9.9.{self.ctx.seed}.{k}.{n}", n, 3.1, f"9.9.{self.ctx.seed}.{k}", "20140101", 30000.0 + n, 2.0)
            for k in range(3)
            for n in (1, 2, 3)
        ]
        for p in (self.pristine, self.db):
            if os.path.exists(p):
                os.remove(p)
        create_db(self.pristine, snap_serie + foreign_serie, snap_exam + foreign_exam)
        self.expected = (
            _sorted_rows(self.serie_rows + foreign_serie),
            _sorted_rows(self.exam_rows + foreign_exam),
        )

    def before_op(self, i: int) -> None:
        shutil.copyfile(self.pristine, self.db)

    def _connect(self):
        db = self.db
        return lambda: duckdb.connect(db)

    def _readback(self, connect):
        con = connect()
        try:
            exam = con.execute("SELECT * FROM exam").fetchall()
            serie = con.execute("SELECT * FROM serie").fetchall()
        finally:
            con.close()
        return (
            self.spark.createDataFrame(serie, SERIE_SCHEMA),
            self.spark.createDataFrame(exam, EXAM_SCHEMA),
        )

    @staticmethod
    def _serie(headers):
        return P.build_serie_frame(headers).select(
            "SeriesInstanceUID",
            F.col("SeriesNumber").cast("int").alias("SeriesNumber"),
            F.col("EchoTime").cast("double").alias("EchoTime"),
            "EUID",
            F.col("AcquisitionDate").cast("string").alias("AcquisitionDate"),
            F.col("first_acq_seconds").cast("double").alias("first_acq_seconds"),
            F.col("duration_s").cast("double").alias("duration_s"),
        )

    @staticmethod
    def _exam(serie):
        return P.build_exam_frame(serie).select(
            "EUID",
            "AcquisitionDate",
            F.col("n_series").cast("long").alias("n_series"),
            F.col("ExamDuration").cast("long").alias("ExamDuration"),
            "FirstSerieName",
        )

    @staticmethod
    def _classify(old_serie, old_exam, serie, exam):
        return (
            merge_classify(old_serie, serie, SERIE_KEYS, SERIE_COMPARE, SERIE_FLOATS),
            merge_classify(old_exam, exam, EXAM_KEYS, EXAM_COMPARE),
        )

    @staticmethod
    def _upsert(cls_serie, cls_exam, connect) -> None:
        for cls, table, keys in ((cls_serie, "serie", SERIE_KEYS), (cls_exam, "exam", EXAM_KEYS)):
            cls.filter(F.col("action") != "noop").drop("action").coalesce(1).foreachPartition(
                upsert_partition_writer(table, keys, connect, dialect="ansi")
            )

    def op(self, i: int) -> None:
        connect = self._connect()
        # persisted like the streaming import's batch frame: both the
        # serie upsert and the exam frame read it
        serie = self._serie(P.extract_headers(self.spark, self.root)).persist()
        try:
            exam = self._exam(serie)
            old_serie, old_exam = self._readback(connect)
            self._upsert(*self._classify(old_serie, old_exam, serie, exam), connect)
        finally:
            serie.unpersist()

    def check(self, i: int) -> bool:
        return db_state(self.db) == self.expected

    def items(self, i: int) -> int:
        return self.tree.n_dicom

    # traced: successive prefixes of the op, materialized to noop
    def traced_op(self, i: int, spans) -> None:
        sp = self.spark
        if not hasattr(self, "_parser"):
            self._parser = CountingParser(sp.sparkContext)
            self._db = CountingConnect(sp.sparkContext, self.db)
            self._acc = {"parse_calls": 0, "parse_s": 0.0, "db": dict.fromkeys(self._db.acc, 0)}
        cx = self.ctx
        cx.set_group("p0.list")
        with spans.span("list", i):
            files = scan_files(sp, self.root, glob="*")
        self._files_listed = len(files.inputFiles())
        selected = path_name_filters(split_tree_levels(files))
        selected = regex_descent(selected, ".*", ".*", "^S").filter(is_dicom_magic())
        headers = parse_headers(selected, parser=self._parser)
        stacks = assemble_stacks(
            headers.withColumn(
                "acq_seconds", time_str_to_sec(F.col("AcquisitionTimeRaw")).cast("double")
            ).select("SeriesInstanceUID", "SeriesNumber", "EchoTime", "path", "InstanceNumber", "acq_seconds")
        )
        for name, df in (("p1.select", selected), ("p2.parse", headers), ("p3.stacks", stacks)):
            cx.set_group(name)
            with spans.span(name, i):
                _noop(df)
        self._scan_tasks = selected.rdd.getNumPartitions()
        # the op itself, with its own actions split into spans
        calls0, parse0 = self._parser.snapshot()
        db0 = self._db.snapshot()
        headers = P.extract_headers(sp, self.root, parser=self._parser)
        serie = self._serie(headers).persist()
        try:
            cx.set_group("p4.serie")
            with spans.span("p4.serie", i):
                _noop(serie)
            exam = self._exam(serie)
            with spans.span("readback", i):
                old_serie, old_exam = self._readback(self._db)
            cls_serie, cls_exam = self._classify(old_serie, old_exam, serie, exam)
            cx.set_group("p5.exam")
            with spans.span("p5.exam", i):
                _noop(exam)
            cx.set_group("p6.classify")
            with spans.span("p6.classify", i):
                _noop(cls_serie)
                _noop(cls_exam)
            cx.set_group("p7.upsert")
            with spans.span("p7.upsert", i):
                self._upsert(cls_serie, cls_exam, self._db)
            cx.set_group("untraced")
            calls2, parse2 = self._parser.snapshot()
            if not hasattr(self, "_counts"):
                self._counts = {
                    "files_selected": selected.count(),
                    "corrupt_rows": headers.filter(F.col("csa_meta").getItem("corrupt").isNotNull()).count(),
                    "stacks_out": serie.count(),
                    "exams_out": exam.count(),
                    "serie_actions": {r[0]: r[1] for r in cls_serie.groupBy("action").count().collect()},
                    "exam_actions": {r[0]: r[1] for r in cls_exam.groupBy("action").count().collect()},
                }
        finally:
            serie.unpersist()
        acc = self._acc
        acc["parse_calls"] += calls2 - calls0
        acc["parse_s"] += parse2 - parse0
        for k, v in self._db.snapshot().items():
            acc["db"][k] += v - db0[k]

    def finish_trace(self, n_ops: int, engine: dict, spans) -> None:
        acc, c = self._acc, self._counts
        t = {name: _per_op(spans.total(name), n_ops) for name in (
            "list", "p1.select", "p2.parse", "p3.stacks", "p5.exam", "p6.classify")}
        L = self.layer
        L["sources.inventory.list_s"] = t["list"]
        L["sources.inventory.scan_s"] = t["p1.select"]
        L["sources.inventory.scan_tasks"] = self._scan_tasks
        L["sources.inventory.files_listed"] = self._files_listed
        L["sources.inventory.files_selected"] = c["files_selected"]
        L["sources.inventory.selected_ratio"] = c["files_selected"] / max(self._files_listed, 1)
        L["sources.dicom.parse_s"] = _per_op(acc["parse_s"], n_ops)
        L["sources.dicom.parse_calls"] = _per_op(acc["parse_calls"], n_ops)
        L["sources.dicom.parses_per_file"] = _per_op(acc["parse_calls"], n_ops) / max(c["files_selected"], 1)
        L["sources.dicom.corrupt_rows"] = c["corrupt_rows"]
        L["operators.stacks.assemble_s"] = max(t["p3.stacks"] - t["p2.parse"], 0.0)
        L["operators.stacks.stacks_out"] = c["stacks_out"]
        L["pipeline.exam_s"] = t["p5.exam"]
        L["pipeline.exams_out"] = c["exams_out"]
        L["operators.joins.merge_classify_s"] = max(t["p6.classify"] - t["p5.exam"], 0.0)
        ea, sa = c["exam_actions"], c["serie_actions"]
        L["operators.joins.merge_inserts"] = ea.get("insert", 0) + sa.get("insert", 0)
        L["operators.joins.merge_updates"] = ea.get("update", 0) + sa.get("update", 0)
        L["operators.joins.merge_noops"] = ea.get("noop", 0) + sa.get("noop", 0)
        for k in ("upsert_s", "statements", "rows_written", "commits", "readback_s", "readback_rows"):
            L[f"sources.jdbc.{k}"] = _per_op(acc["db"][k], n_ops)
        engine = dict(engine)
        engine["p1.select"] = _add(engine.get("p0.list", {}), engine.get("p1.select", {}))
        # engine counters of a prefix minus the prefix before it; p5
        # reads the persisted serie frame, so it is the exam stage alone
        chain = [
            ("sources.inventory", "p1.select", None),
            ("sources.dicom", "p2.parse", "p1.select"),
            ("operators.stacks", "p3.stacks", "p2.parse"),
            ("pipeline", "p5.exam", None),
            ("operators.joins", "p6.classify", "p5.exam"),
            ("sources.jdbc", "p7.upsert", "p6.classify"),
        ]
        self.engine_layers = {
            layer: _self_counters(engine, group, base, n_ops) for layer, group, base in chain
        }


def _add(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0.0) + b.get(k, 0.0) for k in set(a) | set(b)}


def _self_counters(engine: dict, group: str, base: str | None, n_ops: int) -> dict[str, float]:
    """Per-op engine counters of a prefix span minus the prefix before it."""
    cur = engine.get(group, {})
    prev = engine.get(base, {}) if base else {}
    return {k: max(cur.get(k, 0.0) - prev.get(k, 0.0), 0.0) / max(n_ops, 1) for k in cur}


# -- landing_stream --------------------------------------------------------


class LandingStream(Workload):
    """One op is one arrival wave landed as ``(path, content)`` parquet and
    processed by one ``availableNow`` run of the streaming import against
    a DB that grows over the run."""

    name = "landing_stream"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        d = ctx.work_dir
        self.landing = os.path.join(d, "landing")
        self.staging = os.path.join(d, "staging")
        self.checkpoint = os.path.join(d, "checkpoint")
        self.db = os.path.join(d, "landing.duckdb")
        self._wave_rows: dict[int, int] = {}

    def generate(self) -> None:
        for p in (self.landing, self.staging, self.checkpoint):
            shutil.rmtree(p, ignore_errors=True)
            os.makedirs(p)
        self.waves = gen_dicom.LandingWaves(self.ctx.seed)
        self._n_staged = 0
        self._staged = self._stage()  # the first warm-up wave

    def _stage(self) -> tuple[str, int]:
        rows, _series = self.waves.wave()
        path = os.path.join(self.staging, f"wave-{self._n_staged:05d}.parquet")
        self._n_staged += 1
        table = pa.table(
            {"path": [r[0] for r in rows], "content": pa.array([r[1] for r in rows], pa.binary())}
        )
        pq.write_table(table, path)
        return path, len(rows)

    def prepare(self) -> None:
        if os.path.exists(self.db):
            os.remove(self.db)
        create_db(self.db)

    def before_op(self, i: int) -> None:
        path, n = self._staged if self._staged else self._stage()
        self._staged = None
        os.rename(path, os.path.join(self.landing, os.path.basename(path)))
        self._wave_rows[i] = n

    def _run(self, parser=None, connect=None, spans=None, i: int = 0):
        db = self.db
        writer = P.incremental_import_stream(
            self.spark,
            self.landing,
            self.checkpoint,
            connect or (lambda: duckdb.connect(db)),
            parser=parser,
            dialect="ansi",
        )
        if spans is None:
            q = writer.trigger(availableNow=True).start()
        else:
            with spans.span("stream.start", i):
                q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming import failed: {q.exception()}")
        return q

    def op(self, i: int) -> None:
        self._run()

    def check(self, i: int) -> bool:
        expected = gen_dicom.expected_rows(list(self.waves.landed.values()))
        return db_state(self.db) == expected

    def items(self, i: int) -> int:
        return self._wave_rows[i]

    def traced_op(self, i: int, spans) -> None:
        sc = self.spark.sparkContext
        if not hasattr(self, "_parser"):
            self._parser = CountingParser(sc)
            self._db = CountingConnect(sc, self.db)
            self._acc = {"progress": {}, "input_rows": 0, "files": 0}
        with spans.span("stream.run", i):
            q = self._run(self._parser, self._db, spans, i)
        for p in q.recentProgress:
            for k, v in (p.durationMs or {}).items():
                self._acc["progress"][k] = self._acc["progress"].get(k, 0) + v / 1000.0
            self._acc["input_rows"] += p.numInputRows
        self._acc["files"] += self._wave_rows[i]

    def finish_trace(self, n_ops: int, engine: dict, spans) -> None:
        a = self._acc
        calls, parse_s = self._parser.snapshot()
        db = self._db.snapshot()
        L = self.layer
        L["sources.dicom.parse_s"] = _per_op(parse_s, n_ops)
        L["sources.dicom.parse_calls"] = _per_op(calls, n_ops)
        self.files_per_op = _per_op(a["files"], n_ops)
        L["sources.dicom.parses_per_file"] = calls / max(a["files"], 1)
        L["operators.stacks.stacks_out"] = _per_op(db["serie_rows"], n_ops)
        L["pipeline.exams_out"] = _per_op(db["exam_rows"], n_ops)
        L["sources.jdbc.upsert_s"] = _per_op(db["upsert_s"], n_ops)
        L["sources.jdbc.readback_s"] = _per_op(db["readback_s"], n_ops)
        for k in ("statements", "rows_written", "commits", "readback_rows"):
            L[f"sources.jdbc.{k}"] = _per_op(db[k], n_ops)
        L["streaming.start_s"] = _per_op(spans.total("stream.start"), n_ops)
        for name, key in (("add_batch_s", "addBatch"), ("wal_commit_s", "walCommit"), ("latest_offset_s", "latestOffset")):
            L[f"streaming.{name}"] = _per_op(a["progress"].get(key, 0.0), n_ops)
        L["streaming.input_rows"] = _per_op(a["input_rows"], n_ops)
        self.engine_layers = {"streaming": _self_counters(engine, "streaming", None, n_ops)}


# -- query_mix -------------------------------------------------------------

AUDIT_QUERIES = (
    "a1_dup_customer_day",
    "a2_dup_representative",
    "a3_group_counts",
    "a9_completeness_audit",
    "j1_exam_series_revenue",
    "j3_time_proximity",
    "j4_pairwise_doubles",
    "w1_order_duration",
    "w2_keep_latest",
    "s7_merge_classify",
    "r1_dup_resolution",
)
NEAR_DUP_QUERIES = ("dedup_exact", "dedup_minhash_lsh", "ann_lsh_topk")
# a quarter of the sf0.1 row counts: a cold verification pass and three
# timed rotations must fit a run, and the ops are dominated by fixed
# per-query cost (half the rows cost a rotation 10% more)
TABLE_SCALE = 0.025
FAMILIES = {
    "operators.aggregates": ("a1_dup_customer_day", "a3_group_counts", "a9_completeness_audit"),
    "operators.windows": ("a2_dup_representative", "w1_order_duration", "w2_keep_latest", "r1_dup_resolution"),
    "operators.joins": ("j1_exam_series_revenue", "j3_time_proximity", "j4_pairwise_doubles", "s7_merge_classify"),
}
# input tables each query reads, for the input-rows throughput
QUERY_TABLES = {
    "a1_dup_customer_day": ("orders",),
    "a2_dup_representative": ("orders",),
    "a3_group_counts": ("lineitem",),
    "a9_completeness_audit": ("orders", "lineitem"),
    "j1_exam_series_revenue": ("lineitem", "orders", "customer", "nation"),
    "j3_time_proximity": ("events",),
    "j4_pairwise_doubles": ("orders",),
    "w1_order_duration": ("events",),
    "w2_keep_latest": ("events",),
    "s7_merge_classify": ("customer",),
    "r1_dup_resolution": ("events",),
    "dedup_exact": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "ann_lsh_topk": ("embeddings",),
}


def value_hash(rows, columns) -> str:
    """Order-insensitive hash of a result: columns ordered by name,
    each cell by ``repr``, rows sorted."""
    order = sorted(range(len(columns)), key=lambda k: columns[k])
    lines = sorted("\x1f".join(repr(r[k]) for k in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


class QueryMix(Workload):
    """One op runs one registry query to the noop sink, in fixed
    rotation over the audit queries and the near-duplicate searches."""

    name = "query_mix"
    rotation = len(AUDIT_QUERIES) + len(NEAR_DUP_QUERIES)

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.sf = os.path.join(ctx.work_dir, "tables")
        self.queries = AUDIT_QUERIES + NEAR_DUP_QUERIES

    def generate(self) -> None:
        shutil.rmtree(self.sf, ignore_errors=True)
        self.table_rows = gen_tables.write_tables(self.sf, self.ctx.seed, TABLE_SCALE)

    def prepare(self) -> None:
        """Start the DuckDB twins; they run while the engine's
        verification pass does (DuckDB releases the GIL)."""
        self._oracle = ThreadPoolExecutor(max_workers=1)
        self._oracle_result = self._oracle.submit(self._oracles)

    def _oracles(self) -> dict[str, tuple[int, str]]:
        from dicomdb_spark.registry import ORACLES

        con = duckdb.connect()
        try:
            for t in gen_tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            out = {}
            for q in self.queries:
                res = con.execute(ORACLES[q])
                rows = res.fetchall()
                out[q] = (len(rows), value_hash(rows, [c[0] for c in res.description]))
            return out
        finally:
            con.close()

    def result(self, q: str) -> tuple[int, str]:
        """Row count and value hash of the engine's result for ``q``."""
        from dicomdb_spark.registry import QUERIES

        tbl = QUERIES[q](self.spark, self.sf).toArrow()
        rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
        return len(rows), value_hash(rows, tbl.column_names)

    def verify(self) -> None:
        """The verification pass: every query's row count and value hash
        against its DuckDB twin, queries run concurrently (one thread
        per core)."""
        threads = self.spark.sparkContext.defaultParallelism
        with ThreadPoolExecutor(max_workers=threads) as ex:
            got = dict(zip(self.queries, ex.map(self.result, self.queries)))
        try:
            self.oracle = self._oracle_result.result()
        finally:
            self._oracle.shutdown()
        self.counts = {q: n for q, (n, _h) in got.items()}
        self.verified = {q: got[q] == self.oracle[q] for q in self.queries}

    def warm_up(self) -> None:
        """The verification pass, which runs every query once.  The first
        timed rotation still runs up to a quarter slower than the later
        ones; another untimed rotation would not fit a run's budget."""
        self.verify()

    def op(self, i: int) -> None:
        from dicomdb_spark.registry import QUERIES

        _noop(QUERIES[self.queries[i % len(self.queries)]](self.spark, self.sf))

    def check(self, i: int) -> bool:
        return self.verified[self.queries[i % len(self.queries)]]

    def items(self, i: int) -> int:
        return sum(self.table_rows[t] for t in QUERY_TABLES[self.queries[i % len(self.queries)]])

    def traced_op(self, i: int, spans) -> None:
        from dicomdb_spark import registry as R
        from dicomdb_spark.io import load_table
        from dicomdb_spark.llm import dedup as ldedup
        from dicomdb_spark.llm import similarity as lsim
        from dicomdb_spark.session import local_fanout

        sp, sf = self.spark, self.sf
        q = self.queries[i % len(self.queries)]
        self.ctx.set_group("llm" if q in NEAR_DUP_QUERIES else "registry")
        if q == "dedup_minhash_lsh":
            sig = ldedup.minhash_signature_table(
                R._docs_with_dupes(sp, sf), "doc_id", "text", num_hashes=16,
                min_parallelism=local_fanout(sp),
            )
            with spans.span("llm.signature", i):
                _noop(sig)
        elif q == "ann_lsh_topk":
            withb = lsim.bucketed_norm_corpus(load_table(sp, sf, "embeddings"), n_planes=8)
            pairs = lsim.bucket_pair_dots(withb, per_query_limit=3)
            with spans.span("llm.bucket", i):
                _noop(withb)
            with spans.span("llm.pair_dots", i):
                _noop(pairs)
            if not hasattr(self, "_pairs_scored"):
                self._pairs_scored = pairs.count()
        with spans.span("plan", i):
            df = R.QUERIES[q](sp, sf)
            df._jdf.queryExecution().executedPlan()
        with spans.span(f"exec.{q}", i):
            _noop(df)
        self.ctx.set_group("untraced")

    def finish_trace(self, n_ops: int, engine: dict, spans) -> None:
        def mean(name: str) -> float:
            per = spans.per_op(name)
            return sum(per.values()) / len(per) if per else 0.0

        L = self.layer
        plans = spans.per_op("plan")
        L["registry.plan_s"] = sum(plans.values()) / max(len(plans), 1)
        for q in AUDIT_QUERIES:
            L[f"registry.{q}.exec_s"] = mean(f"exec.{q}")
        for fam, qs in FAMILIES.items():
            L[f"{fam}.exec_s"] = sum(L[f"registry.{q}.exec_s"] for q in qs)
        L["llm.dedup.signature_s"] = mean("llm.signature")
        L["llm.dedup.candidate_pairs"] = self.counts["dedup_minhash_lsh"]
        L["llm.similarity.bucket_s"] = mean("llm.bucket")
        L["llm.similarity.pair_dots_s"] = max(mean("llm.pair_dots") - mean("llm.bucket"), 0.0)
        L["llm.similarity.pairs_scored"] = getattr(self, "_pairs_scored", 0)
        n_audit = sum(1 for k in plans if self.queries[k % len(self.queries)] in AUDIT_QUERIES)
        n_llm = len(plans) - n_audit
        self.engine_layers = {
            "registry": _self_counters(engine, "registry", None, n_audit),
            "llm": _self_counters(engine, "llm", None, n_llm),
        }


# -- ingest ----------------------------------------------------------------


class Ingest(Workload):
    """Ops alternate: even ops are a :class:`CrawlImport`, odd ops a
    :class:`LandingStream` wave, so one run covers the crawl and the
    streaming import with one session.  Two of each warm up: the first
    crawl import costs three times a warm one, and the second still a
    fifth more than the fourth."""

    name = "ingest"
    rotation = 2
    warm_ops = 4

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.parts = (CrawlImport(ctx), LandingStream(ctx))

    def warm_up(self) -> None:
        """The warm-up crawl imports and waves run at once, each kind in
        order in its own thread: both kinds pay the cold start of their
        code paths and of the Python workers, and run together those
        costs overlap."""
        with ThreadPoolExecutor(max_workers=2) as ex:
            ok = list(ex.map(self._warm_kind, range(self.rotation)))
        if not all(ok):
            raise RuntimeError(f"{self.name}: a warm-up op left a wrong result")

    def _warm_kind(self, kind: int) -> bool:
        ok = True
        for i in range(kind - self.warm_ops, 0, self.rotation):
            self.before_op(i)
            self.op(i)
            ok = self.check(i) and ok
        return ok

    def _part(self, i: int) -> Workload:
        return self.parts[i % 2]  # i may be negative (warm-up ops)

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def before_op(self, i: int) -> None:
        self._part(i).before_op(i)

    def op(self, i: int) -> None:
        self._part(i).op(i)

    def check(self, i: int) -> bool:
        return self._part(i).check(i)

    def items(self, i: int) -> int:
        return self._part(i).items(i)

    def traced_op(self, i: int, spans) -> None:
        self._part(i).traced_op(i, spans)

    def finish_trace(self, n_ops: int, engine: dict, spans) -> None:
        """Per rotation (one crawl import plus one landing wave): a metric
        both parts report is summed; ``parses_per_file`` is recomputed
        over both parts' files."""
        crawl, landing = self.parts
        crawl.finish_trace((n_ops + 1) // 2, engine, spans)
        landing.finish_trace(n_ops // 2, engine, spans)
        L = dict(crawl.layer)
        for k, v in landing.layer.items():
            L[k] = L.get(k, 0.0) + v
        files = crawl.layer["sources.inventory.files_selected"] + landing.files_per_op
        L["sources.dicom.parses_per_file"] = L["sources.dicom.parse_calls"] / max(files, 1)
        self.layer = L
        self.engine_layers = {**crawl.engine_layers, **landing.engine_layers}


WORKLOADS = {w.name: w for w in (Ingest, QueryMix, CrawlImport, LandingStream)}
