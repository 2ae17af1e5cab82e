"""The E1 import (SURVEY.md §3 E1): lazy stages and one import core.

Reference flow (do_dicom_series_DB.py): directory scan → per-series
header extraction → sessionize into exams → upsert serie + exam rows,
exam stats rebuilt from the serie table (Cenir_DB.py:839-868), with a
``-t`` dry run that writes nothing.

* ``extract_headers`` → ``build_serie_frame`` → ``build_exam_frame``
  are lazy DataFrame stages: scan and parse are map-only, stacks
  shuffle once on the stack key, exams once on (EUID,
  AcquisitionDate).
* ``import_series`` is the one import core.  Given a batch's serie
  rows, it reads back the DB's rows of the exams they touch, rebuilds
  those exams from the serie state the DB will hold after the write,
  classifies serie and exam rows (insert/update/noop) and upserts the
  changes.
* ``import_tree`` (a crawl of an on-disk tree; the CLI's ``import``)
  and ``incremental_import_stream`` (every micro-batch) both run that
  core, so every import keys exams on (EUID, AcquisitionDate) and the
  same files leave the same DB state whichever way they arrive.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dicomdb_spark.functions.scalars import (
    ceil_minutes,
    duration_with_rollover,
    time_str_to_sec,
)
from dicomdb_spark.operators.joins import merge_classify
from dicomdb_spark.operators.stacks import assemble_stacks
from dicomdb_spark.sources.dicom import HeaderParser, parse_headers
from dicomdb_spark.sources.inventory import (
    is_dicom_magic,
    path_name_filters,
    regex_descent,
    scan_files,
    split_tree_levels,
)
from dicomdb_spark.sources.jdbc import _sql_ident, _sql_literal, upsert_partition_writer
from dicomdb_spark.streaming.incremental import stream_inventory

_LOG = logging.getLogger(__name__)


def extract_headers(
    spark: SparkSession,
    root: str,
    parser: HeaderParser | None = None,
    proto_reg: str = ".*",
    suj_reg: str = ".*",
    ser_reg: str = "^S",
    modified_after: str | None = None,
) -> DataFrame:
    """Stages 1–2: source selection + extraction (E1 steps 1–3).

    scan (S1/S2, mtime pushdown) → level split → regex descent →
    name filters (P8) → DICM sniff (S3) → header parse (U1, the
    built-in Part-10 reader unless a richer parser is injected).
    """
    files = scan_files(spark, root, glob="*", modified_after=modified_after)
    files = path_name_filters(split_tree_levels(files))
    files = regex_descent(files, proto_reg, suj_reg, ser_reg)
    files = files.filter(is_dicom_magic())
    return parse_headers(files, parser=parser)


def build_serie_frame(headers: DataFrame) -> DataFrame:
    """Stage 3a: per-stack serie rows (U3 assembly + audits).

    acq_seconds derives from the raw HHMMSS time string (F4).
    """
    h = headers.withColumn(
        "acq_seconds", time_str_to_sec(F.col("AcquisitionTimeRaw")).cast("double")
    )
    stacks = assemble_stacks(
        h.select(
            "SeriesInstanceUID",
            "SeriesNumber",
            "EchoTime",
            "path",
            "InstanceNumber",
            "acq_seconds",
        )
    )
    # re-attach exam linkage + date: one representative file per stack,
    # the stack kernel's first row (InstanceNumber nulls last, then
    # path).  A bare min_by over InstanceNumber would skip NULL
    # orderings and give a stack with no InstanceNumber a NULL exam key.
    first = F.struct(
        F.col("InstanceNumber").isNull(), F.col("InstanceNumber"), F.col("path")
    )
    link = h.groupBy("SeriesInstanceUID", "SeriesNumber", "EchoTime").agg(
        F.min_by("StudyInstanceUID", first).alias("EUID"),
        F.min_by("AcquisitionDate", first).alias("AcquisitionDate"),
        F.min("acq_seconds").alias("first_acq_seconds"),
    )
    return stacks.join(link, ["SeriesInstanceUID", "SeriesNumber", "EchoTime"])


def build_exam_frame(serie: DataFrame) -> DataFrame:
    """Stage 3b: exams = series sessionized by (EUID, AcquisitionDate)
    (W3, Exam_info.py:1380-1459), with the W1 duration metric:
    ceil((last.start − first.start + last.duration) / 60) minutes,
    midnight-rollover guarded (Exam_info.py:197-232).

    First/last picks order by the FULL stack key (SeriesNumber,
    SeriesInstanceUID, EchoTime) — unique per serie row — so ties on
    SeriesNumber alone (two series sharing a number inside one exam)
    cannot make the picks nondeterministic."""
    ordk = F.struct("SeriesNumber", "SeriesInstanceUID", "EchoTime")
    g = serie.groupBy("EUID", "AcquisitionDate").agg(
        F.count("*").alias("n_series"),
        F.min_by("first_acq_seconds", ordk).alias("first_start"),
        F.max_by("first_acq_seconds", ordk).alias("last_start"),
        F.max_by("duration_s", ordk).alias("last_duration"),
        F.min_by("SeriesInstanceUID", ordk).alias("FirstSerieName"),
        F.max_by("SeriesInstanceUID", ordk).alias("LastSerieName"),
    )
    dur = duration_with_rollover(
        F.col("first_start").cast("long"), F.col("last_start").cast("long")
    ) + F.coalesce(F.col("last_duration").cast("long"), F.lit(0))
    return g.withColumn("ExamDuration", ceil_minutes(dur))




# The DB's row shapes: one serie row per stack, one exam row per
# (EUID, AcquisitionDate).
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
EXAM_SCHEMA = T.StructType(
    [
        T.StructField("EUID", T.StringType()),
        T.StructField("AcquisitionDate", T.StringType()),
        T.StructField("n_series", T.LongType()),
        T.StructField("ExamDuration", T.LongType()),
        T.StructField("FirstSerieName", T.StringType()),
    ]
)
SERIE_DB_KEYS = ("SeriesInstanceUID", "SeriesNumber", "EchoTime")
EXAM_DB_KEYS = ("EUID", "AcquisitionDate")
# MERGE compare columns; the serie floats compare under the reference's
# round(x*1e5) tolerance (Cenir_DB.py:938)
SERIE_COMPARE = ("EUID", "AcquisitionDate", "first_acq_seconds", "duration_s")
SERIE_FLOATS = ("first_acq_seconds", "duration_s")
EXAM_COMPARE = ("n_series", "ExamDuration", "FirstSerieName")


def _typed(df: DataFrame, schema: T.StructType) -> DataFrame:
    return df.select(*(F.col(f.name).cast(f.dataType).alias(f.name) for f in schema))


def serie_db_frame(headers: DataFrame) -> DataFrame:
    """The ``serie`` rows of a header frame, typed as ``SERIE_SCHEMA``.
    Files without a SeriesInstanceUID (corrupt or non-image) form no
    stack."""
    headers = headers.filter(F.col("SeriesInstanceUID").isNotNull())
    return _typed(build_serie_frame(headers), SERIE_SCHEMA)


def exam_db_frame(serie: DataFrame) -> DataFrame:
    """The ``exam`` rows of a serie frame, typed as ``EXAM_SCHEMA``."""
    return _typed(build_exam_frame(serie), EXAM_SCHEMA)


def _local(sess: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-side rows as a frame no job scans through Python tasks.
    A plain row list becomes a Python-backed RDD (one Python task per
    core on every scan); a pandas frame goes through Arrow into a
    LocalTableScan, and an empty one is an RDD without partitions."""
    if not rows:
        return sess.createDataFrame(sess.sparkContext.emptyRDD(), schema)
    return sess.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)


def _read_back(keys, connect, dialect, table, serie_table, in_list_batch):
    """The DB's serie and exam rows of the exam ``keys``, fetched with
    key-tuple IN lists of at most ``in_list_batch`` keys each, so a
    large catch-up batch never renders an oversized statement."""
    fetched: dict[str, list] = {serie_table: [], table: []}
    key_sql = "({}, {})".format(*(_sql_ident(k, dialect) for k in EXAM_DB_KEYS))
    con = connect()
    try:
        for lo in range(0, len(keys), in_list_batch):
            in_sql = ", ".join(
                f"({_sql_literal(e, dialect)}, {_sql_literal(a, dialect)})"
                for e, a in keys[lo : lo + in_list_batch]
            )
            for tbl, schema in ((serie_table, SERIE_SCHEMA), (table, EXAM_SCHEMA)):
                cols = ", ".join(_sql_ident(c, dialect) for c in schema.fieldNames())
                fetched[tbl].extend(
                    con.execute(
                        f"SELECT {cols} FROM {_sql_ident(tbl, dialect)}"
                        f" WHERE {key_sql} IN ({in_sql})"
                    ).fetchall()
                )
    finally:
        con.close()
    return fetched[serie_table], fetched[table]


def _upsert(df, table, keys, connect, dialect, num_writer_partitions) -> None:
    # one DB connection per partition: 1 = the DuckDB single-writer
    # default (plain coalesce, no shuffle); >1 = hash repartition so a
    # catch-up batch spreads across that many writers
    if num_writer_partitions <= 1:
        df = df.coalesce(1)
    else:
        df = df.repartition(num_writer_partitions)
    df.foreachPartition(
        upsert_partition_writer(table, list(keys), connect, dialect=dialect)
    )


def import_series(
    serie: DataFrame,
    connect,
    dialect: str = "ansi",
    test: bool = False,
    table: str = "exam",
    serie_table: str = "serie",
    quarantine_table: str | None = None,
    in_list_batch: int = 500,
    num_writer_partitions: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """The import core: land a batch's serie rows (``serie``, as
    ``serie_db_frame`` builds them) and rebuild the exams they touch.

    1. One action collects the batch's serie rows (one per stack); no
       later step reads its files again.
    2. The DB's serie and exam rows of the batch's (EUID,
       AcquisitionDate) keys are read back, like step 1 bounded by the
       batch's exams, never the whole table.
    3. Those exams are rebuilt with ``build_exam_frame`` from the serie
       state the DB will hold after the write: the read-back rows
       overlaid on the stack key by the batch's.  An exam whose series
       arrive across batches thus converges to what one import of all
       its files gives (exam stats derive from the serie table,
       Cenir_DB.py:844-863).
    4. ``merge_classify`` classifies the serie rows and the exams
       against the read-back.
    5. Unless ``test`` (the reference's ``-t`` dry run), the non-noop
       rows are upserted, serie rows first: a replay after a failure
       between the two writes reads them back as noops and converges.

    A serie with a NULL EUID or AcquisitionDate (no StudyInstanceUID)
    never matches the key-tuple IN fetch, so no exam can be rebuilt for
    it.  Such rows are counted in a WARNING and land in
    ``serie_table``, as the reference's did, or in ``quarantine_table``.

    ``connect`` is a zero-arg DB-API factory (DuckDB in tests, MySQL
    with ``dialect="mysql"``).  Each write uses ``num_writer_partitions``
    writers, one connection each: 1 for DuckDB's single writer, more
    against MySQL; upsert keys are disjoint, so the DB state is the same.

    Returns ``(serie, exam)`` classified: their DB columns plus
    ``action`` in {insert, update, noop}.
    """
    sess = serie.sparkSession
    rows = [tuple(r) for r in serie.collect()]
    good = [r for r in rows if None not in r[3:5]]  # (EUID, AcquisitionDate)
    if len(good) < len(rows):
        _LOG.warning(
            "%d serie row(s) with NULL exam key %s",
            len(rows) - len(good),
            f"quarantined to {quarantine_table!r}"
            if quarantine_table
            else "landed in serie_table (no exam will rebuild; "
            "configure quarantine_table to divert them)",
        )
        if quarantine_table is not None:
            bad = [r for r in rows if None in r[3:5]]
            if not test:
                _upsert(
                    _local(sess, bad, SERIE_SCHEMA), quarantine_table,
                    SERIE_DB_KEYS, connect, dialect, num_writer_partitions,
                )
            rows = good
    keys = sorted({r[3:5] for r in good})
    old_serie, old_exam = _read_back(
        keys, connect, dialect, table, serie_table, in_list_batch
    )
    landed = {r[:3]: r for r in old_serie}  # stack key -> row
    landed.update((r[:3], r) for r in good)
    serie_cls = merge_classify(
        _local(sess, old_serie, SERIE_SCHEMA),
        _local(sess, rows, SERIE_SCHEMA),
        SERIE_DB_KEYS, SERIE_COMPARE, SERIE_FLOATS,
    )
    exam_cls = merge_classify(
        _local(sess, old_exam, EXAM_SCHEMA),
        exam_db_frame(_local(sess, list(landed.values()), SERIE_SCHEMA)),
        EXAM_DB_KEYS, EXAM_COMPARE,
    )
    if not test:
        changed = F.col("action") != "noop"
        _upsert(
            serie_cls.filter(changed).drop("action"), serie_table, SERIE_DB_KEYS,
            connect, dialect, num_writer_partitions,
        )
        if keys:  # else no exam to rebuild
            _upsert(
                exam_cls.filter(changed).drop("action"), table, EXAM_DB_KEYS,
                connect, dialect, num_writer_partitions,
            )
    return serie_cls, exam_cls


def import_tree(
    spark: SparkSession,
    root: str,
    connect,
    dialect: str = "ansi",
    test: bool = False,
) -> dict[str, dict[str, int]]:
    """E1 batch import: crawl the ``protocol/subject/series`` tree under
    ``root`` (``extract_headers``) and land it with ``import_series``
    into the DB's ``serie`` and ``exam`` tables.  ``test=True`` is the
    reference's ``-t`` dry run: classify, write nothing.

    Returns the action counts per table, e.g. ``{"serie": {"insert":
    30, "noop": 8}, "exam": {"update": 2, "noop": 4}}``.
    """
    classified = import_series(
        serie_db_frame(extract_headers(spark, root)), connect, dialect=dialect, test=test
    )
    out: dict[str, dict[str, int]] = {"serie": {}, "exam": {}}
    counts = [
        cls.groupBy("action").count().withColumn("table", F.lit(name))
        for name, cls in zip(out, classified)
    ]
    for r in counts[0].unionByName(counts[1]).collect():
        out[r["table"]][r["action"]] = r["count"]
    return out


def incremental_import_stream(
    spark: SparkSession,
    landing_root: str,
    checkpoint: str,
    connect,
    table: str = "exam",
    serie_table: str = "serie",
    parser: HeaderParser | None = None,
    dialect: str = "ansi",
    quarantine_table: str | None = None,
    in_list_batch: int = 500,
    num_writer_partitions: int = 1,
):
    """E1 as a continuous incremental import (Structured Streaming).

    The reference ran E1 from cron, re-scanning for files newer than
    the last logfile mtime (common.py:267-306).  Here the file
    source's checkpoint replaces the mtime watermark (exactly-once file
    tracking): ``landing_root`` receives ``(path, content)`` parquet,
    and every micro-batch parses its files into serie rows
    (``serie_db_frame``) and lands them with ``import_series``, the
    core ``import_tree`` runs too.  The arguments after ``connect`` are
    ``import_series``'s, plus the header ``parser``.

    Arrival atomicity is assumed at the serie level (one scanner
    acquisition = one directory = one landing file set), the
    reference's own processing granularity: exams may arrive split
    across micro-batches and still converge, but a single serie split
    across micro-batches yields a partial stack row for that serie.
    Redelivered files classify as noops.

    Returns the ``DataStreamWriter`` (the caller starts it; tests use
    ``trigger(availableNow=True)``).
    """
    inv_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    stream = stream_inventory(spark, landing_root, inv_schema, fmt="parquet")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        import_series(
            serie_db_frame(parse_headers(batch_df, parser=parser)),
            connect, dialect=dialect, table=table, serie_table=serie_table,
            quarantine_table=quarantine_table, in_list_batch=in_list_batch,
            num_writer_partitions=num_writer_partitions,
        )

    return stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
