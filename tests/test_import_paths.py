"""The E1 import's three callers share one core and must agree.

``pipeline.import_tree`` (a crawl of an on-disk tree), the streaming
import (``incremental_import_stream``) and the CLI's ``import --db``
land the same DICOM files into the same ``serie``/``exam`` rows: the
rows ``perfbench.gen_dicom.expected_rows`` computes in plain Python
from the generator's own header fields.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dicomdb_spark import __main__ as cli
from dicomdb_spark import pipeline as P
from dicomdb_spark.sources.dicom import parse_headers, synthetic_part10_from_ids
from perfbench import gen_dicom
from tests.conftest import make_import_db

REPO = Path(__file__).resolve().parents[1]


def _state(db: str) -> tuple[list[tuple], list[tuple]]:
    con = duckdb.connect(db, read_only=True)
    try:
        return tuple(
            sorted(con.execute(f"SELECT * FROM {t}").fetchall(), key=gen_dicom._nullsafe)
            for t in ("serie", "exam")
        )
    finally:
        con.close()


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    """A seeded crawl tree: distractors, implicit VR, CSA-only
    SequenceName, duplicate/missing InstanceNumbers, a subject on two
    days, an exam across midnight."""
    root = tmp_path_factory.mktemp("crawl") / "tree"
    return gen_dicom.crawl_tree(str(root), seed=7, n_exams=3, files_per_serie=5)


def test_batch_and_stream_imports_agree(spark, tree, tmp_path):
    expected = gen_dicom.expected_rows(tree.series)
    n_serie, n_exam = (len(rows) for rows in expected)

    # batch: import_tree into an empty DB, then again (all noops)
    batch_db = make_import_db(str(tmp_path / "batch.duckdb"))
    connect = lambda: duckdb.connect(batch_db)  # noqa: E731
    first = P.import_tree(spark, tree.root, connect)
    assert first == {"serie": {"insert": n_serie}, "exam": {"insert": n_exam}}
    assert _state(batch_db) == expected
    again = P.import_tree(spark, tree.root, connect)
    assert again == {"serie": {"noop": n_serie}, "exam": {"noop": n_exam}}
    assert _state(batch_db) == expected

    # stream: the selected files as one (path, content) landing parquet
    landing = tmp_path / "landing"
    landing.mkdir()
    paths = [os.path.join(tree.root, rel) for s in tree.series for rel, _f, _ts in s.files]
    blobs = [Path(p).read_bytes() for p in paths]
    pq.write_table(
        pa.table({"path": paths, "content": pa.array(blobs, pa.binary())}),
        str(landing / "wave-0.parquet"),
    )
    stream_db = make_import_db(str(tmp_path / "stream.duckdb"))
    q = (
        P.incremental_import_stream(
            spark, str(landing), str(tmp_path / "ckpt"),
            lambda: duckdb.connect(stream_db),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    assert _state(stream_db) == expected


def test_cli_import_dry_run_then_write(spark, tree, tmp_path, capsys, monkeypatch):
    """``import -t`` is ``import_tree(test=True)`` against a read-only
    DB: it prints the classification and writes nothing."""
    expected = gen_dicom.expected_rows(tree.series)
    db = make_import_db(str(tmp_path / "cli.duckdb"))
    monkeypatch.setattr(cli, "_spark", lambda: spark)

    assert cli.main(["import", "--input-dir", tree.root, "--db", db, "-t"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {
        "dry_run": True,
        "serie": {"insert": len(expected[0])},
        "exam": {"insert": len(expected[1])},
    }
    assert _state(db) == ([], [])

    assert cli.main(["import", "--input-dir", tree.root, "--db", db]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dry_run"] is False and out["exam"] == {"insert": len(expected[1])}
    assert _state(db) == expected


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
import duckdb
from dicomdb_spark.pipeline import incremental_import_stream
from dicomdb_spark.session import get_spark

landing, ckpt, db = sys.argv[2:5]
spark = get_spark(master="local[2]", shuffle_partitions=2)
q = incremental_import_stream(spark, landing, ckpt, lambda: duckdb.connect(db))
q = q.trigger(availableNow=True).start()
q.awaitTermination()
err = q.exception()
spark.stop()
if err is not None:
    sys.exit(f"stream failed: {err}")
"""


def test_stream_from_driver_outside_repo_root(spark, tmp_path):
    """A driver started elsewhere, with the repo only on its own
    sys.path: the workers cannot import ``dicomdb_spark``, so every
    closure they run must ship by value."""
    files = synthetic_part10_from_ids(
        spark.createDataFrame([(i,) for i in (6, 12, 18, 24, 30, 36)], "id long")
    )
    landing = str(tmp_path / "landing")
    files.write.parquet(landing)
    db = make_import_db(str(tmp_path / "outside.duckdb"))
    script = tmp_path / "driver.py"
    script.write_text(_OUTSIDE_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, str(script), str(REPO), landing, str(tmp_path / "ckpt"), db],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]

    serie = P.serie_db_frame(parse_headers(files))
    expected = tuple(
        sorted((tuple(r) for r in df.collect()), key=gen_dicom._nullsafe)
        for df in (serie, P.exam_db_frame(serie))
    )
    assert _state(db) == expected
