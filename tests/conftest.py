from __future__ import annotations

from contextlib import contextmanager

import pytest

from dicomdb_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Smoke tier (round-11 VERDICT #4: full suite is ~28 min / 1088 tests;
# iteration needs a <=5-min gate).  Module-level granularity, chosen by
# measured standalone runtime (contract 195 s, functions 26 s,
# engine_units 77 s, domain_model 16 s — ~290 s sharing one session):
# the driver contract (registry shape + oracle dtype parity over all
# 521 oracles — the class of bug that actually burns driver rows) plus
# the core function/unit surface.  test_plans (207 s hint-budget +
# global-window sweeps) and test_determinism (132 s) stay
# full-suite-only to hold the 5-min budget — they guard pre-snapshot
# regressions, not per-edit iteration.  `pytest -m smoke` runs the
# tier; the full suite remains the pre-snapshot gate.
SMOKE_MODULES = {
    "test_contract",
    "test_functions",
    "test_engine_units",
    "test_domain_model",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        if mod in SMOKE_MODULES:
            item.add_marker(pytest.mark.smoke)


# the import's DB tables (pipeline.SERIE_SCHEMA / EXAM_SCHEMA)
IMPORT_DDL = (
    'CREATE TABLE exam ("EUID" VARCHAR, "AcquisitionDate" VARCHAR,'
    ' "n_series" BIGINT, "ExamDuration" BIGINT, "FirstSerieName" VARCHAR,'
    ' PRIMARY KEY ("EUID", "AcquisitionDate"))',
    'CREATE TABLE serie ("SeriesInstanceUID" VARCHAR,'
    ' "SeriesNumber" INTEGER, "EchoTime" DOUBLE, "EUID" VARCHAR,'
    ' "AcquisitionDate" VARCHAR, "first_acq_seconds" DOUBLE,'
    ' "duration_s" DOUBLE,'
    ' PRIMARY KEY ("SeriesInstanceUID", "SeriesNumber", "EchoTime"))',
)


def make_import_db(path: str) -> str:
    """A DuckDB file at ``path`` with empty ``exam`` and ``serie`` tables."""
    import duckdb

    con = duckdb.connect(path)
    try:
        for ddl in IMPORT_DDL:
            con.execute(ddl)
    finally:
        con.close()
    return path


@pytest.fixture()
def db_path(tmp_path):
    return make_import_db(str(tmp_path / "standin.duckdb"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dicomdb_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s


@contextmanager
def patched_registry_attr(attr, fake):
    """Substitute a module-level binding (``load_table``, ``_bars``,
    ...) in EVERY registry chunk module.

    The round-10 registry/ package split copies ``from ... import``
    bindings into each chunk, so patching
    ``dicomdb_spark.registry.<attr>`` alone no longer reaches the
    query bodies — this walks all loaded registry submodules (and the
    package itself) and swaps any module with that binding, restoring
    them afterwards."""
    import sys

    touched = []
    for name, mod in list(sys.modules.items()):
        if (
            name == "dicomdb_spark.registry"
            or name.startswith("dicomdb_spark.registry.")
        ) and getattr(mod, attr, None) is not None:
            touched.append((mod, getattr(mod, attr)))
            setattr(mod, attr, fake)
    try:
        yield
    finally:
        for mod, orig in touched:
            setattr(mod, attr, orig)


@contextmanager
def patched_load_table(fake):
    with patched_registry_attr("load_table", fake):
        yield
