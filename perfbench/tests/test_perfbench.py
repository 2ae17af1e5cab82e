"""The benchmark's own tests: seeded inputs, the tail rule, the checks.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
No Spark session is started.
"""

from __future__ import annotations

import hashlib
import json
import os
from types import SimpleNamespace

import duckdb
import pytest

from perfbench import gen_dicom, metrics
from perfbench.run import _summary
from perfbench.stats import kind_medians, tail
from perfbench.workloads import (
    AUDIT_QUERIES,
    NEAR_DUP_QUERIES,
    WORKLOADS,
    QueryMix,
    create_db,
    db_state,
    value_hash,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_tree(tmp_path):
    a = gen_dicom.crawl_tree(str(tmp_path / "a"), seed=7)
    b = gen_dicom.crawl_tree(str(tmp_path / "b"), seed=7)
    c = gen_dicom.crawl_tree(str(tmp_path / "c"), seed=8)
    da, db, dc = (_tree_digest(t.root) for t in (a, b, c))
    assert da == db and len(da) == a.n_files
    assert da != dc
    assert gen_dicom.expected_rows(a.series) == gen_dicom.expected_rows(b.series)


def test_same_seed_gives_identical_waves():
    a, b, c = (gen_dicom.LandingWaves(s) for s in (5, 5, 6))
    for _ in range(3):
        wa, wb, wc = a.wave()[0], b.wave()[0], c.wave()[0]
        assert wa == wb
        assert wa != wc


def test_tree_carries_the_distractors(tmp_path):
    t = gen_dicom.crawl_tree(str(tmp_path / "t"), seed=3)
    names = [os.path.basename(p) for p in _tree_digest(t.root)]
    dirs = {p.split(os.sep)[2] for p in _tree_digest(t.root)}
    assert any(n.startswith("dicom_info") for n in names)
    assert any(n.startswith(".") for n in names)
    assert any(n.endswith(".xml") for n in names)
    assert any(n.endswith("_junk.dic") for n in names)
    assert any(not d.startswith("S") for d in dirs)
    assert t.n_dicom < t.n_files
    kinds = {
        "implicit": any(s.implicit for s in t.series),
        "csa_only": any(s.csa_only for s in t.series),
        "multi_echo": any(len(s.echo_times) > 1 for s in t.series),
        "dup_inst": any(s.dup_inst for s in t.series),
        "missing_inst": any(s.missing_inst for s in t.series),
    }
    assert all(kinds.values()), kinds
    serie, exam = gen_dicom.expected_rows(t.series)
    studies = {}
    for e in exam:
        studies.setdefault(e[0], []).append(e[1])
    assert any(len(days) == 2 for days in studies.values())  # crosses midnight


def test_waves_split_exams_and_redeliver():
    w = gen_dicom.LandingWaves(seed=2)
    seen: set[str] = set()
    studies: list[set[str]] = []
    redelivered = 0
    for _ in range(4):
        _rows, series = w.wave()
        redelivered += sum(1 for s in series if s.suid in seen)
        seen |= {s.suid for s in series}
        studies.append({s.study for s in series})
    assert redelivered > 0
    assert any(studies[k] & studies[k + 1] for k in range(3))


def test_expected_rows_follow_the_pipeline_rules():
    s = gen_dicom.Serie(
        suid="1.2.3.1", number=1, echo_times=(3.1,), study="1.2.3", date="20200101",
        start_s=86_398, n_inst=3, step_s=2, dup_inst=1,
    )
    gen_dicom._fill_files(s, "P/S/S01", "SIEMENS")
    single = gen_dicom.Serie(
        suid="1.2.3.2", number=2, echo_times=(30.0,), study="1.2.3", date="20200101",
        start_s=100, n_inst=1, step_s=2,
    )
    gen_dicom._fill_files(single, "P/S/S02", "SIEMENS")
    serie, exam = gen_dicom.expected_rows([s, single])
    # duplicate InstanceNumber 1: its second file is the serie's second
    # file in (InstanceNumber, path) order, acquired 1 s later
    assert serie[0] == ("1.2.3.1", 1, 3.1, "1.2.3", "20200101", 0.0, 1.0)
    assert serie[1] == ("1.2.3.2", 2, 30.0, "1.2.3", "20200101", 100.0, None)
    # last start (100) before first start (0): no rollover, + 0 duration
    assert exam == [("1.2.3", "20200101", 2, 2, "1.2.3.1")]


@pytest.mark.parametrize(
    "n, percentile, beyond",
    [(1, 100.0, 0), (10, 100.0, 0), (11, 100.0 / 11, 10), (14, 400.0 / 14, 10),
     (20, 50.0, 10), (30, 200.0 / 3, 10), (42, 3200.0 / 42, 10), (100, 90.0, 10), (1000, 99.0, 10)],
)
def test_tail_has_ten_samples_beyond(n, percentile, beyond):
    values = [float(v) for v in range(n, 0, -1)]
    value, pct, got_beyond = tail(values)
    assert pct == pytest.approx(percentile)
    assert got_beyond == beyond
    assert sum(1 for v in values if v > value) == beyond
    if beyond:
        assert sum(1 for v in values if v >= value) == beyond + 1


def test_kind_medians_take_each_kind_of_the_rotation():
    lat = [1.0, 10.0, 3.0, 30.0, 2.0, 20.0]
    assert kind_medians(lat, 2) == [2.0, 20.0]
    assert kind_medians(lat, 1) == [6.5]
    with pytest.raises(ValueError):
        kind_medians(lat[:1], 2)


def test_summary_takes_the_median_per_op_kind():
    def ops(lat):
        return [{"i": i, "s": s, "ok": i != 1, "items": 10} for i, s in enumerate(lat)]

    s = _summary(ops([1.0, 2.0, 1.0, 2.0, 5.0, 2.0]), 2)
    assert s["ops_per_s"] == pytest.approx(5 / 13)
    assert s["items_per_s"] == pytest.approx(50 / 13)
    # the median of each kind (1.0 and 2.0), not of all six ops (2.0)
    assert s["op_p50_s"] == pytest.approx(1.5)
    # six ops are too few for the tail rule: the slowest kind's median
    assert (s["op_tail_s"], s["tail_percentile"], s["tail_beyond"]) == (2.0, None, 0)
    many = _summary(ops([0.5] * 14 + [0.6] * 14 + [0.4] * 14), 14)
    assert (many["op_tail_s"], many["tail_beyond"]) == (0.6, 10)


def test_db_check_rejects_a_perturbed_row(tmp_path):
    t = gen_dicom.crawl_tree(str(tmp_path / "t"), seed=4)
    serie, exam = gen_dicom.expected_rows(t.series)
    db = str(tmp_path / "db.duckdb")
    create_db(db, serie, exam)
    assert db_state(db) == (serie, exam)
    con = duckdb.connect(db)
    con.execute(
        'UPDATE serie SET "duration_s" = "duration_s" + 1 WHERE "SeriesInstanceUID" = ?',
        [serie[0][0]],
    )
    con.close()
    assert db_state(db) != (serie, exam)


def test_value_hash_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 2.5), (2, "b", None), (3, "c", 0.1)]
    cols = ["k", "s", "x"]
    assert value_hash(rows, cols) == value_hash(rows[::-1], cols)
    # column order is normalized by name
    assert value_hash(rows, cols) == value_hash([(r[2], r[0], r[1]) for r in rows], ["x", "k", "s"])
    assert value_hash(rows, cols) != value_hash([(1, "a", 2.5), (2, "b", None), (3, "c", 0.1000001)], cols)


class _GivenResults(QueryMix):
    """QueryMix whose engine and DuckDB results are given, not computed;
    ``prepare``, ``verify`` and ``check`` are the real ones."""

    def __init__(self, engine: dict):
        self.spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=2))
        self.queries = AUDIT_QUERIES + NEAR_DUP_QUERIES
        self._engine = engine

    def _oracles(self):
        return {q: (3, "h" + q) for q in self.queries}

    def result(self, q):
        return self._engine.get(q, (3, "h" + q))


def test_query_check_rejects_a_wrong_hash_or_count():
    w = _GivenResults({"j3_time_proximity": (3, "wrong"), "ann_lsh_topk": (4, "hann_lsh_topk")})
    w.prepare()
    w.verify()
    checks = {w.queries[i]: w.check(i) for i in range(len(w.queries))}
    assert checks.pop("j3_time_proximity") is False
    assert checks.pop("ann_lsh_topk") is False
    assert all(checks.values())


def test_benchmark_json_matches_the_program():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, listed in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in bench[key]] == list(listed)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert len(bench["per_layer"]) <= 128
