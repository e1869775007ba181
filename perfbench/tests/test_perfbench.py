"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from check import same_rows  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.star_tables(3), gen.star_tables(3), gen.star_tables(4)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert gen.corpus_tables(3)["documents"].equals(gen.corpus_tables(3)["documents"])
    assert not gen.corpus_tables(3)["documents"].equals(gen.corpus_tables(4)["documents"])
    s1, s2 = gen.IngestStream(3), gen.IngestStream(3)
    assert s1.initial().equals(s2.initial())
    for _ in range(3):
        assert s1.next_batch().equals(s2.next_batch())
    assert workloads.bi_requests(3, 0) == workloads.bi_requests(3, 0)
    assert workloads.bi_requests(3, 0) != workloads.bi_requests(4, 0)


def test_corpus_follows_the_fixture_profile():
    docs = gen.corpus_tables(5)["documents"].to_pydict()
    texts = docs["text"]
    assert len(texts) == gen.CORPUS_DOCS
    words = {w for t in texts for w in t.split()}
    assert words <= set(gen.VOCAB) | {"dup"} | set(gen.BOILERPLATE)
    assert len(gen.VOCAB) + 1 == gen.FIXTURE_CORPUS["vocab"]
    lo, hi = gen.DOC_WORDS
    boiler = " ".join(gen.BOILERPLATE)
    lengths = [len(t.split()) for t in texts if not t.endswith(boiler)]
    # near copies of near copies may step a word further out
    assert sum(lo - 1 <= n <= hi + 1 for n in lengths) / len(lengths) > 0.99
    n_boiler = len(texts) - len(lengths)
    assert abs(n_boiler / len(texts) - gen.CORPUS_SHARES["boilerplate"]) < 0.02
    n_near = sum(t.endswith(" dup") for t in texts)
    assert 0 < n_near / len(texts) < gen.CORPUS_SHARES["near_dup"]
    assert set(docs["lang"]) == set(gen.LANGS)
    assert docs["n_chars"] == [len(t) for t in texts]


def test_ingest_batches_have_stated_shares():
    s = gen.IngestStream(5)
    s.initial()
    b = s.next_batch()
    ids = b["event_id"].to_pylist()
    assert len(ids) == gen.INGEST_BATCH_ROWS
    n_dup = len(ids) - len(set(ids))
    assert n_dup <= gen.INGEST_BATCH_ROWS * gen.INGEST_SHARES["in_batch_dup"]
    n_upd = sum(i < gen.INGEST_INITIAL_ROWS for i in set(ids))
    assert n_upd == int(gen.INGEST_BATCH_ROWS * gen.INGEST_SHARES["update"])


def test_every_named_metric_is_declared_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


class _FakeTracer:
    def self_times(self, since=0):
        return {"catalog": 0.5, "queries": 1.0, "exec": 2.0}

    def count(self, layer, name=None, since=0):
        return 4


class _FakeHarness:
    def stage_counters(self):
        return {"exec": {"jobs": 4, "stages": 6, "tasks": 20, "failed_tasks": 0,
                         "shuffle_bytes": 100, "input_records": 1000}}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_layer_metrics_cover_every_per_layer_name(name):
    wl = workloads.WORKLOADS[name](None, 1, "/nonexistent")
    wl.persisted = [0, 2]
    wl.result_rows = 10
    wl.layer_figures = lambda: {}
    out = run.layer_metrics(wl, _FakeTracer(), _FakeHarness(),
                            [(1, 0, "session", "get_spark", 0.0, 1.5)], 0, 2)
    out["trace.overhead_s"] = 0.0
    assert set(out) == set(run.PER_LAYER_UNITS)
    assert out["session.start_s"] == 1.5
    assert out["operators.persisted_rdds"] == 1.0


def test_tracer_can_be_switched_off_and_on():
    import datawarehouse_spark.catalog as catalog
    from datawarehouse_spark.engine import DataWarehouse
    from datawarehouse_spark.queries import QUERIES_RAW
    from tracing import Tracer

    originals = (catalog.load_tables, DataWarehouse.sql, QUERIES_RAW["tpch_q3"])
    tracer = Tracer()
    tracer.install()
    try:
        traced = (catalog.load_tables, DataWarehouse.sql, QUERIES_RAW["tpch_q3"])
        assert all(getattr(f, "__perfbench_traced__", False) for f in traced)
        tracer.enable(False)
        assert (catalog.load_tables, DataWarehouse.sql,
                QUERIES_RAW["tpch_q3"]) == originals
        tracer.enable(True)
        assert (catalog.load_tables, DataWarehouse.sql,
                QUERIES_RAW["tpch_q3"]) == traced
    finally:
        tracer.enable(False)


def test_same_rows_tolerates_float_order_but_not_wrong_values():
    cols = ["k", "v"]
    assert same_rows([("a", 0.1 + 0.2), ("b", 1.0)], cols,
                     [(1.0, "b"), (0.3, "a")], ["v", "k"])[0]
    assert not same_rows([("a", 0.31)], cols, [("a", 0.3)], cols)[0]
    assert not same_rows([("a", 1)], cols, [("a", 1), ("a", 1)], cols)[0]


def test_a_wrong_result_is_counted_as_an_error(tmp_path):
    from check import duck, duck_rows

    wl = workloads.BiMix(None, 7, str(tmp_path))
    wl.prepare()
    con = duck({t: os.path.join(wl.data, f"{t}.parquet") for t in workloads.TABLES},
               str(tmp_path))
    sql = workloads.SQL_TEMPLATES["orders_key_range"].format(lo=1000)
    rows, cols = duck_rows(con, sql)
    con.close()
    i = cols.index("o_totalprice")
    wrong = [rows[0][:i] + (rows[0][i] + 0.01,) + rows[0][i + 1:]] + rows[1:]
    wl.results = [(("sql", sql), rows, cols), (("sql", sql), wrong, cols),
                  (("sql", sql), rows[1:], cols)]
    assert len(wl.check()) == 2


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bi_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
