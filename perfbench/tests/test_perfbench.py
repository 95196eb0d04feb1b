"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys

import pytest

from perfbench import checks, gen, worker
from perfbench.tracing import SparkCounters, Tracer
from perfbench.workloads import AutoApiRead, Ctx, EtlUpsert, Op

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = worker.load_spec()


def _tree_hash(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_tables_are_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_tables(str(tmp_path / name), seed, 0.001)
    assert _tree_hash(tmp_path / "a") == _tree_hash(tmp_path / "b")
    assert _tree_hash(tmp_path / "a") != _tree_hash(tmp_path / "c")


def test_etl_batches_are_deterministic_per_seed(tmp_path):
    runs = {name: gen.etl_batches(str(tmp_path / name), seed, 2, 200)
            for name, seed in (("a", 3), ("b", 3), ("c", 4))}
    assert _tree_hash(tmp_path / "a") == _tree_hash(tmp_path / "b")
    assert _tree_hash(tmp_path / "a") != _tree_hash(tmp_path / "c")
    assert gen.expected_stores(runs["a"]) == gen.expected_stores(runs["b"])


def test_expected_stores_follow_the_reference_transforms():
    batches = [
        {e: [] for e in gen.ENTITIES} | {
            "promotions": [
                {"id": "p1", "products": ["a"], "name": "first", "city": "x"},
                None,
                {"id": "p1", "products": ["a", "b"], "name": "second", "city": "y"}],
            "managements": [{"id": "m1", "clientid": "c", "productid": "p",
                             "status": "E0004"}],
            "checklists": [{"id": "c1", "status": "", "productId": "p"}]},
        {e: [] for e in gen.ENTITIES} | {
            "promotions": [{"id": "p1", "products": ["z"], "name": "new",
                            "city": "w"}]},
    ]
    first = gen.expected_stores(batches[:1])
    assert first["promotions"]["p1"] == {
        "id": "p1", "products": ["a", "a", "b"], "name": "first", "city": "x"}
    assert first["managements"]["m1"] == {
        "id": "m1", "clientId": "c", "productId": "p", "status": "pending"}
    assert first["checklists"]["c1"]["status"] == []
    assert gen.expected_stores(batches)["promotions"]["p1"]["name"] == "new"


def _ctx(tmp_path, name: str) -> Ctx:
    return Ctx(str(tmp_path), seed=1, seconds=1, trace=False, cpus=1,
               cfg=SPEC["workloads"][name])


def test_every_benchmark_metric_is_reported_with_its_unit(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wl = EtlUpsert(_ctx(tmp_path, "etl_upsert"))
    wl.unit_s, wl.work_done, wl.work_time = [1.0, 2.0], 10.0, 3.0
    op = Op("etl_upsert-0", "batch", {}, 1.0, ok=True,
            counters=dict.fromkeys(SparkCounters.KEYS, 1))
    wl.ctx.ops.append(op)
    tracer = Tracer()
    tracer.end(tracer.begin("load_table", "catalog", op=op.oid))
    reports = {"end_to_end": worker.end_to_end(wl, 1.0, 100.0),
               "per_layer": worker.per_layer(wl, tracer, 0.0)}
    for kind, metrics in reports.items():
        assert set(metrics) == {m["name"] for m in bench[kind]}
        for m in bench[kind]:
            assert metrics[m["name"]][1] == m["unit"]
            assert set(m) == ({"name", "unit", "better", "bound"}
                              if kind == "end_to_end"
                              else {"name", "unit", "better"})
        assert set(metrics) == set(SPEC[kind])
    assert [w["name"] for w in bench["workloads"]] == list(SPEC["workloads"])


def test_a_wrong_read_answer_lowers_ok_ratio(tmp_path):
    wl = EtlUpsert(_ctx(tmp_path, "etl_upsert"))
    wl.batches = [None]
    wl.expected = [{"products": {"pro1": {"id": "pro1", "name": "n",
                                          "price": 1.5}}}]
    right = {"id": "pro1", "name": "n", "price": 1.5}
    wrong = dict(right, price=2.5)
    for res in (right, wrong):
        wl.ctx.ops.append(Op(f"o{len(wl.ctx.ops)}", "point_read",
                             {"entity": "products", "id": "pro1", "batch": 0},
                             0.1, result=res))
    wl.unit_s, wl.work_done, wl.work_time = [0.1], 1.0, 1.0
    wl.check()
    assert [op.ok for op in wl.ctx.ops] == [True, False]
    assert worker.end_to_end(wl, 1.0, 1.0)["ok_ratio"][0] == 0.5


@pytest.fixture(scope="module")
def autoapi(tmp_path_factory):
    ctx = _ctx(tmp_path_factory.mktemp("autoapi"), "autoapi_read")
    wl = AutoApiRead(ctx)
    wl.generate()
    return wl


@pytest.mark.parametrize("kind", sorted(SPEC["workloads"]["autoapi_read"]["weights"]))
def test_autoapi_check_rejects_a_dropped_row(autoapi, kind):
    rng = random.Random(5)
    for _ in range(20):
        p = autoapi._params(kind, rng)
        sql, total_sql = checks.autoapi_sql(kind, p)
        cols, rows = checks.duckdb_run(sql, autoapi.tables)
        if rows:
            break
    assert rows, f"no seeded {kind} request returned rows"
    total = checks.duckdb_run(total_sql, autoapi.tables)[1][0][0] if total_sql else None
    assert autoapi.verify(kind, p, (cols, rows, total))
    assert not autoapi.verify(kind, p, (cols, rows[1:], total))


def test_refuses_to_run_outside_the_repository(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "autoapi_read", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert out.stdout == ""
