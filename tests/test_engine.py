"""Engine facade tests: the one-object user surface."""

from __future__ import annotations

import pytest

from servihabitat_etl_spyke_spark.engine import Engine
from servihabitat_etl_spyke_spark.model import FieldSpec, model


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = Engine(spark, sf_dir)
    e.register_default_models()
    return e


def test_list_filter_order_page(eng):
    rows = eng.list("orders", filter={"o_orderstatus": "F"},
                    order_by="o_totalprice", order_direction="desc",
                    items_per_page=5, page=0).collect()
    assert 0 < len(rows) <= 5
    prices = [r["o_totalprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)
    assert all(r["o_orderstatus"] == "F" for r in rows)


def test_page_envelope_shape(eng):
    env = eng.page("orders", items_per_page=10, page=1)
    assert set(env) >= {"itemsPerPage", "items", "total", "page", "pages"}
    assert env["itemsPerPage"] == 10 and env["page"] == 1
    assert env["pages"] == -(-env["total"] // 10)
    assert len(env["items"].collect()) <= 10


def test_group_options_mode(eng):
    opts = [r[0] for r in eng.list("orders", group="o_orderpriority").collect()]
    assert opts == sorted(opts) and len(opts) <= 100


def test_sql_over_registered_views(eng):
    n = eng.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    assert n == eng.table("lineitem").count() > 0


def test_run_named_query(eng):
    out = eng.run("total_count").first()
    assert out["total"] == eng.table("lineitem").count()
    assert "dedup_minhash_lsh" in eng.queries()


def test_runtime_model_registration(eng):
    eng.register_model(model(
        "part",
        FieldSpec("p_partkey", is_id=True, indexed=True),
        FieldSpec("p_brand", group_index=True),
        default_order_by="p_partkey"))
    rows = eng.list("part", order_by="p_retailprice",
                    order_direction="desc", items_per_page=3).collect()
    assert len(rows) == 3
    vals = [r["p_retailprice"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_sql_views_refresh_on_reregistration(spark, sf_dir, tmp_path):
    """Re-registering a model under an existing name must refresh the SQL
    views even though the model COUNT is unchanged (a len()-based check
    missed it), and a backing parquet that appears after the first sql()
    call must become visible."""
    import os

    from servihabitat_etl_spyke_spark.catalog import TABLES, table_path

    for t in TABLES:
        os.symlink(table_path(sf_dir, t), tmp_path / f"{t}.parquet")
    e = Engine(spark, str(tmp_path))
    e.register_default_models()
    e.register_model(model("extra", FieldSpec("id", is_id=True)))
    assert e.sql("SELECT count(*) AS n FROM orders").first()["n"] > 0
    # backing file appears AFTER the first sql(); same model count
    spark.createDataFrame([(1, "x")], "id long, v string") \
        .write.parquet(str(tmp_path / "extra.parquet"))
    e.register_model(model("extra", FieldSpec("id", is_id=True)))
    assert e.sql("SELECT v FROM extra").first()["v"] == "x"


def test_sheet_backed_runtime_model_lifecycle(spark, sf_dir):
    """objectsAPI.ts:169 storage choice: a runtime model on the sheet
    backend — all-string columns, header+rows bootstrap, keyed
    update-else-append put, served through the standard list path."""
    e = Engine(spark, sf_dir)
    e.create_model({
        "name": "crew_sheet",
        "keys": {
            "crew_id": {"type": "string", "modifiers": [{"name": "id"}]},
            "role": {"type": "string"},
        },
    }, data=[["crew_id", "role"],
             ["1", "pilot"],
             ["2", "navigator", "extra-cell-dropped"],
             ["10"]],                      # short row pads to ''
       storage="sheet")
    rows = {r["crew_id"]: r["role"]
            for r in e.list("crew_sheet", all_rows=True).collect()}
    assert rows == {"1": "pilot", "2": "navigator", "10": ""}
    # put: update-in-place + append; ints coerce to sheet strings
    e.put("crew_sheet", [{"crew_id": 2, "role": "captain"},
                         {"crew_id": 3, "role": "engineer"}])
    rows = {r["crew_id"]: r["role"]
            for r in e.list("crew_sheet", all_rows=True).collect()}
    assert rows == {"1": "pilot", "2": "captain", "3": "engineer", "10": ""}
    # sheet ordering is string-typed: '1' < '10' < '2' < '3'
    ordered = [r["crew_id"] for r in
               e.list("crew_sheet", order_by="crew_id",
                      all_rows=True).collect()]
    assert ordered == ["1", "10", "2", "3"]
    # SQL-visible alongside the parquet catalog, refreshed after put
    assert e.sql("SELECT count(*) AS n FROM crew_sheet").first()["n"] == 4


def test_sheet_storage_validation(spark, sf_dir):
    import pytest
    e = Engine(spark, sf_dir)
    with pytest.raises(ValueError, match="bind_to"):
        e.create_model({"name": "s1", "keys": {"a": {"type": "string"}}},
                       bind_to="orders", storage="sheet")
    with pytest.raises(ValueError, match="header"):
        e.create_model({"name": "s2", "keys": {"a": {"type": "string"}}},
                       data=[["wrong_col"], ["x"]], storage="sheet")
    with pytest.raises(ValueError, match="unknown storage"):
        e.create_model({"name": "s3", "keys": {"a": {"type": "string"}}},
                       storage="leveldb")


def test_engine_point_read_and_delete(spark, sf_dir):
    """CRUD closure on the facade: GET-one applies view masking and
    string-coerced id match; DELETE is the keyed anti-filter."""
    e = Engine(spark, sf_dir)
    e.create_model({
        "name": "gadgets",
        "keys": {
            "gid": {"type": "number", "params": ["int"],
                    "modifiers": [{"name": "id"}]},
            "label": {"type": "string"},
            "secret_code": {"type": "string",
                            "modifiers": [{"name": "secret"}]},
        },
    }, data=[{"gid": 1, "label": "a", "secret_code": "s1"},
             {"gid": 2, "label": "b", "secret_code": "s2"}])
    got = e.read("gadgets", "1")          # string-coerced id
    assert got == {"gid": 1, "label": "a"}   # secret masked in EVERY view
    assert e.read("gadgets", 1, view="list") == {"gid": 1, "label": "a"}
    assert e.read("gadgets", 99) is None
    e.delete("gadgets", [1])
    assert e.read("gadgets", 1) is None
    assert e.list("gadgets", all_rows=True).count() == 1
    import pytest
    with pytest.raises(KeyError):
        e.delete("orders", [1])           # parquet tables are immutable


def test_parameterized_automation(spark, sf_dir):
    """UD1: named automations take parameters; registry queries still
    run unchanged; wrong param names are a TypeError."""
    from pyspark.sql import functions as F
    e = Engine(spark, sf_dir)

    def top_orders(spark_, sf_dir_, *, status, limit=5):
        from servihabitat_etl_spyke_spark.catalog import load_table
        return (load_table(spark_, sf_dir_, "orders")
                .filter(F.col("o_orderstatus") == status)
                .orderBy(F.col("o_totalprice").desc())
                .limit(limit))

    e.register_automation("top_orders", top_orders)
    assert "top_orders" in e.queries()
    out = e.run("top_orders", status="F", limit=3).collect()
    assert len(out) == 3
    assert all(r["o_orderstatus"] == "F" for r in out)
    assert e.run("total_count").first()["total"] > 0   # registry unchanged
    with pytest.raises(TypeError):
        e.run("top_orders", wrong_param=1)


def test_delete_keeps_null_id_rows(spark, sf_dir):
    """Deleting one key must not destroy rows whose id is NULL —
    ~isin(...) evaluates to NULL (dropped by filter) for a NULL id."""
    from servihabitat_etl_spyke_spark.engine import Engine
    from servihabitat_etl_spyke_spark.model import FieldSpec, model as mk
    eng = Engine(spark, sf_dir)
    m = mk("nulltest", FieldSpec("id", is_id=True), FieldSpec("v"))
    df = spark.createDataFrame(
        [("x", "keepme-x"), (None, "null-row"), ("y", "keepme-y")],
        "id string, v string")
    eng.create_model({"name": "nulltest", "keys": {
        "id": {"modifiers": [{"name": "id"}]}, "v": {}}}, data=df)
    eng.delete("nulltest", ["x"])
    vals = {r.v for r in eng.table("nulltest").collect()}
    assert vals == {"null-row", "keepme-y"}


def test_delete_matches_double_and_boolean_ids(spark, sf_dir):
    """delete() removes exactly what read() finds: a JS "number" id is
    a double (1 must match 1.0, not compare '1' with '1.0') and a
    boolean id must match True (not 'True' with 'true'). NULL-id rows
    survive either delete."""
    eng = Engine(spark, sf_dir)
    eng.create_model({"name": "g", "keys": {
        "gid": {"type": "number", "modifiers": [{"name": "id"}]},
        "v": {"type": "string"}}},
        data=spark.createDataFrame(
            [(1.0, "one"), (2.0, "two"), (None, "null-row")],
            "gid double, v string"))
    assert eng.read("g", 1) is not None
    eng.delete("g", [1])
    assert eng.read("g", 1) is None
    assert {r.v for r in eng.table("g").collect()} == {"two", "null-row"}

    eng.create_model({"name": "b", "keys": {
        "flag": {"type": "boolean", "modifiers": [{"name": "id"}]},
        "v": {"type": "string"}}},
        data=spark.createDataFrame(
            [(True, "yes"), (False, "no"), (None, "null-row")],
            "flag boolean, v string"))
    eng.delete("b", [True])
    assert {r.v for r in eng.table("b").collect()} == {"no", "null-row"}


def test_sheet_put_serializes_none_as_empty(spark, sf_dir):
    """Engine.put on a sheet model writes '' for None (an empty cell),
    never the text 'None' — the SheetTransport null contract."""
    from servihabitat_etl_spyke_spark.engine import Engine
    eng = Engine(spark, sf_dir)
    eng.create_model({"name": "s", "keys": {
        "id": {"modifiers": [{"name": "id"}]}, "note": {}}},
        data=[["id", "note"], ["1", "hello"]], storage="sheet")
    eng.put("s", [{"id": "2", "note": None}])
    got = {r.id: r.note for r in eng.table("s").collect()}
    assert got == {"1": "hello", "2": ""}


def test_runtime_model_search_false_and_generate_const(spark, sf_dir):
    """JSON-description parity: search(false) excludes a field from
    free-text search (ProtoModel.ts:205-211) and generate(<const>) fills
    NULLs at create with the literal."""
    from servihabitat_etl_spyke_spark.engine import Engine
    from servihabitat_etl_spyke_spark.model import model_from_json_description
    m = model_from_json_description({"name": "g", "keys": {
        "id": {"modifiers": [{"name": "id"}]},
        "body": {},
        "raw": {"modifiers": [{"name": "search", "params": [False]}]},
        "sdk": {"modifiers": [{"name": "generate", "params": ["esphome"]}]},
    }})
    assert m.fields["raw"].searchable is False
    assert m.fields["body"].searchable is True
    gen = m.fields["sdk"].generate
    assert gen is not None and m.fields["sdk"].generate_force is False
    eng = Engine(spark, sf_dir)
    df = spark.createDataFrame(
        [("1", "findable text", "alsofindable", None)],
        "id string, body string, raw string, sdk string")
    eng.register_model(m)
    # search must not match through the search(false) column
    from servihabitat_etl_spyke_spark.plans.listquery import (
        ListParams, list_query)
    hit = list_query(df, m, ListParams(search="findable", all=True))
    assert hit.count() == 1            # matched via body
    miss = list_query(df, m, ListParams(search="alsofindable", all=True))
    assert miss.count() == 0           # raw is search(false)


def test_list_respects_model_default_order_direction(eng):
    """O4 parity: Engine.list('events') with no explicit direction must
    come back newest-first (EVENTS declares default_order_direction=
    'desc'); a literal 'asc' default in list()/page() shadowed it."""
    ts = [r["ts"] for r in eng.list("events", items_per_page=5).collect()]
    assert ts == sorted(ts, reverse=True)
    env = eng.page("events", items_per_page=5)
    pts = [r["ts"] for r in env["items"].collect()]
    assert pts == sorted(pts, reverse=True)
    # an explicit direction still wins
    asc = [r["ts"] for r in eng.list(
        "events", order_by="ts", order_direction="asc",
        items_per_page=5).collect()]
    assert asc == sorted(asc)


def test_r6_engine_and_source_guards(spark, tmp_path):
    """Round-6 review fixes: put() dedups duplicate ids within one batch
    (last wins, the reference's sequential db.put loop); read() matches
    numeric ids via the P1 same-family predicate; snapshot_diff sees
    changes inside array columns; enrich refuses an existing out_col."""
    import pytest
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.engine import Engine
    from servihabitat_etl_spyke_spark.operators.enrich import llm_enrich
    from servihabitat_etl_spyke_spark.sources.snapshots import (
        SnapshotStore, snapshot_diff)

    eng = Engine(spark, "/root/testdata/sf0.001")
    eng.create_model(
        {"name": "gadgets",
         "keys": {"gid": {"type": "string", "modifiers": [{"name": "id"}]},
                  "label": {"type": "string"}}},
        data=[{"gid": "1", "label": "a"}])
    # duplicate ids in ONE batch: last occurrence wins, one row stored
    eng.put("gadgets", [{"gid": "2", "label": "x"},
                        {"gid": "2", "label": "y"}])
    rows = eng.list("gadgets", all_rows=True).collect()
    assert sorted((r.gid, r.label) for r in rows) == [("1", "a"),
                                                      ("2", "y")]

    # numeric-id point read matches like the list filter does
    eng.create_model(
        {"name": "nums",
         "keys": {"nid": {"type": "number", "modifiers": [{"name": "id"}]},
                  "v": {"type": "string"}}},
        data=[{"nid": 1.0, "v": "one"}])
    assert eng.read("nums", 1)["v"] == "one"

    # snapshot_diff: a change INSIDE an array column is a 'changed' row
    store = SnapshotStore(str(tmp_path / "cx"))
    store.commit(spark.createDataFrame(
        [(1, ["a", "b"])], "k long, v array<string>"))
    store.commit(spark.createDataFrame(
        [(1, ["a, b"])], "k long, v array<string>"), mode="overwrite")
    diff = snapshot_diff(spark, store, "k", 1, 2).collect()
    assert [(r.k, r.change) for r in diff] == [(1, "changed")]

    # enrich: existing out_col fails at plan-build time, not mid-job
    df = spark.createDataFrame([(1, "p", "old")],
                               "id long, prompt string, completion string")
    with pytest.raises(ValueError, match="already exists"):
        llm_enrich(df, "prompt", client=lambda xs: xs)


def test_sql_serves_current_snapshot_after_upsert(spark, tmp_path):
    """A parquet-backed model rewritten by upsert_into_path (a directory
    swap that deletes the old part files) must be served from its new
    files; a view over the first snapshot failed with FILE_NOT_EXIST."""
    from servihabitat_etl_spyke_spark.operators.etl import upsert_into_path
    path = str(tmp_path / "things.parquet")
    schema = "id long, v string"
    upsert_into_path(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], schema), path)
    e = Engine(spark, str(tmp_path))
    e.register_model(model("things", FieldSpec("id", is_id=True)))
    assert e.sql("SELECT count(*) AS n FROM things").first()["n"] == 2
    upsert_into_path(spark, spark.createDataFrame(
        [(2, "c"), (3, "d")], schema), path)
    got = e.sql("SELECT v FROM things ORDER BY id").collect()
    assert [r["v"] for r in got] == ["a", "c", "d"]


#: Spark jobs one warm request starts at sf0.001 (each request used to
#: start one more: the parquet footer job of a fresh table read)
SERVING_JOBS = {
    "read": (lambda e: e.read("orders", 1), 1),
    "list_filter": (lambda e: e.list(
        "orders", filter={"o_orderstatus": "F"}).collect(), 1),
    "list_search": (lambda e: e.list(
        "customer", search="c_mktsegment:building").collect(), 1),
    "list_group": (lambda e: e.list(
        "orders", group="o_orderpriority").collect(), 2),
    "list_deep_page": (lambda e: e.list("events", page=40).collect(), 1),
    "page": (lambda e: e.page(
        "orders", filter={"o_orderstatus": "F"}, order_by="o_totalprice",
        order_direction="desc", page=1)["items"].collect(), 3),
}


@pytest.mark.parametrize("request_kind", sorted(SERVING_JOBS))
def test_serving_request_job_count(eng, jobs_started, request_kind):
    call, jobs = SERVING_JOBS[request_kind]
    call(eng)                                   # warm
    assert jobs_started(lambda: call(eng)) == jobs
