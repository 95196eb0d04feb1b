"""Seeded input generators. The same seed gives byte-identical inputs.

- ``write_tables``: the TPC-H-ish star schema plus ``events`` and
  ``documents`` that the engine's default models and registry queries read,
  with the column names, types and value ranges of the engine's test data.
- ``etl_batches``: DynamoDB-JSON line files for the six ETL entities, with
  the edge cases FIXTURES.md lists, and ``expected_stores`` — the store
  contents the pipeline must leave, computed in pure Python.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge "
         "data the join vector customer").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "large", "old", "red", "small"],
              ["anvil", "gear", "gizmo", "plate", "ring", "rod", "widget"])
CITIES = ["barcelona", "bilbao", "madrid", "malaga", "sevilla", "valencia"]
MGMT_STATUS = ["in-progress", "pending", "E0004", "E0001", "DONE"]
ENTITIES = ("promotions", "products", "activitys", "clients", "managements",
            "checklists")

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Documents where exactly 2% are exact and 18% near duplicates of an
    original document, so every seed has the same cluster shape (stars
    around originals) and the dedup queries do the same amount of work."""
    kind = np.zeros(n, dtype=np.int8)                 # 0 original
    picks = rng.permutation(np.arange(10, n))
    kind[picks[: n // 50]] = 1                        # exact duplicate
    kind[picks[n // 50: n // 5]] = 2                  # near duplicate
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if kind[i] == 0:
            idx = rng.integers(0, len(WORDS), int(rng.integers(8, 100)))
            texts.append(" ".join(WORDS[j] for j in idx))
            originals.append(i)
            continue
        words = texts[originals[int(rng.integers(0, len(originals)))]].split()
        if kind[i] == 2:
            for pos in rng.integers(0, len(words), 1 + int(rng.integers(0, 3))):
                words[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(words))
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table at scale factor ``sf``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    nation = np.arange(25, dtype=np.int32)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": nation,
                   "n_name": [f"NATION_{i}" for i in nation],
                   "n_regionkey": nation % 5},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
    }
    adj, noun = PART_WORDS
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = {
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, len(adj), n_part), rng.integers(0, len(noun), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D")
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}
    lok = rng.integers(0, n_ord, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": odate[lok] + rng.integers(1, 122, n_line)
        * np.timedelta64(1, "D")}
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev)
        * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev,
                                dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    tables["documents"] = _documents(rng, n_doc)
    n_emb = max(500, int(20_000 * sf))
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)}
    for name, cols in tables.items():
        _write(out_dir, name, cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


# ---------------------------------------------------------------------------
# ETL batches
# ---------------------------------------------------------------------------

def _item(attrs: dict) -> str:
    return json.dumps({"Item": attrs}, separators=(",", ":"))


def _batch_lines(rng, entity: str, n: int, pool: int) -> list[dict | None]:
    """Decoded records in file order; None marks a line with no id."""
    ids = rng.choice(2 * pool, n, replace=False)
    if entity == "promotions":
        # ~20% of lines repeat an id seen earlier in the same batch
        for i in range(1, n):
            if rng.random() < 0.2:
                ids[i] = ids[int(rng.integers(0, i))]
    recs: list[dict | None] = []
    for i, k in enumerate(ids):
        if rng.random() < 0.01:
            recs.append(None)
            continue
        pid = f"{entity[:3]}{k}"
        if entity == "promotions":
            r = {"id": pid, "products": [f"prd{j}" for j in
                                         rng.integers(0, pool, 1 + int(rng.integers(0, 3)))],
                 "name": f"promo {int(rng.integers(0, 10**6))}",
                 "city": CITIES[int(rng.integers(0, len(CITIES)))]}
        elif entity == "products":
            r = {"id": pid, "name": f"product {WORDS[int(rng.integers(0, 30))]} {k}",
                 "price": f"{int(rng.integers(100, 100_000)) / 100:.2f}"}
        elif entity == "clients":
            r = {"id": pid, "name": f"client {k} {WORDS[int(rng.integers(0, 30))]}"}
        elif entity == "activitys":
            day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
            r = {"id": pid, "clientId": f"cli{int(rng.integers(0, pool))}",
                 "productId": f"prd{int(rng.integers(0, pool))}",
                 "created": f"{day.isoformat()}T12:00:00Z"}
        elif entity == "managements":
            r = {"id": pid, "clientid": f"cli{int(rng.integers(0, pool))}",
                 "productid": f"prd{int(rng.integers(0, pool))}",
                 "status": MGMT_STATUS[int(rng.integers(0, len(MGMT_STATUS)))]}
        else:  # checklists
            status = "" if rng.random() < 0.1 else \
                [WORDS[j] for j in rng.integers(0, 30, int(rng.integers(1, 4)))]
            r = {"id": pid, "status": status,
                 "productId": f"prd{int(rng.integers(0, pool))}"}
        recs.append(r)
    return recs


_DYNAMO_TAG = {"products": "SS", "status": "L", "price": "N"}


def _encode(entity: str, rec: dict | None) -> str:
    if rec is None:
        return _item({"name": {"S": "orphan line without id"}})
    attrs = {}
    for k, v in rec.items():
        tag = "S" if entity == "managements" else _DYNAMO_TAG.get(k, "S")
        attrs[k] = {tag: v}
    return _item(attrs)


def etl_batches(out_dir: str, seed: int, n_batches: int,
                lines_per_entity: int) -> list[dict[str, list]]:
    """Write ``n_batches`` batch directories of six ``<entity>.jsonl``
    files under ``out_dir``; return the decoded records per batch and
    entity. Ids come from a pool twice the size of one batch, so half of
    the second batch and most of later ones update an existing id."""
    batches = []
    for b in range(n_batches):
        rng = _rng(seed, 2, b)
        bdir = os.path.join(out_dir, f"batch{b:03d}")
        os.makedirs(bdir, exist_ok=True)
        recs = {}
        for e in ENTITIES:
            recs[e] = _batch_lines(rng, e, lines_per_entity, lines_per_entity)
            with open(os.path.join(bdir, f"{e}.jsonl"), "w") as fh:
                fh.write("\n".join(_encode(e, r) for r in recs[e]) + "\n")
        batches.append(recs)
    return batches


def _transform(entity: str, recs: list) -> dict[str, dict]:
    """One batch's cleansed rows by id, per the reference transforms."""
    out: dict[str, dict] = {}
    for r in recs:
        if r is None:
            continue
        r = dict(r)
        if entity == "promotions":
            if r["id"] in out:          # first wins; products concatenate
                out[r["id"]]["products"] += r["products"]
                continue
            r["products"] = list(r["products"])
        elif entity == "products":
            r["price"] = float(r["price"])
        elif entity == "managements":
            r["clientId"], r["productId"] = r.pop("clientid"), r.pop("productid")
            s = r["status"]
            r["status"] = s if s in ("in-progress", "pending") else \
                "pending" if s == "E0004" else "in-progress"
        elif entity == "checklists":
            r["status"] = [] if r["status"] == "" else list(r["status"])
        out[r["id"]] = r                 # last line wins
    return out


def expected_stores(batches: list[dict[str, list]]) -> dict[str, dict[str, dict]]:
    """Store contents after upserting ``batches`` in order: rows by id per
    entity, last write wins across batches."""
    stores: dict[str, dict[str, dict]] = {e: {} for e in ENTITIES}
    for recs in batches:
        for e in ENTITIES:
            stores[e].update(_transform(e, recs[e]))
    return stores
