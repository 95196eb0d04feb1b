"""The three workloads. Each one generates its inputs from the seed, sets up
the engine (timed as set-up), runs its operations for the requested seconds
and then checks the results against an independent answer.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
import shutil
import threading
import time
import traceback
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import checks, gen
from perfbench.tracing import SparkCounters, Tracer


@dataclass
class Op:
    """One measured operation."""
    oid: str
    kind: str
    params: dict
    latency_s: float = 0.0
    result: object = None
    error: str | None = None
    ok: bool | None = None             # set by the workload's check
    counters: dict | None = None


@dataclass
class Ctx:
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    cfg: dict
    tracer: Tracer | None = None
    counters: SparkCounters | None = None
    ops: list[Op] = field(default_factory=list)
    seq: Iterator[int] = field(default_factory=itertools.count)
    lock: threading.Lock = field(default_factory=threading.Lock)


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs: list[float]) -> float:
    """p95, or the highest percentile with ten samples beyond it, or the
    maximum when there are too few samples for any."""
    n = len(xs)
    for q in (0.95, 0.9, 0.75, 0.5):
        if n * (1 - q) >= 10:
            return percentile(xs, q)
    return max(xs)


class Workload:
    """Phases, in order: ``generate`` (inputs, untimed), ``start`` and
    ``warmup`` (timed together as set-up), ``measure`` (the timed window,
    fills ``unit_s``, ``work_done`` and ``work_time``), ``check`` (sets
    ``ok`` on every recorded operation)."""

    name = ""
    query_names: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.cfg = ctx.cfg
        self.unit_s: list[float] = []     # unit-of-work latencies
        self.work_done = 0.0              # numerator of throughput
        self.work_time = 0.0              # denominator of throughput
        self.detail: dict = {}

    def run_op(self, kind: str, params: dict, fn, due: float | None = None,
               record: bool = True) -> Op:
        ctx = self.ctx
        with ctx.lock:
            op = Op(f"{self.name}-{next(ctx.seq)}", kind, params)
            if record:
                ctx.ops.append(op)
        oid = op.oid
        if ctx.counters is not None:
            ctx.counters.tag(oid)
        sp = ctx.tracer.begin(f"op.{kind}", "bench", op=oid) if ctx.tracer else None
        t0 = time.perf_counter()
        try:
            op.result = fn()
        except Exception:           # an operation failure is a measured outcome
            op.error = traceback.format_exc(limit=3)
            op.ok = False
        t1 = time.perf_counter()
        if sp is not None:
            ctx.tracer.end(sp)
        op.latency_s = t1 - (due if due is not None else t0)
        if ctx.trace and record:
            op.counters = ctx.counters.read(oid)
        return op

    def generate(self) -> dict:
        """Seeded parquet tables at the workload's scale factor."""
        self.tables = os.path.join(self.ctx.run_dir, "tables")
        self.rows = gen.write_tables(self.tables, self.ctx.seed,
                                     self.cfg["inputs"]["sf"])
        return self.rows

    def start(self) -> None:
        from servihabitat_etl_spyke_spark.engine import Engine
        self.engine = Engine.local(self.tables, cpus=self.ctx.cpus)

    @property
    def spark(self):
        return self.engine.spark


# ---------------------------------------------------------------------------
# autoapi_read
# ---------------------------------------------------------------------------

class AutoApiRead(Workload):
    name = "autoapi_read"

    def _params(self, kind: str, rng: random.Random) -> dict:
        if kind == "eq_page":
            return {"status": rng.choice("FOP"), "page": rng.randrange(4)}
        if kind == "range_list":
            if rng.random() < 0.5:
                lo = round(rng.uniform(1000, 400_000), 2)
                return {"column": "o_totalprice", "from": lo,
                        "to": round(lo + rng.uniform(1000, 50_000), 2)}
            lo = dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(2300))
            return {"column": "o_orderdate", "from": lo,
                    "to": lo + dt.timedelta(days=rng.randrange(1, 60))}
        if kind == "tag_search":
            return {"segment": rng.choice(gen.SEGMENTS).lower()}
        if kind == "free_text":
            a, b = rng.choice(gen.WORDS[:-1]), rng.choice(gen.WORDS)
            return {"text": f"{a} {b}" if rng.random() < 0.7 else a}
        if kind == "group_options":
            return {"key": rng.choice(["o_orderpriority", "o_orderstatus"])}
        if kind == "deep_page":
            return {"page": rng.randrange(100, 2001)}
        if kind == "point_read":
            model = rng.choice(["orders", "customer", "documents", "events"])
            return {"model": model, "id": rng.randrange(self.rows[model])}
        raise ValueError(kind)

    def requests(self, stream: int, n: int) -> list[tuple[str, dict]]:
        """``n`` requests; each block of sum(weights) holds exactly the
        weighted template counts, shuffled by the seed."""
        rng = random.Random(f"{self.ctx.seed}-{stream}")
        block = [k for k, w in self.cfg["weights"].items() for _ in range(w)]
        out: list[tuple[str, dict]] = []
        while len(out) < n:
            b = block[:]
            rng.shuffle(b)
            out.extend((k, self._params(k, rng)) for k in b)
        return out[:n]

    def call(self, kind: str, p: dict):
        eng = self.engine
        if kind == "eq_page":
            env = eng.page("orders", filter={"o_orderstatus": p["status"]},
                           order_by="o_totalprice", order_direction="desc",
                           page=p["page"])
            items = env["items"]
            return items.columns, items.collect(), env["total"]
        if kind == "point_read":
            row = eng.read(p["model"], p["id"])
            return (sorted(row), [tuple(row[c] for c in sorted(row))], None) \
                if row else ([], [], None)
        if kind == "range_list":
            df = eng.list("orders", filter={p["column"]: {"from": p["from"],
                                                          "to": p["to"]}})
        elif kind == "tag_search":
            df = eng.list("customer", search=f"c_mktsegment:{p['segment']}")
        elif kind == "free_text":
            df = eng.list("documents", search=p["text"])
        elif kind == "group_options":
            df = eng.list("orders", group=p["key"])
        elif kind == "deep_page":
            df = eng.list("events", page=p["page"])
        else:
            raise ValueError(kind)
        return df.columns, df.collect(), None

    def warmup(self) -> None:
        reqs = self.requests(99, sum(self.cfg["weights"].values()))
        with ThreadPoolExecutor(max_workers=self.ctx.cpus) as pool:
            for op in pool.map(lambda r: self.run_op(
                    r[0], r[1], lambda: self.call(*r), record=False), reqs):
                if op.error:
                    raise RuntimeError(f"warm-up {op.kind} failed:\n{op.error}")

    def measure(self) -> None:
        loop = self.cfg["loop"]
        rate = loop["open"]["rate_per_s"]
        reqs = self.requests(0, loop["open"]["requests"])
        t_closed = self.ctx.seconds * loop["closed"]["share_of_seconds"]
        lateness = []
        with ThreadPoolExecutor(max_workers=self.ctx.cpus) as pool:
            futs = []
            t0 = time.perf_counter()
            for i, (kind, p) in enumerate(reqs):
                due = t0 + i / rate
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                lateness.append(time.perf_counter() - due)
                futs.append(pool.submit(self.run_op, kind, p,
                                        lambda k=kind, q=p: self.call(k, q),
                                        due))
            open_ops = [f.result() for f in futs]
        self.unit_s = [op.latency_s for op in open_ops]

        deadline = time.perf_counter() + t_closed
        done_at: list[float] = []

        def client(c: int) -> None:
            for kind, p in self.requests(1 + c, 10_000):
                if time.perf_counter() >= deadline:
                    return
                self.run_op(kind, p, lambda k=kind, q=p: self.call(k, q))
                done_at.append(time.perf_counter())

        start = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(self.ctx.cpus)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.work_done = len(done_at)
        self.work_time = max(done_at) - start if done_at else t_closed
        self.detail.update({
            "autoapi.open_rate_per_s": rate,
            "autoapi.open_requests": len(open_ops),
            "autoapi.closed_requests": len(done_at),
            "autoapi.closed_clients": self.ctx.cpus,
            "autoapi.generator_late_p50_ms": 1000 * percentile(lateness, 0.5),
            "autoapi.generator_late_max_ms": 1000 * max(lateness),
            "autoapi.p50_ms": 1000 * percentile(self.unit_s, 0.5),
            "autoapi.tail_ms": 1000 * tail(self.unit_s),
            "autoapi.throughput_rps": self.work_done / self.work_time,
        })
        by_kind: dict[str, list[float]] = {}
        for op in self.ctx.ops:
            by_kind.setdefault(op.kind, []).append(op.latency_s)
        for k, xs in by_kind.items():
            self.detail[f"listquery.{k}.p50_ms"] = 1000 * percentile(xs, 0.5)

    def check(self) -> None:
        rng = random.Random(f"{self.ctx.seed}-check")
        by_kind: dict[str, list[Op]] = {}
        for op in self.ctx.ops:
            if op.ok is None:
                op.ok = True            # ran without error; sampled below
                by_kind.setdefault(op.kind, []).append(op)
        for kind, ops in by_kind.items():
            for op in rng.sample(ops, min(len(ops), self.cfg["checks_per_template"])):
                op.ok = self.verify(op.kind, op.params, op.result)

    def verify(self, kind: str, p: dict, result) -> bool:
        cols, rows, total = result
        sql, total_sql = checks.autoapi_sql(kind, p)
        d_cols, d_rows = checks.duckdb_run(sql, self.tables)
        ok = checks.rows_digest(cols, rows) == checks.rows_digest(d_cols, d_rows)
        if total_sql is not None:
            ok = ok and checks.duckdb_run(total_sql, self.tables)[1][0][0] == total
        return ok


# ---------------------------------------------------------------------------
# etl_upsert
# ---------------------------------------------------------------------------

class EtlUpsert(Workload):
    name = "etl_upsert"

    def generate(self) -> dict:
        inp = self.cfg["inputs"]
        base = os.path.join(self.ctx.run_dir, "etl")
        self.in_dir = os.path.join(base, "in")
        self.store_dir = os.path.join(base, "stores")
        self.done_dir = os.path.join(base, "done")
        self.batches = gen.etl_batches(self.in_dir, self.ctx.seed,
                                       inp["batches_per_cycle"],
                                       inp["lines_per_entity"])
        self.expected = [gen.expected_stores(self.batches[:b + 1])
                         for b in range(len(self.batches))]
        self.input_bytes = [
            sum(os.path.getsize(self._src(b, e)) for e in gen.ENTITIES)
            for b in range(len(self.batches))]
        return {"batches": len(self.batches),
                "lines_per_batch": 6 * inp["lines_per_entity"],
                "bytes_per_batch": self.input_bytes[0]}

    def _src(self, b: int, e: str) -> str:
        return os.path.join(self.in_dir, f"batch{b:03d}", f"{e}.jsonl")

    def _store(self, e: str) -> str:
        return os.path.join(self.store_dir, f"{e}.parquet")

    def start(self) -> None:
        from servihabitat_etl_spyke_spark.engine import Engine
        from servihabitat_etl_spyke_spark.model import FieldSpec, model
        os.makedirs(self.store_dir, exist_ok=True)
        self.engine = Engine.local(self.store_dir, cpus=self.ctx.cpus)
        cols = {e: [c for c in self.expected[0][e][next(iter(self.expected[0][e]))]
                    if c != "id"] for e in gen.ENTITIES}
        for e in gen.ENTITIES:
            self.engine.register_model(model(
                e, FieldSpec("id", is_id=True, indexed=True),
                *[FieldSpec(c) for c in cols[e]], default_order_by="id"))

    def ingest(self, b: int) -> dict[str, float]:
        from servihabitat_etl_spyke_spark.operators import etl
        per = {}
        for e in gen.ENTITIES:
            t0 = time.perf_counter()
            inc = etl.run_entity_pipeline(self.spark, e, self._src(b, e))
            etl.upsert_into_path(self.spark, inc, self._store(e))
            per[e] = time.perf_counter() - t0
        return per

    def reads(self, b: int, record: bool = True) -> list[Op]:
        rng = random.Random(f"{self.ctx.seed}-reads-{b}")
        spec = self.cfg["reads_per_batch"]
        ops = []
        for i in range(spec["point_read"] + spec["page"]):
            e = gen.ENTITIES[(b + i) % len(gen.ENTITIES)]
            if i < spec["point_read"]:
                rid = rng.choice(sorted(self.expected[b][e]))
                fn = (lambda e=e, rid=rid: self.engine.read(e, rid))
                ops.append(self.run_op("point_read", {"entity": e, "id": rid,
                                                      "batch": b}, fn,
                                       record=record))
            else:
                pg = rng.randrange(3)

                def fn(e=e, pg=pg):
                    env = self.engine.page(e, page=pg)
                    return env["items"].columns, env["items"].collect(), env["total"]
                ops.append(self.run_op("page", {"entity": e, "page": pg,
                                                "batch": b}, fn, record=record))
        return ops

    def warmup(self) -> None:
        for b in range(2):                 # bootstrap, then merge path
            op = self.run_op("batch", {"batch": b}, lambda b=b: self.ingest(b),
                             record=False)
            if op.error:
                raise RuntimeError(f"warm-up batch {b} failed:\n{op.error}")
        self.reads(1, record=False)
        shutil.rmtree(self.store_dir)

    def measure(self) -> None:
        n_b = len(self.batches)
        deadline = time.perf_counter() + self.ctx.seconds
        self.cycles = 0
        per_entity: dict[str, list[float]] = {e: [] for e in gen.ENTITIES}
        read_s, batch_s, written, snap_files = [], [], 0, {}
        cycle_s = 0.0
        while self.cycles == 0 or time.perf_counter() + cycle_s < deadline:
            t0 = time.perf_counter()
            for b in range(n_b):
                op = self.run_op("batch", {"batch": b, "cycle": self.cycles},
                                 lambda b=b: self.ingest(b))
                if op.error is None:
                    self.unit_s += op.result.values()
                    self.work_done += 6 * self.cfg["inputs"]["lines_per_entity"]
                    self.work_time += op.latency_s
                    batch_s.append(op.latency_s)
                    for e, s in op.result.items():
                        per_entity[e].append(s)
                written += _du(self.store_dir)
                read_s += [o.latency_s for o in self.reads(b)]
            snap_files = {e: self._files(e) for e in gen.ENTITIES}
            os.makedirs(self.done_dir, exist_ok=True)
            os.rename(self.store_dir,
                      os.path.join(self.done_dir, f"cycle{self.cycles}"))
            self.cycles += 1
            cycle_s = time.perf_counter() - t0
        in_bytes = self.cycles * sum(self.input_bytes)
        final = os.path.join(self.done_dir, f"cycle{self.cycles - 1}")
        self.detail.update({
            "etl.cycles": self.cycles,
            "etl.batch_p50_s": percentile(batch_s, 0.5),
            "etl.lines_per_s": self.work_done / self.work_time,
            "etl.read_p50_ms": 1000 * percentile(read_s, 0.5),
            "etl.bytes_written_per_input_byte": written / in_bytes,
            "etl.stored_bytes_per_input_byte":
                _du(final) / sum(self.input_bytes),
            "etl.files_per_snapshot": sum(snap_files.values()) / len(snap_files),
            **{f"etl.upsert_s.{e}": percentile(xs, 0.5)
               for e, xs in per_entity.items() if xs},
        })

    def _files(self, e: str) -> int:
        return sum(f.endswith(".parquet")
                   for f in os.listdir(self._store(e)))

    def check(self) -> None:
        store_rows = {}
        for op in self.ctx.ops:
            if op.ok is not None:
                continue
            b = op.params["batch"]
            exp = self.expected[b]
            if op.kind == "batch":
                op.ok = True
                if b == len(self.batches) - 1:
                    cyc = os.path.join(self.done_dir, f"cycle{op.params['cycle']}")
                    for e in gen.ENTITIES:
                        df = self.spark.read.parquet(
                            os.path.join(cyc, f"{e}.parquet"))
                        rows = df.collect()
                        store_rows[e] = len(rows)
                        op.ok &= (checks.rows_digest(df.columns, rows)
                                  == checks.dict_rows_digest(
                                      list(exp[e].values())))
            elif op.kind == "point_read":
                want = exp[op.params["entity"]][op.params["id"]]
                op.ok = (op.result is not None and
                         checks.dict_rows_digest([op.result])
                         == checks.dict_rows_digest([want]))
            else:
                e, pg = op.params["entity"], op.params["page"]
                ids = sorted(exp[e])[25 * pg: 25 * pg + 25]
                cols, rows, total = op.result
                op.ok = (total == len(exp[e]) and
                         checks.rows_digest(cols, rows)
                         == checks.dict_rows_digest([exp[e][i] for i in ids]))
        self.detail["etl.store_rows"] = sum(store_rows.values())


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# analytics_batch
# ---------------------------------------------------------------------------

class AnalyticsBatch(Workload):
    name = "analytics_batch"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.query_names = tuple(self.cfg["queries"])

    def run_query(self, q: str):
        df = self.engine.run(q)
        return df.columns, df.collect()

    def one_pass(self, record: bool = True) -> list[Op]:
        return [self.run_op(q, {}, lambda q=q: self.run_query(q), record=record)
                for q in self.query_names]

    def warmup(self) -> None:
        self.one_pass(record=False)

    def measure(self) -> None:
        deadline = time.perf_counter() + self.ctx.seconds
        while not self.unit_s or time.perf_counter() + self.unit_s[-1] < deadline:
            ops = self.one_pass()
            self.unit_s.append(sum(op.latency_s for op in ops))
            self.work_done += sum(op.error is None for op in ops)
            self.work_time += self.unit_s[-1]
        self.detail["analytics.passes"] = len(self.unit_s)
        self.detail["analytics.pass_s"] = percentile(self.unit_s, 0.5)
        for q in self.query_names:
            xs = [op.latency_s for op in self.ctx.ops if op.kind == q]
            self.detail[f"analytics.{q}.s"] = percentile(xs, 0.5)

    def check(self) -> None:
        from servihabitat_etl_spyke_spark.queries import ORACLES
        want = {}
        for q in self.query_names:
            d_cols, d_rows = checks.duckdb_run(ORACLES[q], self.tables)
            want[q] = checks.rows_digest(d_cols, d_rows)
        for op in self.ctx.ops:
            if op.ok is None:
                op.ok = checks.rows_digest(*op.result) == want[op.kind]


WORKLOADS = {w.name: w for w in (AutoApiRead, EtlUpsert, AnalyticsBatch)}
