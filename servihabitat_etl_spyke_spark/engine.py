"""Engine facade: the one object a user of the reference system would hold.

The reference exposes its capabilities as HTTP endpoints per model
(`packages/protonode/src/lib/generateApi.ts` mounts list/read/create/...
per declared model). This facade is the PySpark-native equivalent surface:
register models, run list queries with the same query-string contract, run
SQL over every table, run any named query from the registry, and reach the
ETL / streaming entry points — all over one SparkSession.

    eng = Engine.local(sf_dir="/root/testdata/sf0.01")
    page = eng.list("orders", filter={"o_orderstatus": "F"},
                    order_by="o_totalprice", order_direction="desc",
                    items_per_page=25, page=0)
    df   = eng.sql("SELECT count(*) FROM lineitem")
    out  = eng.run("dedup_minhash_lsh")
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .catalog import load_table, load_tables
from .model import Model
from .plans.listquery import ListParams, list_page, list_query
from .session import get_spark


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._models: dict[str, Model] = {}
        # runtime-declared tables (create_model): name -> DataFrame.
        # Shadows same-named parquet — latest declaration wins, like the
        # reference's put handler overwriting an existing object schema.
        self._runtime_tables: dict[str, DataFrame] = {}
        # storage backend per runtime model (objectsAPI.ts:169 analog)
        self._storage: dict[str, str] = {}
        # named parameterized automations (UD1, protolib automations)
        self._automations: dict = {}
        # SQL view name -> the DataFrame it was last registered with
        self._views: dict[str, DataFrame] = {}

    @classmethod
    def local(cls, sf_dir: str, cpus: int | None = None) -> "Engine":
        eng = cls(get_spark(cpus=cpus), sf_dir)
        eng.register_default_models()
        return eng

    # -- catalog ------------------------------------------------------------

    def register_model(self, model: Model) -> None:
        """Runtime DDL analog (objects bundle, objectsAPI.ts:133-193): a new
        model becomes queryable immediately — no codegen, just metadata."""
        self._models[model.name] = model

    def create_model(self, spec, data: list | DataFrame | None = None,
                     bind_to: str | None = None,
                     storage: str = "native") -> Model:
        """CREATE TABLE from a JSON object description — the full `objects`
        bundle lifecycle (reference ``objectsAPI.ts:133-193`` accepts the
        description, codegens a zod schema, and provisions a CRUD store;
        ``objectsSchemas.ts:11-20,63-78`` define the description format).

        Here the description compiles straight to FieldSpec metadata + a
        Spark StructType (model.model_from_json_description) and the model is
        immediately list()/page()/sql()-queryable:

        - ``data=None``: an empty table with the declared schema (the
          reference's fresh LevelDB store).
        - ``data=[rows]`` or a DataFrame: initial-data bootstrap
          (S12 semantics) — rows are validated against the declared schema.
        - ``bind_to='orders'``: the declared metadata governs an EXISTING
          parquet table (rename-free ALTER: new annotations, same data);
          the description's keys select/serve as the visible columns.
        - ``storage``: the reference lets a runtime object pick its store
          (``objectsAPI.ts:169`` — LevelDB, custom, or Google Sheets).
          ``'native'`` is the typed DataFrame store; ``'sheet'`` applies
          sheet semantics (sources/sheets.py): every column is STRING (a
          sheet has no types), bootstrap accepts header+rows lists via
          ``sheet_from_rows`` (short rows pad, extra cells drop), and
          ``put()`` routes through the keyed update-else-append
          ``sheet_upsert``. The declared keys still govern list-view
          masking / search / paging — the string-coerced list-query
          contract (P1) is storage-agnostic.
        """
        m = Model.from_json_description(spec)
        if storage not in ("native", "sheet"):
            raise ValueError(f"unknown storage: {storage!r}")
        if storage == "sheet":
            if bind_to is not None:
                raise ValueError("sheet storage keeps its own rows; "
                                 "bind_to applies to native storage")
            from pyspark.sql import functions as F
            from .sources.sheets import sheet_from_rows
            declared = list(m.fields)
            if isinstance(data, DataFrame):
                if set(data.columns) != set(declared):
                    raise ValueError(
                        f"sheet bootstrap columns {sorted(data.columns)} "
                        f"!= declared keys {sorted(declared)}")
                sdf = data.select([F.col(c).cast("string").alias(c)
                                   for c in declared])
            elif data:
                # header + rows, the getSpreadSheetElements shape
                sdf = sheet_from_rows(self.spark, data)
                if set(sdf.columns) != set(declared):
                    raise ValueError(
                        f"sheet header {sdf.columns} != declared keys "
                        f"{sorted(declared)}")
                sdf = sdf.select(*declared)
            else:
                sdf = self.spark.createDataFrame(
                    [], ", ".join(f"`{c}` string" for c in declared))
            self._runtime_tables[m.name] = sdf
            self._storage[m.name] = "sheet"
            self.register_model(m)
            return m
        if bind_to is not None:
            df = load_table(self.spark, self.sf_dir, bind_to)
            missing = [f for f in m.fields if f not in df.columns]
            if missing:
                raise ValueError(
                    f"bind_to={bind_to!r} lacks declared keys {missing}")
            self._runtime_tables[m.name] = df.select(*m.fields)
        elif isinstance(data, DataFrame):
            declared = set(m.fields)
            if set(data.columns) != declared:
                raise ValueError(
                    f"bootstrap DataFrame columns {sorted(data.columns)} != "
                    f"declared keys {sorted(declared)}")
            # validate TYPES too, not just names — storing e.g. a string
            # gid under a declared long would silently send numeric
            # filters down the cross-family string path and sort
            # lexicographically ('10' < '2'); the list-of-rows branch
            # already enforces the schema via createDataFrame
            got = {f.name: f.dataType for f in data.schema.fields}
            for f in m.schema.fields:
                if got[f.name] != f.dataType:
                    raise ValueError(
                        f"bootstrap column {f.name!r} is {got[f.name]}, "
                        f"declared {f.dataType}; cast it before create_model")
            self._runtime_tables[m.name] = data.select(*m.fields)
        else:
            self._runtime_tables[m.name] = self.spark.createDataFrame(
                data or [], schema=m.schema)
        self.register_model(m)
        return m

    def register_default_models(self) -> None:
        from .queries import CUSTOMER, DOCUMENTS, EVENTS, ORDERS
        for m in (ORDERS, CUSTOMER, DOCUMENTS, EVENTS):
            self.register_model(m)

    def put(self, model_name: str,
            rows: list[dict] | DataFrame) -> None:
        """Keyed update-else-append into a runtime model's store (the S6
        point upsert / S9 sheet put, batched): rows whose id exists are
        replaced in place, new ids append. Sheet-backed models coerce
        every value to string first (sheet semantics); both backends use
        the same anti-join upsert shape."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W
        from .sources.sheets import sheet_upsert
        if model_name not in self._runtime_tables:
            raise KeyError(f"{model_name!r} is not a runtime model")
        m = self._models[model_name]
        cur = self._runtime_tables[model_name]
        is_sheet = self._storage.get(model_name) == "sheet"
        if isinstance(rows, DataFrame):
            upd = rows
        elif is_sheet:
            # None -> '' (an EMPTY cell), never the text 'None' — the same
            # null contract SheetTransport.put documents for the wire path
            upd = self.spark.createDataFrame(
                [tuple("" if r[c] is None else str(r[c])
                       for c in cur.columns) for r in rows],
                ", ".join(f"`{c}` string" for c in cur.columns))
        else:
            upd = self.spark.createDataFrame(
                [tuple(r[c] for c in cur.columns) for r in rows],
                cur.schema)
        if is_sheet:
            upd = upd.select([F.col(c).cast("string").alias(c)
                              for c in cur.columns])
        # LAST-wins within the batch (the reference's sequential db.put
        # loop): sheet_upsert unions the updates verbatim, so duplicate
        # ids in one batch would BOTH persist, breaking the keyed-store
        # invariant; keep the final occurrence per id
        upd = (upd.withColumn("_o", F.monotonically_increasing_id())
               .withColumn("_rn", F.row_number().over(
                   W.partitionBy(m.id_field).orderBy(F.col("_o").desc())))
               .filter(F.col("_rn") == 1).drop("_o", "_rn"))
        self._runtime_tables[model_name] = sheet_upsert(
            cur, upd, m.id_field)

    def read(self, model_name: str, item_id, view: str = "read") -> dict | None:
        """Point read by id (the AutoAPI GET-one endpoint): one row as a
        dict with the model's view masking applied, or None. Ids compare
        via the SAME predicate as the list-query P1 contract
        (listquery._eq_predicate) — a bare str() coercion diverged on
        numeric/boolean ids (read('g', 1) missed a double id the list
        filter matched: '1' vs cast-string '1.0')."""
        from .plans.listquery import _eq_predicate
        m = self._models[model_name]
        df = self.table(model_name)
        cols = m.visible_columns(df.columns, view)
        row = (df.filter(_eq_predicate(df, m.id_field, item_id))
               .select(*cols).limit(1).collect())
        return row[0].asDict() if row else None

    def delete(self, model_name: str, item_ids: list) -> None:
        """Keyed delete from a runtime model's store (the AutoAPI DELETE
        endpoint; the reference's cascade hooks are the flow callbacks —
        compose them before calling): one keyed filter, same shape as
        the upsert's replace half. Ids match via the same predicate as
        :meth:`read` (listquery._eq_predicate), so ``delete(m, [1])``
        removes the row ``read(m, 1)`` finds, double and boolean ids
        included."""
        from pyspark.sql import functions as F
        from .plans.listquery import _eq_predicate
        if model_name not in self._runtime_tables:
            raise KeyError(f"{model_name!r} is not a runtime model")
        m = self._models[model_name]
        cur = self._runtime_tables[model_name]
        hit = F.lit(False)
        for i in item_ids:
            hit = hit | _eq_predicate(cur, m.id_field, i)
        # NULL-id rows must survive: ~hit is NULL (not true) for a NULL
        # id and filter drops NULL predicates, so deleting one key
        # would silently destroy every null-id row
        self._runtime_tables[model_name] = cur.filter(
            F.col(m.id_field).isNull() | ~hit)

    def model(self, name: str) -> Model:
        return self._models[name]

    def table(self, name: str) -> DataFrame:
        if name in self._runtime_tables:
            return self._runtime_tables[name]
        return load_table(self.spark, self.sf_dir, name)

    # -- query surfaces -----------------------------------------------------

    @staticmethod
    def _params(*, filter: dict[str, Any] | None = None, search: str = "",
                group: str | None = None, group_search: str | None = None,
                order_by: str | None = None,
                order_direction: str | None = None,
                page: int = 0, items_per_page: int = 25,
                all_rows: bool = False, view: str = "list") -> ListParams:
        return ListParams(
            filter=filter or {}, search=search, group=group,
            group_search=group_search, order_by=order_by,
            order_direction=order_direction, page=page,
            items_per_page=items_per_page, all=all_rows, view=view)

    def list(self, model_name: str, *, filter: dict[str, Any] | None = None,
             search: str = "", group: str | None = None,
             group_search: str | None = None, order_by: str | None = None,
             order_direction: str | None = None, page: int = 0,
             items_per_page: int = 25, all_rows: bool = False,
             view: str = "list") -> DataFrame:
        """The AutoAPI list endpoint (§3.1 lifecycle) as one call.

        ``order_direction=None`` (not 'asc') so a model's declared
        default_order_direction wins when the caller doesn't specify —
        a literal 'asc' here would shadow EVENTS' newest-first default,
        the exact trap listquery.ListParams documents."""
        params = self._params(
            filter=filter, search=search, group=group,
            group_search=group_search, order_by=order_by,
            order_direction=order_direction, page=page,
            items_per_page=items_per_page, all_rows=all_rows, view=view)
        return list_query(self.table(model_name), self.model(model_name),
                          params)

    def page(self, model_name: str, *, filter: dict[str, Any] | None = None,
             search: str = "", order_by: str | None = None,
             order_direction: str | None = None, page: int = 0,
             items_per_page: int = 25, all_rows: bool = False,
             view: str = "list") -> dict[str, Any]:
        """list() plus the pagination envelope
        {itemsPerPage, items, total, page, pages}. Same explicit keywords
        as list() — a misspelled parameter is a TypeError, never silently
        the default."""
        params = self._params(
            filter=filter, search=search, order_by=order_by,
            order_direction=order_direction, page=page,
            items_per_page=items_per_page, all_rows=all_rows, view=view)
        return list_page(self.table(model_name), self.model(model_name),
                         params)

    def sql(self, statement: str) -> DataFrame:
        """ANSI SQL over the standard tables AND every registered model.

        Each call resolves every view again — parquet through
        ``load_table``, runtime models from their store — and re-registers
        only the views whose DataFrame changed. A model registered or
        ``put()`` since the last call is visible at once, and a parquet
        path rewritten on disk is served from its new files, never from
        the deleted snapshot an older handle listed."""
        from pyspark.errors import AnalysisException
        views = load_tables(self.spark, self.sf_dir)
        for name in self._models:
            try:
                views[name] = self.table(name)
            except AnalysisException as e:
                # only "no backing file yet" is benign; schema
                # corruption / permission errors must surface
                if "PATH_NOT_FOUND" not in str(e):
                    raise
        for name, df in views.items():
            if self._views.get(name) is not df:
                df.createOrReplaceTempView(name)
                self._views[name] = df
        return self.spark.sql(statement)

    def register_automation(self, name: str, fn) -> None:
        """UD1: a named automation — any callable (spark, sf_dir,
        **params) -> DataFrame. The reference's automations bundle
        registers named flows invocable with a params object
        (protolib automations); here they live beside the query
        registry and shadow same-named registry queries."""
        self._automations[name] = fn

    def run(self, query_name: str, **params) -> DataFrame:
        """Run a named automation or registry query (UD1). ``params``
        pass through to the callable — registry queries take none;
        registered automations take whatever they declared (a wrong
        name is a TypeError, never silently dropped)."""
        from .queries import QUERIES
        fn = self._automations.get(query_name) or QUERIES[query_name]
        return fn(self.spark, self.sf_dir, **params)

    def queries(self) -> list[str]:
        from .queries import QUERIES
        return sorted(set(QUERIES) | set(self._automations))
