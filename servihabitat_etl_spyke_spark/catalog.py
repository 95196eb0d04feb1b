"""Table catalog: named parquet tables under a scale-factor directory.

The reference's stores are key->JSON maps behind a uniform
``{iterator,get,put,del}`` contract (SURVEY.md §1.3); here every table is a
parquet dataset and the "contract" is the DataFrame. Catalyst pushes
filters/projections into the scan.

Resolving a table is not free: ``spark.read.parquet`` lists the files and
runs one Spark job to read a parquet footer for the schema. So
:func:`load_table` hands out one DataFrame handle per (session, table
path) and reuses it while a driver-side listing of the path is unchanged;
any write that adds, removes or rewrites a file under the path makes the
next load build a fresh handle.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: parquet TIMESTAMP(NANOS) columns per table: read as long via
#: ``nanosAsLong`` and normalized back to a microsecond TimestampType.
#: Any table that gains a nanos column MUST be registered here, or its
#: column is silently served as a raw long (the flag is session-global).
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _listing_signature(path: str) -> tuple:
    """What Spark's file index sees of ``path``: for a file its inode, size
    and mtime; for a directory its inode plus (relative path, size, mtime)
    of every file beneath it, ``_``/``.``-prefixed ones included (Spark
    skips those, so they can only over-invalidate). Spark-written part
    files carry a per-write UUID, so every overwrite, append or snapshot
    swap changes it. Raises OSError when ``path`` is not a local file or
    directory."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            fs = os.stat(f)
            files.append((os.path.relpath(f, path), fs.st_size,
                          fs.st_mtime_ns))
    return (st.st_ino, tuple(sorted(files)))


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    for col in NANOS_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table. Parquet scan → pushdown-friendly.

    Handles are reused: the DataFrame built for ``(spark, path)`` is
    returned again, with no Spark job and no schema call, while
    :func:`_listing_signature` of the path is unchanged. A changed
    listing builds and stores a fresh handle (the old one still names
    the files it listed). When the path cannot be stat'ed locally (it
    is missing, or a non-local URI) the table is read uncached, so
    errors and remote reads behave as a plain ``spark.read.parquet``.
    The signature is taken BEFORE the read: a write racing the read (or
    a concurrent load of the same path) can then only pair a handle
    with an older signature, which the next load rebuilds, never with
    a newer one.

    The synthetic ``events`` parquet stores ``ts`` as TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; we read nanos as long
    (``nanosAsLong``) and normalize to a microsecond TimestampType column —
    matching how DuckDB coerces TIMESTAMP_NS to TIMESTAMP.

    NOTE: ``nanosAsLong`` is a SESSION-global flag and stays set after
    the first load (restoring it eagerly would be unsafe — the lazy scan
    reads the conf at action time, after this function returned). It is
    set on every load, reused handles included. Other parquet reads in
    the same session therefore also see nanos timestamps as longs;
    register such columns in NANOS_TS_COLUMNS.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    try:
        sig = _listing_signature(path)
    except OSError:
        return _read_table(spark, path, name)
    # the handles live and die with the session they were built on
    handles = vars(spark).setdefault("_table_handles", {})
    cached = handles.get(path)
    if cached is not None and cached[0] == sig:
        return cached[1]
    df = _read_table(spark, path, name)
    handles[path] = (sig, df)
    return df


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-distribute rows across the full cluster width before CPU-heavy
    per-row work (shingling, regex featurization, media decode). Small
    corpora often arrive as one or few parquet files — one partition per
    file would serialize the compute on a handful of tasks; one cheap
    shuffle of the raw rows buys full parallelism for everything
    downstream. Keyed so later per-key aggregations are co-partitioned.

    NOTE: do NOT gate this on ``df.rdd.getNumPartitions()`` — accessing
    ``.rdd`` forces AQE to materialize the upstream query stages eagerly
    (measured 3-10x blowups on plans with joins upstream). On a real
    cluster defaultParallelism is the full executor-core count, so the
    repartition is width-preserving there; callers with already-wide
    inputs should simply skip spread()."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name)
            for name in names
            if os.path.exists(table_path(sf_dir, name))}
