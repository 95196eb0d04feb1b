"""Table handles from ``catalog.load_table``: one DataFrame per (session,
table path), reused while the path's file listing is unchanged."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from servihabitat_etl_spyke_spark.catalog import load_table, table_path
from servihabitat_etl_spyke_spark.operators.etl import upsert_into_path


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


def _rows(spark, ids):
    return spark.createDataFrame([(i, f"v{i}", 1) for i in ids],
                                 "id long, v string, p int")


def test_unchanged_table_reuses_handle_without_jobs(spark, tmp_path,
                                                    jobs_started):
    _rows(spark, [1, 2]).write.parquet(table_path(str(tmp_path), "t"))
    first = load_table(spark, str(tmp_path), "t")
    got = []
    assert jobs_started(
        lambda: got.append(load_table(spark, str(tmp_path), "t"))) == 0
    assert got[0] is first


def _upserted(spark, path):
    upsert_into_path(spark, _rows(spark, [1, 2]), path)


def _upsert_swap(spark, path):
    upsert_into_path(spark, _rows(spark, [2, 3]), path)


def _overwrite(spark, path):
    _rows(spark, [1, 2, 3]).write.mode("overwrite").parquet(path)


def _partitioned(spark, path):
    _rows(spark, [1, 2]).write.partitionBy("p").parquet(path)


def _partitioned_append(spark, path):
    # no _SUCCESS marker: the only new file is inside partition p=1
    spark.conf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs",
                   "false")
    try:
        root = sorted(os.listdir(path))
        _rows(spark, [3]).write.mode("append").partitionBy("p").parquet(path)
        assert sorted(os.listdir(path)) == root
    finally:
        spark.conf.unset("mapreduce.fileoutputcommitter.marksuccessfuljobs")


def _arrow_file(ids):
    def write(spark, path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({"id": ids}), path)
    return write


@pytest.mark.parametrize("create, write", [
    (_upserted, _upsert_swap),
    (_upserted, _overwrite),
    (_partitioned, _partitioned_append),
    (_arrow_file([1, 2]), _arrow_file([1, 2, 3])),
], ids=["upsert_swap", "overwrite", "partitioned_append",
        "single_file_rewrite"])
def test_handle_rebuilt_after_write(spark, tmp_path, create, write):
    path = table_path(str(tmp_path), "t")
    create(spark, path)
    before = load_table(spark, str(tmp_path), "t")
    assert load_table(spark, str(tmp_path), "t") is before
    write(spark, path)
    after = load_table(spark, str(tmp_path), "t")
    assert after is not before
    assert _ids(after) == [1, 2, 3]


def test_missing_path_still_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "absent")


def test_reused_events_handle_keeps_timestamp_after_conf_reset(spark,
                                                               tmp_path):
    import calendar
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    pq.write_table(pa.table({"ts": pa.array([ts], pa.timestamp("ns"))}),
                   table_path(str(tmp_path), "events"))
    first = load_table(spark, str(tmp_path), "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    ev = load_table(spark, str(tmp_path), "events")
    assert ev is first
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    assert ev.select(F.unix_micros("ts")).first()[0] == (
        calendar.timegm(ts.timetuple()) * 10**6 + ts.microsecond)


def test_sessions_never_share_a_handle(spark, sf_dir):
    other = spark.newSession()
    mine = load_table(spark, sf_dir, "orders")
    theirs = load_table(other, sf_dir, "orders")
    assert load_table(spark, sf_dir, "orders") is mine
    assert load_table(other, sf_dir, "orders") is theirs
    assert theirs is not mine and theirs.sparkSession is other
