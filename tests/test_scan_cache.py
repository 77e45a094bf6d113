"""sources/scan_cache.cached_parquet: the stores' session-scoped
analyzed-scan memo (r12). Pins that (a) an unchanged directory returns
the SAME DataFrame object (no repeated listing/footer work), (b) any
file mutation — append, overwrite — invalidates the entry and reads
fresh rows, and (c) the cache is plan-metadata only: rows written after
the first read are visible after invalidation, so no result data is
ever frozen."""

from __future__ import annotations

import os

from distributedvectordatabase_spark.sources.scan_cache import cached_parquet


def test_same_fingerprint_returns_same_plan(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    b = cached_parquet(spark, p)
    assert a is b
    assert a.count() == 10


def test_mutation_invalidates(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    assert a.count() == 10
    spark.range(5).write.mode("append").parquet(p)
    b = cached_parquet(spark, p)
    assert b is not a
    assert b.count() == 15


def test_overwrite_invalidates(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    assert a.count() == 10
    spark.range(3).write.mode("overwrite").parquet(p)
    assert cached_parquet(spark, p).count() == 3


def test_touch_only_invalidates(spark, tmp_path):
    # mtime alone (no size change) is enough to key a fresh read —
    # the driver regenerates testdata in place
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    f = next(
        os.path.join(p, x) for x in os.listdir(p) if x.endswith(".parquet")
    )
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert cached_parquet(spark, p) is not a


def test_same_size_rewrite_with_restored_mtime_invalidates(spark, tmp_path):
    # a rewrite that keeps name, size and mtime still gets a new inode
    # and ctime, so it must not hit the stale plan
    import shutil

    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    a = cached_parquet(spark, p)
    f = next(
        os.path.join(p, x) for x in os.listdir(p) if x.endswith(".parquet")
    )
    st = os.stat(f)
    tmp = str(tmp_path / "copy")
    shutil.copyfile(f, tmp)
    os.replace(tmp, f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(f).st_size == st.st_size
    assert os.stat(f).st_mtime_ns == st.st_mtime_ns
    assert cached_parquet(spark, p) is not a


def test_file_vanishing_mid_walk_is_skipped(spark, tmp_path, monkeypatch):
    # a concurrent compaction can delete a file after os.walk listed it
    # and before it is stat'ed: the fingerprint skips it, no
    # FileNotFoundError reaches the search request
    from distributedvectordatabase_spark.sources.scan_cache import _dir_fingerprint

    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    before = _dir_fingerprint(p)
    gone = next(x for x in sorted(os.listdir(p)) if x.endswith(".parquet"))
    real_stat = os.stat

    def stat(path, *args, **kwargs):
        if os.path.basename(path) == gone:
            raise FileNotFoundError(path)
        return real_stat(path, *args, **kwargs)

    monkeypatch.setattr(os, "stat", stat)
    after = _dir_fingerprint(p)
    assert after != before
    assert [e[1] for e in after] == [e[1] for e in before if e[1] != gone]
    cached_parquet(spark, p)  # must not raise
