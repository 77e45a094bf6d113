"""Session-scoped analyzed-scan cache for the persisted stores.

A ``spark.read.parquet(dir)`` of a partitioned store costs real
driver-side work through Py4J — directory listing, partition discovery,
footer/schema reads — and the serving paths pay it once PER LEG PER
QUERY (a filtered hybrid serve resolves the vector store's table
twice, the postings table, the doclens table and the tombstone dirs:
five independent listings for one query batch). This mirrors
``sources/tables._LOADED``: cache the analyzed DataFrame per
(session, path, directory fingerprint). A DataFrame is only an
analyzed logical plan — caching it shares no executor state, every
action still reads the files — so this is metadata caching, exactly
what a real deployment gets from a metastore/manifest catalog
(optimization guide §6: table formats with manifest metadata avoid
directory listing altogether; this is the poor man's manifest).

Invalidation: the fingerprint folds every file's (name, mtime_ns,
size, inode, ctime_ns) under the directory, so any append/delete/
compact/overwrite — including in-place regeneration of a
dataset, a same-size rewrite within one mtime tick (a new inode
or ctime), and the stores' sidecar-committed mutations — produces a
new key and a fresh read. A file that disappears between the listing
and its ``stat`` (a concurrent compaction or delete) is left out of
the fingerprint instead of failing the request: the directory has
changed, so the key differs from the pre-delete one either way.
Stale entries are dropped eagerly (same path, different fingerprint)
so a long session over a mutating store does not accumulate dead
plans.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

_SCANS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _dir_fingerprint(path: str) -> tuple:
    out = []
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        for f in sorted(files):
            try:
                st = os.stat(os.path.join(root, f))
            except FileNotFoundError:
                continue
            out.append(
                (rel, f, st.st_mtime_ns, st.st_size, st.st_ino, st.st_ctime_ns)
            )
    return tuple(out)


def cached_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the analyzed plan memoized per
    (session, path, directory fingerprint). Callers layer their own
    commit/tombstone filters ABOVE the returned scan, so those always
    evaluate against the current sidecar state."""
    fp = _dir_fingerprint(path)
    cache = _SCANS.setdefault(spark, {})
    hit = cache.get(path)
    if hit is not None and hit[0] == fp:
        return hit[1]
    df = spark.read.parquet(path)
    cache[path] = (fp, df)
    return df
