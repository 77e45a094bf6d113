"""The generational commit protocol of every store, written once.

All five stores (VectorStore, IVFStore, SigStore, TextIndex,
TokenizerStore) subclass :class:`GenerationalStore`, which owns the
whole append/delete/compact lifecycle over one JSON sidecar inside the
store directory. The sidecar holds the store's own config next to the
protocol fields ``gen``, ``pending_gen``, ``aborted_gens`` and (for
streamed stores) ``ingest_batch``:

============== ===================== =======================================
store          sidecar               store fields
============== ===================== =======================================
VectorStore    ``_lsh.json``         LSH dim/num_fns/num_tables/seed, columns
IVFStore       ``_centroids.json``   centers, n_cells, meta_cols, radii
SigStore       ``_config.json``      bands, rows, shingle_n, n_buckets
TextIndex      ``_stats.json``       n_docs, total_len, n_buckets, stats_gen
TokenizerStore ``_config.json``      n_merges, tokenize, unigram
============== ===================== =======================================

The reference has no delete endpoint at all (coordinator_server.py
exposes only add_vectors/search/stats), but a training-data store needs
take-downs. Every written row carries a ``_gen`` generation, ``delete``
appends (id, ``_del_gen``) rows to a hidden ``_tombstones/`` directory
inside the store (underscore-prefixed, so Spark's file index never
treats it as data), and reads drop a row when a tombstone for its id
carries a gen >= the row's own. The filter is ONE broadcast join of the
aggregated tombstone table above the scan — partition pruning and
predicate pushdown on the store side are unaffected — and compaction
folds tombstones in physically.

Generation ordering makes the scheme crash-safe without transactions:
a delete persists its gen to the sidecar BEFORE its tombstones exist;
an append persists a ``pending_gen`` intent before its data jobs and
commits the gen (with its ingest marker and store fields) in one dump
only AFTER its data lands. Any crash burns at most an unused gen number
or leaves orphan rows above the commit horizon that the next writer
heals into ``aborted_gens`` — never a resurrected row, never a
wrongly-killed one (the survival rule is strict ``row._gen > tombstone
gen``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GEN_COL = "_gen"
DEL_GEN_COL = "_del_gen"


def atomic_dump_json(path: str, obj) -> None:
    """Persist a sidecar with an ATOMIC replace, never truncate-in-place.

    The whole commit protocol rests on 'one sidecar dump is the commit
    point' — an ``open(path, "w")`` + ``json.dump`` truncates first and
    writes second, so a crash mid-dump leaves a torn/empty JSON. For
    IVFStore that file also holds the centroids: the store would become
    permanently unreadable, strictly worse than the pre-append state
    the protocol promises. Write to a temp file in the SAME directory
    (rename is only atomic within a filesystem), fsync, then
    ``os.replace`` over the target — readers see either the old
    complete sidecar or the new complete one, never a prefix.

    Doubles as the lease commit-point hook (r9): when this process
    holds a writer lease for the store enclosing ``path``, the dump
    first re-verifies ownership on disk and heartbeats the lease's
    ``ts`` — a holder whose lease was usurped (cross-host wall-clock
    takeover) fails BEFORE its sidecar commit lands instead of
    silently orphaning the usurper's rows. Dumps outside any held
    lease (read-side caches, tests poking sidecars) are untouched."""
    _assert_enclosing_lease(path)
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=os.path.basename(path) + ".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


class WriterLeaseHeld(RuntimeError):
    """Another live writer holds this store's lease.

    The two-phase sidecar commit is crash-safe but SINGLE-WRITER: two
    concurrent appenders would race the sidecar read-modify-write —
    both heal, both allocate gen G+1, the losing dump silently orphans
    the winner's committed rows above the horizon. The lease turns that
    silent corruption into this explicit refusal."""


class WriterLeaseLost(RuntimeError):
    """This writer's lease was usurped mid-mutation.

    Raised at the next heartbeat/commit point after another contender
    legitimately took the lease over (the holder looked stale — e.g. a
    cross-host writer whose heartbeats stopped). The mutation aborts
    BEFORE its sidecar commit, so its rows stay above the usurper's
    commit horizon: invisible, healed as an aborted gen by the next
    writer. Nothing is corrupted — the work is simply lost."""


# Leases held by THIS process, keyed by lock path. Drives (a) process-
# level re-entrancy (an outer mutator calling an inner one — registry
# membership, not a file pid probe, so a recycled pid on the same host
# can never fake re-entrancy) and (b) the commit-point ownership check
# in atomic_dump_json.
_HELD_LEASES: dict = {}
_REGISTRY_MU = threading.Lock()


def _assert_enclosing_lease(path: str) -> None:
    """If this process holds a writer lease for the store that contains
    ``path``, verify on disk that the lease is still ours and heartbeat
    its ``ts`` — raising ``WriterLeaseLost`` turns a usurped lease into
    an abort BEFORE the commit dump instead of silent dual-writer
    corruption. No-op when no enclosing lease is held (read paths,
    direct sidecar pokes in tests)."""
    with _REGISTRY_MU:
        leases = list(_HELD_LEASES.values())
    ap = os.path.abspath(path)
    for lease in leases:
        store = lease.lock_path[: -len("__writer.lock")]
        if ap.startswith(os.path.abspath(store) + os.sep):
            lease.refresh()
            return


class writer_lease:
    """Exclusive writer lease for one store directory.

    Atomic create-if-absent of a SIBLING ``<path>__writer.lock`` file
    is the mutual-exclusion primitive (a sibling, not a member, because
    ``compact()`` rmtree-swaps the store dir itself mid-lease). The
    lock is created by hardlinking a fully-written temp file into
    place, so a concurrent reader can NEVER observe an empty or partial
    lock (an ``O_CREAT|O_EXCL`` + write-payload sequence exposes an
    empty file whose ts reads as 0.0 → instantly 'stale' → bogus
    takeover). The payload records pid + host + acquire time + a
    per-acquisition random token.

    Staleness and takeover: a holder that died without releasing is
    detected by liveness (same-host pid probe) or the ``stale_after_s``
    wall-clock horizon. Takeover first RENAMES the stale lock aside to
    a contender-unique name — the source file can vanish only once, so
    exactly one contender wins; losers loop back and re-evaluate the
    winner's fresh lock (→ ``WriterLeaseHeld``). Refusal is the
    default; takeover only fires on provable staleness.

    Liveness: while held, a daemon heartbeat thread refreshes ``ts``
    every ``stale_after_s / 4`` (and every sidecar commit dump inside
    the store refreshes it too, via ``atomic_dump_json``), so a
    legitimate long-running mutator — a multi-hour 100 TB ``compact``
    on another host where the pid probe can't reach — never crosses
    the wall-clock horizon. Each refresh re-reads the lock and verifies
    the token: a holder that WAS usurped learns it at the next
    heartbeat/commit point (``WriterLeaseLost``) rather than committing
    over the usurper. Release verifies the token before unlinking, so
    an ex-holder can never remove a successor's lock.

    Re-entrant within one process (``train`` calls ``retrain``,
    ``delete_where`` calls ``delete`` — the inner scope finds the
    registry entry and leaves release to the outer). Used as a context
    manager around every gen-allocating write (append/delete/compact/
    build) in all five stores."""

    def __init__(
        self,
        store_path: str,
        stale_after_s: float = 3600.0,
        heartbeat_every_s: float | None = None,
    ):
        self.lock_path = store_path.rstrip("/") + "__writer.lock"
        self.stale_after_s = float(stale_after_s)
        self.heartbeat_every_s = (
            float(heartbeat_every_s)
            if heartbeat_every_s is not None
            else max(self.stale_after_s / 4.0, 0.05)
        )
        self._held = False
        self._reentrant = False
        self._token = None
        self.lost = False
        self._mu = threading.Lock()
        self._hb_stop = None
        self._hb_thread = None

    @staticmethod
    def _pid_alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True
        return True

    def _payload(self) -> dict:
        return {
            "pid": os.getpid(),
            "ts": time.time(),
            "host": os.uname().nodename,
            "token": self._token,
        }

    def _read_lock(self) -> dict:
        try:
            with open(self.lock_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _is_stale(self, cur: dict) -> bool:
        pid = int(cur.get("pid", -1))
        ts = float(cur.get("ts", 0.0))
        same_host = cur.get("host") == os.uname().nodename
        return (same_host and pid > 0 and not self._pid_alive(pid)) or (
            time.time() - ts > self.stale_after_s
        )

    def _create(self) -> bool:
        """Atomically create the lock WITH its complete payload: write a
        temp file in the same directory, fsync, ``os.link`` it into
        place. link() fails with EEXIST if any lock exists — the
        create-if-absent primitive — and the payload is whole before
        the name appears, so no reader ever sees a torn lock."""
        d = os.path.dirname(os.path.abspath(self.lock_path)) or "."
        fd, tmp = tempfile.mkstemp(
            dir=d, prefix=os.path.basename(self.lock_path) + ".", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(self._payload(), f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, self.lock_path)
            except FileExistsError:
                return False
            return True
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _takeover_stale(self, observed: dict) -> bool:
        """Single-winner takeover of a provably-stale lock: rename it
        aside to a name unique to this contender. Only one rename can
        succeed (the source vanishes), so at most one contender
        proceeds to create — the loser returns False and re-evaluates
        whatever lock now exists.

        ABA guard: the file sitting at the lock path when our rename
        lands may no longer be the lock we proved stale — a faster
        contender may have completed its takeover and created a FRESH
        lock in the gap. After the rename, re-read what we actually
        grabbed; if it differs from ``observed`` and is not itself
        stale, we stole a live lock: link it back into place (no-op if
        a third contender already created) and back off. The robbed
        holder's lock is absent only for the µs between our rename and
        the restore; if its heartbeat fires exactly then it aborts
        cleanly with WriterLeaseLost — never two committed writers."""
        aside = f"{self.lock_path}.stale.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        try:
            os.rename(self.lock_path, aside)
        except FileNotFoundError:
            return False
        try:
            with open(aside) as f:
                grabbed = json.load(f)
        except (OSError, ValueError):
            grabbed = {}
        if grabbed != observed and not self._is_stale(grabbed):
            try:
                os.link(aside, self.lock_path)
            except FileExistsError:
                pass
            try:
                os.unlink(aside)
            except OSError:
                pass
            return False
        try:
            os.unlink(aside)
        except OSError:
            pass
        return self._create()

    def __enter__(self):
        # a store's first write may precede its parent directory (the
        # store dir itself is created by the data write)
        parent = os.path.dirname(self.lock_path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with _REGISTRY_MU:
            if self.lock_path in _HELD_LEASES:
                # re-entrant: this process already holds the lease (an
                # outer mutator called an inner one) — no-op scope, the
                # outer owner heartbeats and releases
                self._reentrant = True
                return self
        self._token = uuid.uuid4().hex
        for _ in range(16):
            if self._create():
                return self._acquired()
            cur = self._read_lock()
            if not cur and not os.path.exists(self.lock_path):
                continue  # lock vanished between create and read — retry
            if not self._is_stale(cur):
                raise WriterLeaseHeld(
                    f"store lease {self.lock_path!r} is held by a live "
                    "writer; concurrent writers would race the sidecar "
                    "commit (both allocate the same generation, the losing "
                    "dump orphans the winner's rows) — retry after it "
                    "finishes, or remove the lock if the holder is known dead"
                )
            if self._takeover_stale(cur):
                return self._acquired()
            # lost the takeover race (or a fresh create slipped in) —
            # loop re-evaluates the new holder's lock
        raise WriterLeaseHeld(
            f"could not acquire {self.lock_path!r}: takeover contention "
            "persisted across retries"
        )

    def _acquired(self):
        # re-read and confirm the lock on disk is OURS before claiming
        # the lease (belt over the atomic link's suspenders)
        if self._read_lock().get("token") != self._token:
            raise WriterLeaseHeld(
                f"lost acquisition race on {self.lock_path!r}"
            )
        self._held = True
        self.lost = False
        with _REGISTRY_MU:
            _HELD_LEASES[self.lock_path] = self
        self._hb_stop = threading.Event()
        self._hb_thread = threading.Thread(
            target=self._hb_loop, name=f"lease-hb:{self.lock_path}", daemon=True
        )
        self._hb_thread.start()
        return self

    def _hb_loop(self):
        while not self._hb_stop.wait(self.heartbeat_every_s):
            try:
                self.refresh()
            except WriterLeaseLost:
                return  # self.lost is set; next commit dump raises

    def refresh(self) -> None:
        """Heartbeat: verify the on-disk lock still carries our token,
        then rewrite it with a fresh ``ts`` (same token). Raises
        ``WriterLeaseLost`` — and latches ``self.lost`` — if the lease
        was usurped. Called by the heartbeat thread and by every
        sidecar commit dump inside the store."""
        with self._mu:
            if not self._held:
                return
            if self.lost or self._read_lock().get("token") != self._token:
                self.lost = True
                raise WriterLeaseLost(
                    f"writer lease {self.lock_path!r} was taken over by "
                    "another contender (this holder looked stale); "
                    "aborting before the sidecar commit — rerun the "
                    "mutation under a fresh lease"
                )
            # NOTE: plain dump, not atomic_dump_json — that hook calls
            # back into refresh for store-internal paths; the lock is a
            # sibling so it never matches, but keep the write local and
            # atomic on its own
            d = os.path.dirname(os.path.abspath(self.lock_path)) or "."
            fd, tmp = tempfile.mkstemp(
                dir=d, prefix=os.path.basename(self.lock_path) + ".", suffix=".hb"
            )
            try:
                with os.fdopen(fd, "w") as f:
                    json.dump(self._payload(), f)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, self.lock_path)
            except BaseException:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
                raise

    def __exit__(self, *exc):
        if self._reentrant:
            self._reentrant = False
            return False
        if self._held:
            if self._hb_stop is not None:
                self._hb_stop.set()
                self._hb_thread.join(timeout=2.0)
            with _REGISTRY_MU:
                if _HELD_LEASES.get(self.lock_path) is self:
                    del _HELD_LEASES[self.lock_path]
            # ownership check before unlink: an ex-holder whose lease
            # was usurped must never remove the successor's lock
            if not self.lost and self._read_lock().get("token") == self._token:
                try:
                    os.unlink(self.lock_path)
                except OSError:
                    pass
            self._held = False
        return False


def append_tombstones(
    spark: SparkSession, tomb_dir: str, id_col: str, ids, gen: int
) -> None:
    """Record ``ids`` (list/iterable or one-column DataFrame) as
    deleted-at-``gen``. O(deleted) bytes; nothing else is touched."""
    if isinstance(ids, DataFrame):
        tomb = ids.select(F.col(ids.columns[0]).cast("long").alias(id_col))
    else:
        tomb = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} long")
    tomb.withColumn(DEL_GEN_COL, F.lit(int(gen))).coalesce(1).write.mode(
        "append"
    ).parquet(tomb_dir)


def filter_live(
    spark: SparkSession, df: DataFrame, tomb_dir: str, id_col: str
) -> DataFrame:
    """Drop tombstoned rows from ``df`` (which carries ``_gen``; a
    missing column means a pre-generation store — every row reads as
    gen 0). Keeps ``_gen`` in the output so callers can rewrite or
    re-filter; public read paths drop it themselves."""
    if GEN_COL not in df.columns:
        df = df.withColumn(GEN_COL, F.lit(0))
    if not os.path.exists(tomb_dir):
        return df
    from distributedvectordatabase_spark.sources.scan_cache import cached_parquet

    tomb = (
        cached_parquet(spark, tomb_dir)
        .groupBy(id_col)
        .agg(F.max(DEL_GEN_COL).alias("_tomb_gen"))
    )
    return (
        df.join(F.broadcast(tomb), id_col, "left")
        .filter(F.col("_tomb_gen").isNull() | (F.col(GEN_COL) > F.col("_tomb_gen")))
        .drop("_tomb_gen")
    )


def filter_as_of(
    spark: SparkSession, df: DataFrame, tomb_dir: str, id_col: str, gen: int
) -> DataFrame:
    """Snapshot read at generation ``gen``: exactly the rows that
    ``filter_live`` would have returned when the store's persisted gen
    was ``gen`` — rows written at ``_gen <= gen`` minus tombstones
    recorded at ``_del_gen <= gen`` (same strict survival rule).
    Time travel for training reproducibility: pin
    ``store.current_gen()`` when a run starts and the exact corpus the
    model saw stays reconstructable through later appends/deletes.

    The filters compose with the live read's plan shape: the row-side
    ``_gen <= gen`` is a pushable scan predicate, the tombstone side
    shrinks (never grows) before the same broadcast anti-filter.
    History is bounded by compaction, not forever: ``compact()``
    physically folds tombstones and drops dead rows (VACUUM
    semantics), so snapshots older than the last compact see the
    post-compact physical state — surviving rows keep their original
    ``_gen`` through the rewrite, so snapshots at or after it stay
    exact."""
    if GEN_COL not in df.columns:
        df = df.withColumn(GEN_COL, F.lit(0))
    df = df.filter(F.col(GEN_COL) <= int(gen))
    if not os.path.exists(tomb_dir):
        return df
    from distributedvectordatabase_spark.sources.scan_cache import cached_parquet

    tomb = (
        cached_parquet(spark, tomb_dir)
        .filter(F.col(DEL_GEN_COL) <= int(gen))
        .groupBy(id_col)
        .agg(F.max(DEL_GEN_COL).alias("_tomb_gen"))
    )
    return (
        df.join(F.broadcast(tomb), id_col, "left")
        .filter(F.col("_tomb_gen").isNull() | (F.col(GEN_COL) > F.col("_tomb_gen")))
        .drop("_tomb_gen")
    )


def filter_committed(
    df: DataFrame, committed_gen: int | None = None, aborted_gens=()
) -> DataFrame:
    """Drop rows from writes that never committed their sidecar: rows
    above the persisted commit horizon (an append crashed between its
    data job and its sidecar commit — invisible until the next writer
    heals them) and rows whose gen sits in the sidecar's aborted list
    (healed crash leftovers, physically reclaimed by ``compact``).
    Rows without a ``_gen`` column predate generations and are always
    committed. Both predicates are literal scan filters — they push
    down next to the store's partition pruning."""
    if GEN_COL not in df.columns:
        return df
    if committed_gen is not None:
        df = df.filter(F.col(GEN_COL) <= int(committed_gen))
    ab = [int(g) for g in aborted_gens or ()]
    if ab:
        df = df.filter(~F.col(GEN_COL).isin(ab))
    return df


def heal_pending(side: dict) -> dict:
    """Fold a crash-orphaned ``pending_gen`` into ``aborted_gens``.

    Writers follow a two-phase commit on the sidecar: (1) persist
    ``pending_gen = G+1`` as the write intent, (2) write data rows at
    that gen, (3) persist ``gen = G+1`` and clear the intent — one
    atomic sidecar dump, so the commit point is a single file write
    (streaming ingest rides its batch id on the same dump). A sidecar
    with a live ``pending_gen`` therefore marks a crashed write whose
    rows may exist physically; every subsequent gen allocation calls
    this first so those rows stay invisible forever (filter_committed)
    and the replay's rows take a FRESH gen number."""
    pending = side.get("pending_gen")
    if pending is not None:
        ab = set(int(g) for g in side.get("aborted_gens", ()))
        ab.add(int(pending))
        side["aborted_gens"] = sorted(ab)
        side["pending_gen"] = None
    return side


def next_gen(side: dict) -> int:
    """Allocate the next write/delete generation: above the committed
    gen AND every burned number (pending intents, aborted gens), so a
    healed crash's orphan rows can never share a gen with committed
    ones."""
    candidates = [int(side.get("gen", 0))]
    if side.get("pending_gen") is not None:
        candidates.append(int(side["pending_gen"]))
    candidates.extend(int(g) for g in side.get("aborted_gens", ()))
    return max(candidates) + 1


def locked_writer(fn):
    """Method decorator: hold the store's writer lease for the duration
    of a mutator (``self.path`` is the store dir — the shared layout of
    all five stores). Re-entrant, so wrapped mutators may call each
    other."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with writer_lease(self.path):
            return fn(self, *args, **kwargs)

    return wrapper


def check_codes_snapshot_floor(side: dict, as_of_gen: int, what: str) -> None:
    """Validate a compressed-codes snapshot read (r9): a codes sidecar
    encodes the rows LIVE at its (re)build, so rows deleted before the
    build are physically absent from the codes table — a snapshot older
    than the build cannot be reconstructed from codes (the raw table
    keeps them until compact; the codes table never had them). Builds
    record ``built_gen``; snapshot reads at or after it are exact
    (appends sync per-row ``_gen``; later deletes are merge-on-read
    tombstones that ``filter_as_of`` re-admits)."""
    built = side.get("built_gen")
    if built is None:
        raise ValueError(
            f"the {what} sidecar predates snapshot support (no built_gen "
            f"recorded); re-run build_{what}() once to enable as_of_gen "
            "reads on the compressed leg"
        )
    if int(as_of_gen) < int(built):
        raise ValueError(
            f"{what} codes cannot serve a snapshot at gen {as_of_gen}: the "
            f"sidecar was (re)built at gen {built} and rows deleted before "
            "that build are physically absent from the codes table — serve "
            "older snapshots from the raw leg"
        )


def max_tombstoned_id(spark: SparkSession, tomb_dir: str, id_col: str) -> int:
    """Largest id ever deleted (0 if none) — auto-id allocation must
    clear this too, or a reissued id would be silently killed by its
    old tombstone."""
    if not os.path.exists(tomb_dir):
        return 0
    v = spark.read.parquet(tomb_dir).agg(F.max(id_col)).first()[0]
    return int(v or 0)


class GenerationalStore:
    """The commit protocol over one store's sidecar, shared by all five
    stores. A subclass sets ``_SIDECAR`` (the JSON file name inside
    ``self.path``), may set ``_key`` (the id column its tombstones
    carry) and may override :meth:`_config_fields` (config it re-stamps
    on every protocol dump); it keeps its data tables, codes sidecars
    and builds to itself."""

    _SIDECAR: str
    _key = "doc_id"
    # on-disk layout: VectorStore and SigStore sidecars list both intent
    # fields from their first append or delete on; the other stores
    # only once a crash heal or a compact sets them
    _LISTS_INTENT_FIELDS = False

    @property
    def _sidecar_path(self) -> str:
        return os.path.join(self.path, self._SIDECAR)

    @property
    def _tombstone_path(self) -> str:
        return os.path.join(self.path, "_tombstones")

    def _config_fields(self) -> dict:
        return {}

    def _config(self) -> dict:
        """The sidecar ({} before the first commit)."""
        try:
            with open(self._sidecar_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _dump(self, side: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        atomic_dump_json(self._sidecar_path, side)

    def _gen(self) -> int:
        """Last persisted (committed) write/delete generation (0 for a
        new or pre-generation store)."""
        return int(self._config().get("gen", 0))

    def current_gen(self) -> int:
        """The store's persisted write/delete generation — pin it when
        a run starts and the store's ``as_of_gen`` reads reconstruct
        exactly the corpus that run saw (see filter_as_of for the
        semantics and the compaction-bounded history caveat)."""
        return self._gen()

    def _committed(self, df: DataFrame) -> DataFrame:
        """Scan-level commit filter (filter_committed): rows above the
        persisted gen (crashed/in-flight append) or in the aborted list
        are invisible to every read."""
        side = self._config()
        return filter_committed(
            df, int(side.get("gen", 0)), side.get("aborted_gens", ())
        )

    def _visible(
        self, spark: SparkSession, df: DataFrame, as_of_gen: int | None = None
    ) -> DataFrame:
        """Committed rows of any store table (raw or codes), tombstone
        filtered live or reconstructed as of ``as_of_gen``. Aborted
        gens were never committed at ANY point in history, so snapshots
        exclude them too. ``_gen`` stays in the output."""
        df = self._committed(df)
        if as_of_gen is None:
            return filter_live(spark, df, self._tombstone_path, self._key)
        return filter_as_of(spark, df, self._tombstone_path, self._key, as_of_gen)

    def _begin_append(self) -> int:
        """Append phase 1: heal a crashed write, allocate the next gen
        and persist it as the ``pending_gen`` intent BEFORE any data
        job — a crash from here on leaves rows no read sees."""
        side = heal_pending(self._config())
        gen = next_gen(side)
        side.update(self._config_fields())
        side["pending_gen"] = gen
        if self._LISTS_INTENT_FIELDS:
            side.setdefault("aborted_gens", [])
        self._dump(side)
        return gen

    def _commit(self, gen: int, ingest_batch: int | None = None, **fields) -> None:
        """Append phase 2 — THE commit, only AFTER the data lands: one
        dump bumps ``gen``, clears the intent and stamps the streaming
        ``ingest_batch`` marker plus the store's ``fields``, so "batch
        committed" and "rows visible" are the same file write."""
        side = self._config()
        side.update(self._config_fields(), **fields)
        side["gen"] = int(gen)
        side["pending_gen"] = None
        if ingest_batch is not None:
            side["ingest_batch"] = int(ingest_batch)
        self._dump(side)

    def _fresh_history(self, *stale: str) -> None:
        """Start a fresh history: the first step of every whole-store
        rebuild whose rows restart at gen 1 (VectorStore's overwrite
        continues the gen count instead). It drops the old tombstones
        and ``stale``, a store's own versioned paths. Left behind, an id
        deleted before the rebuild stays hidden after it, because its
        re-written row at ``_gen`` 1 fails the ``_gen > tombstone gen``
        survival rule."""
        for path in (self._tombstone_path, *stale):
            if os.path.exists(path):
                shutil.rmtree(path)

    def _rebuild_gen(self) -> int:
        """The gen a whole-store rebuild writes at (no intent: the
        rebuild's overwrite replaces the sidecar with its commit)."""
        return next_gen(heal_pending(self._config()))

    def _burn_gen(self) -> int:
        """Allocate a gen and make it durable at once (deletes, and the
        gen a stream's rows carry). A crashed append's orphans are
        healed into ``aborted_gens`` FIRST, or bumping the horizon past
        them would surface them as committed."""
        side = heal_pending(self._config())
        gen = next_gen(side)
        side.update(self._config_fields())
        side["gen"] = gen
        if self._LISTS_INTENT_FIELDS:
            side.setdefault("pending_gen", None)
            side.setdefault("aborted_gens", [])
        self._dump(side)
        return gen

    def _tombstone(self, spark: SparkSession, ids) -> int:
        """Burn the delete gen, THEN record ``ids`` as deleted at it: a
        crash between the two leaves a harmless unused gen, while the
        reverse order could hand a later append the tombstone's own gen
        and wrongly kill its rows. Returns the gen."""
        gen = self._burn_gen()
        append_tombstones(spark, self._tombstone_path, self._key, ids, gen)
        return gen

    @locked_writer
    def delete(self, spark: SparkSession, ids) -> None:
        """Merge-on-read delete: hide every current row whose id is in
        ``ids`` (a list/iterable or a one-column DataFrame). O(deleted)
        bytes written, nothing rewritten — ``compact()`` reclaims the
        space. Rows appended AFTER the delete are untouched (strict
        ``row._gen > tombstone gen`` survival), so delete-then-append
        of the same id is a well-defined upsert."""
        self._tombstone(spark, ids)

    @contextmanager
    def _compaction(self, side: dict | None = None):
        """The compact swap: the body writes the live tables into the
        yielded sibling directory; on success the sidecar (``side``, or
        the current one) is carried with the aborted/pending gens
        cleared — the live rewrite dropped their orphan rows physically
        — and the new copy replaces the old directory. Tombstones are
        NOT carried: the swap is the physical delete. The copy is
        complete before the old one is removed, so a failed compaction
        never loses the store."""
        tmp = self.path.rstrip("/") + "__compacting"
        yield tmp
        side = self._config() if side is None else side
        if side:
            side["aborted_gens"] = []
            side["pending_gen"] = None
            atomic_dump_json(os.path.join(tmp, self._SIDECAR), side)
        shutil.rmtree(self.path)
        shutil.move(tmp, self.path)


class StreamedStore(GenerationalStore):
    """A store that streaming ingest feeds batch by batch."""

    def ingest_batch(self) -> int:
        """Last streaming batch id whose build/append COMMITTED
        (recorded by the same sidecar dump that bumps gen — the
        exactly-once marker of the store's streaming ingest). -1 if the
        store never streamed."""
        return int(self._config().get("ingest_batch", -1))
