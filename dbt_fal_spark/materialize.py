"""Materialization strategies: how a model's DataFrame becomes a relation.

The reference delegates materialization to dbt macros + warehouse DDL
(reference: projects/adapter/src/dbt/include/fal/macros/materializations/
table.sql, atomic swap at src/fal/dbt/integration/lib.py:286-329,424-472);
here the engine owns them:

- seed        CSV → saveAsTable
- table       CREATE OR REPLACE via saveAsTable(overwrite)
- view        lazy temp view over the rendered SQL
- ephemeral   same as view (Catalyst inlines it; no storage)
- incremental first run full table; then append, or merge-by-key via
              anti-join + union with the reference's temp-swap protocol

This module is the only one that knows the on-disk table format. It owns
the writes (``write_table``, ``incremental_merge``, ``snapshot_scd2``),
the atomic swap (``replace_relation_atomic``), the copy-on-write version
dirs and their live pointer file, compaction (``compact_table``), vacuum
(``vacuum_table``) and finding the live version to re-attach a table the
catalog forgot (``live_version_dir``). ``api.FalSpark`` calls these verbs.

Scale notes: tables are parquet in the session warehouse; the temp-swap
(write ``<name>__f__<uuid8>``, drop, rename) is exactly the reference's
atomic-overwrite dance — on Delta this would be a transactional REPLACE.

File sizing: a write with no declared layout is coalesced to
``ceil(estimate / split)`` files, where the estimate is the larger of the
plan's leaf scan total and its optimized size, and ``split`` is the size
Spark itself splits a scan of that many bytes into (see ``_sized``): KB-
sized models write one file, larger ones keep one task per core.
Coalescing never adds a shuffle, and an unknown estimate leaves the plan
alone. Exempt, and written exactly as the plan
or layout says: declared ``sort_by``, ``bucket_by`` and ``partition_by``;
plans holding an explicit repartition or coalesce (a ``REPARTITION`` /
``DISTRIBUTE BY`` hint, ``DataFrame.repartition`` in a Python model,
``compact_table(target_partitions=...)``). Incremental appends still add
one file set per batch; ``compact_table`` heals those.

Row counts: ``write_table`` and ``replace_relation_atomic`` attach a
metrics-only Observation above any exchange they add and return a reader
of the rows written, so a write reports its rows without a second job
re-reading them.
"""

from __future__ import annotations

import collections
import os
import re
import shutil
import tempfile
import threading
import time
import uuid
from pathlib import Path
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sources.readers import conf_bytes, scan_bytes


def _q(ident: str) -> str:
    return ".".join(f"`{p}`" for p in ident.split("."))


def count_rows(df: DataFrame) -> tuple[DataFrame, Callable[[], int]]:
    """``df`` plus a reader of the rows its next action produced. The
    count rides on that action as observed metrics; call the reader only
    after the action succeeded (it waits for the action otherwise)."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), lambda: obs.get["rows"]


# Spark's size estimate for a plan it cannot size (Long.MaxValue)
_UNKNOWN_SIZE = (1 << 63) - 1
# a plan node that fixes the partition count on purpose; matched at the
# start of a treeString line, so a column of the same name never matches
_EXPLICIT_PARTITIONING = re.compile(
    r"^[\s:|+\-]*(Repartition|RepartitionByExpression|RebalancePartitions)\b", re.M
)


def _sized(df: DataFrame) -> DataFrame:
    """Coalesce a layout-free write to ``ceil(est / split)`` partitions,
    one file each. ``est`` is the larger of the leaf scan total
    (``scan_bytes``, which a narrow projection of wide text cannot
    shrink) and the optimized plan's own size (which a join fan-out can
    grow past its inputs). ``split`` is Spark's own scan split rule,
    ``min(maxPartitionBytes, max(openCostInBytes, est / parallelism))``,
    so a mid-size model keeps the one task per core its scan had while a
    KB-sized one writes a single file. An explicit repartition or
    coalesce in the plan, or an unknown estimate, leaves ``df`` as it is."""
    spark = df.sparkSession
    try:
        qe = df._jdf.queryExecution()
        if _EXPLICIT_PARTITIONING.search(qe.analyzed().treeString()):
            return df
        est = max(scan_bytes(df), int(qe.optimizedPlan().stats().sizeInBytes()))
        cores = int(
            spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
            or spark.sparkContext.defaultParallelism
        )
    except Exception:  # internal API unavailable (connect/foreign session)
        return df
    if est >= _UNKNOWN_SIZE:
        return df
    split = min(
        conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20),
        max(conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20), est // max(1, cores)),
    )
    return df.coalesce(min(max(1, -(-est // max(1, split))), (1 << 31) - 1))


def _default_location(spark: SparkSession, identifier: str) -> str:
    """Canonical warehouse path for a table name (version-suffix base)."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    *db, table = identifier.lower().split(".")
    db_dir = f"{db[-1]}.db" if db and db[-1] != "default" else ""
    return os.path.join(os.path.abspath(wh.path), db_dir, table)


def _clean_orphan_location(spark: SparkSession, identifier: str) -> None:
    """A table directory left by a previous session (the in-memory catalog
    forgets tables across sessions; their warehouse dirs persist) blocks
    saveAsTable with LOCATION_ALREADY_EXISTS — remove it when the catalog
    has no such table."""
    if spark.catalog.tableExists(identifier):
        return
    if urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).scheme not in ("", "file"):
        return
    loc = _default_location(spark, identifier)
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def layout_cols(spec) -> list[str]:
    """Column list from a layout config value. dbt accepts BOTH the
    comma-string form (``"k1, k2"``) and the YAML/Jinja list form
    (``["k1", "k2"]``) for partition_by / sort_by / bucket_by-cols /
    unique_key (reference: dbt-core node config); normalizing here means
    every writer and maintenance path handles both — a list reaching
    ``str(x).split(',')`` would produce bracketed garbage column names."""
    if spec is None:
        return []
    if isinstance(spec, (list, tuple)):
        return [str(c).strip() for c in spec if str(c).strip()]
    return [c.strip() for c in str(spec).split(",") if c.strip()]


def _range_cluster(df: DataFrame, sort_by) -> DataFrame:
    """Range-partition + sort-within on the given column(s): every file
    then covers a DISJOINT value range, so parquet row-group min/max
    stats let any range/point predicate skip whole files at scan time —
    the lakehouse analogue of warehouse clustering keys, and at 100 TB
    the difference between scanning a table and scanning a slice.
    (Orthogonal to bucket_by, which optimizes equi-JOINS by hash;
    sort_by optimizes range FILTERS by order. bucketBy already sorts
    within buckets, so the two are mutually exclusive at the writer.)"""
    cols = layout_cols(sort_by)
    return df.repartitionByRange(*cols).sortWithinPartitions(*cols)


def _shape(df: DataFrame, partition_by, bucket_by, sort_by) -> DataFrame:
    """The frame a table write hands the writer: range-clustered for
    ``sort_by`` (bucketBy sorts on its own), sized when no layout is
    declared, unchanged otherwise."""
    if sort_by and not bucket_by:
        return _range_cluster(df, sort_by)
    if partition_by or bucket_by or sort_by:
        return df
    return _sized(df)


def _bucket_spec(bucket_by: dict | None) -> tuple[int, tuple[str, ...]] | None:
    """(num_buckets, bucket_cols) a ``bucket_by`` config declares."""
    if not bucket_by:
        return None
    return int(bucket_by.get("n", 32)), tuple(layout_cols(bucket_by["cols"]))


def _parquet_writer(df: DataFrame, mode: str, partition_by, bucket_by):
    """A parquet writer for ``df`` carrying the declared partition and
    bucket layout."""
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*layout_cols(partition_by))
    if bucket_by:
        n, cols = _bucket_spec(bucket_by)
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    return writer


def write_table(
    df: DataFrame,
    identifier: str,
    mode: str = "overwrite",
    partition_by: str | None = None,
    bucket_by: dict | None = None,
    sort_by: str | None = None,
) -> Callable[[], int]:
    """Eager write — the write boundary forces materialization, matching
    the reference's eager write_to_* semantics (SURVEY §7 risk note).
    ``partition_by`` lays the table out hive-partitioned (the 100 TB
    contract: partition pruning + per-partition overwrite both need it).
    ``bucket_by`` = {"cols": "k1,k2", "n": 32} hash-buckets (and sorts)
    the table on its join key — every later equi-join between tables
    bucketed the same way reads co-partitioned data and plans with ZERO
    shuffle exchanges (asserted by tests/test_bucketing.py).
    ``sort_by`` range-clusters files for min/max data skipping
    (see _range_cluster); with no layout the output is sized (_sized).
    Returns a reader of the rows written (see count_rows)."""
    # observed above any exchange _shape adds: a range exchange runs its
    # input twice (sampling, then the shuffle), which would double a
    # count taken below it
    df, rows = count_rows(_shape(df, partition_by, bucket_by, sort_by))
    _clean_orphan_location(df.sparkSession, identifier)
    _parquet_writer(df, mode, partition_by, bucket_by).saveAsTable(identifier)
    return rows


# the suffix of a copy-on-write version dir, ``<table>__v<uuid8>``
_VERSION_RE = re.compile(r"__v[0-9a-f]{8}$")

# Per-table-base commit locks for the pointer flip: a maintenance verb
# (compact) and a model rebuild racing on the SAME table must serialize
# their check-then-flip sections, or last-writer-wins silently replaces
# the rebuild's fresh data with recompacted stale data.
# In-process only — one driver owns a parquet warehouse by design; a
# multi-writer deployment needs a transactional table format (Delta/
# Iceberg), not file locks. defaultdict single-key access is GIL-atomic
# (the environments.py _ENSURE_LOCKS precedent).
_FLIP_LOCKS: dict[str, threading.Lock] = collections.defaultdict(threading.Lock)

# Version directories some in-process writer is CURRENTLY producing
# (registered before the expensive saveAsTable, cleared after commit or
# cleanup). Every vacuum path keeps them: a concurrent writer's
# half-written dir matches the version pattern and is in nobody's
# keep set, so without this registry a racing flip's trailing vacuum
# could rmtree it mid-write. In-process only, same
# single-driver scope as _FLIP_LOCKS.
_INFLIGHT_DIRS: set[str] = set()
_INFLIGHT_LOCK = threading.Lock()


def inflight_version_dirs() -> set[str]:
    """Snapshot of version dirs currently being written in this process
    — vacuum callers union this into their keep set."""
    with _INFLIGHT_LOCK:
        return set(_INFLIGHT_DIRS)


class ConcurrentRebuildError(RuntimeError):
    """The table's live version moved between a maintenance verb's read
    and its commit — the verb aborts instead of overwriting the newer
    rebuild (optimistic concurrency, Delta's commit-conflict analogue)."""


def table_swap_token(spark: SparkSession, identifier: str):
    """Opaque version token for optimistic read-then-replace:
    (location, commit-nonce, local-dir mtime). Location alone
    identifies pointer-flip versions (every flip mints a fresh ``__v``
    dir) but NOT drop-first swaps — RENAME TO lands a rebuilt
    hive-partitioned table on the same canonical path every time. For
    those, the per-commit NONCE carries the version: every committed
    swap rewrites the live pointer file with a fresh uuid (an mtime-only
    token compares equal when a rebuild lands in the same coarse-
    filesystem tick as the token capture, letting compact commit stale
    data undetected). The directory mtime
    rides along as a third component for in-place writes that bypass
    the swap path (incremental appends touch the dir but not the
    pointer). Pre-pointer tables and non-local locations degrade
    gracefully (nonce/mtime None)."""
    loc = _table_location(spark, identifier)
    if loc is None:
        return None
    base = _re_sub_version(loc)
    mtime = None
    parsed = urlparse(loc)
    if parsed.scheme in ("", "file"):
        try:
            mtime = os.path.getmtime(parsed.path or loc)
        except OSError:
            mtime = None
    return (loc, _read_live_nonce(base), mtime)


def _re_sub_version(loc: str) -> str:
    """Strip the ``__v<uuid8>`` suffix off a version-dir path."""
    return _VERSION_RE.sub("", loc.rstrip("/"))


def _describe(spark: SparkSession, identifier: str) -> dict[str, str]:
    """``DESCRIBE TABLE EXTENDED`` as {col_name: data_type}. The detailed
    table rows come after the column rows, so they win a name clash."""
    return {r["col_name"]: r["data_type"] for r in spark.sql(
        f"DESCRIBE TABLE EXTENDED {_q(identifier)}").collect()}


def _table_location(
    spark: SparkSession, identifier: str, desc: dict[str, str] | None = None
) -> str | None:
    """Filesystem path of a table's current location (None if absent),
    from ``desc`` (a ``_describe`` of the table) when given."""
    if desc is None:
        if not spark.catalog.tableExists(identifier):
            return None
        desc = _describe(spark, identifier)
    loc = desc.get("Location")
    if loc is None:
        return None
    u = urlparse(loc)
    return u.path if u.scheme in ("", "file") else loc


def _table_bucket_spec(
    spark: SparkSession, identifier: str, desc: dict[str, str] | None = None
) -> tuple[int, tuple[str, ...]] | None:
    """(num_buckets, bucket_cols) from the catalog, None if unbucketed;
    from ``desc`` (a ``_describe`` of the table) when given."""
    desc = _describe(spark, identifier) if desc is None else desc
    n = desc.get("Num Buckets")
    if not n:
        return None
    cols = tuple(
        c.strip(" `") for c in desc.get("Bucket Columns", "").strip("[]").split(",")
    )
    return int(n), cols


# Optional time-based retention for version dirs (Delta VACUUM's
# retention-check analogue): version dirs modified within the last N
# seconds are never deleted, so a reader whose scan spans several rapid
# rebuilds keeps its file set. Default 0 = keep-live-plus-grace only
# (test-friendly); production deployments with long scans should set it
# to at least the longest expected scan duration.
RETAIN_CONF = "spark.falspark.vacuum.retainSeconds"


def _live_pointer_path(base: str) -> str:
    """Sidecar file recording the live version dir (written after each
    successful pointer flip). '_'-prefixed so a parquet reader listing
    the parent never sees it as data; a plain file so _vacuum_versions
    (dirs only) never removes it."""
    return os.path.join(os.path.dirname(base), f"_{os.path.basename(base)}.__live__")


def _write_live_pointer(base: str, loc: str) -> None:
    """Atomically persist the live location (tmp file + rename). Line 1
    is the version dir's NAME, not its path: every version is a sibling
    of ``base``, so a copied or restored warehouse resolves the pointer
    inside itself. Line 2 is a fresh per-commit NONCE — the version
    component table_swap_token uses for drop-first swaps, whose
    committed location never changes (dir mtime alone has coarse-
    filesystem ticks).

    A writer killed between mkstemp and the rename (the in-process
    cleanup below can't run on SIGKILL) leaves a ``.__live_tmp_*`` file
    behind; they are invisible to readers ('.'-prefixed, and
    _vacuum_versions removes only dirs) but accumulate in the db dir
    across crashes, so each successful write opportunistically reaps
    stale ones. The 1-hour age floor keeps a
    CONCURRENT writer's milliseconds-old tmp file safe."""
    parent = os.path.dirname(base)
    try:
        cutoff = time.time() - 3600
        for f in os.listdir(parent):
            if f.startswith(".__live_tmp_"):
                p = os.path.join(parent, f)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.unlink(p)
                except OSError:
                    pass  # raced with another reaper / the owner's rename
    except OSError:
        pass  # listdir failed (parent vanishing) — litter reaping is best-effort

    tmp = None
    try:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(base), prefix=".__live_tmp_")
        with os.fdopen(fd, "w") as f:
            f.write(f"{os.path.basename(loc.rstrip('/'))}\n{uuid.uuid4().hex}")
        os.replace(tmp, _live_pointer_path(base))
        tmp = None  # consumed by the rename
    except OSError:
        pass  # pointer is an optimization; mtime fallback still works
    finally:
        if tmp is not None:  # write/rename failed after mkstemp: don't
            try:  # leave .__live_tmp_* litter accumulating in the db dir
                os.unlink(tmp)
            except OSError:
                pass


def _read_live_pointer(base: str) -> str | None:
    """The live location named by line 1 of the pointer file, resolved
    as a sibling of ``base``. Pointer files that stored an absolute path
    resolve the same way, by their last component (single-line files
    from before the nonce parse identically — no nonce line, that's all)."""
    try:
        with open(_live_pointer_path(base)) as f:
            name = os.path.basename(f.readline().strip().rstrip("/"))
    except OSError:
        return None
    return os.path.join(os.path.dirname(base), name) if name else None


def _read_live_nonce(base: str) -> str | None:
    """Line 2 of the pointer file: the per-commit nonce (None for
    single-line pointer files and pointerless tables)."""
    try:
        with open(_live_pointer_path(base)) as f:
            f.readline()
            nonce = f.readline().strip()
        return nonce or None
    except OSError:
        return None


def _version_dirs(base: str) -> list[str]:
    """``base`` (the un-suffixed table path) and its ``<name>__v<uuid8>``
    copy-on-write siblings, those that exist as directories."""
    name, parent = os.path.basename(base), os.path.dirname(base)
    try:
        entries = os.listdir(parent)
    except OSError:
        return []
    return [
        os.path.join(parent, d)
        for d in entries
        if (d == name or _re_sub_version(d) == name) and os.path.isdir(os.path.join(parent, d))
    ]


def _has_committed_parquet(root: Path) -> bool:
    """Committed parquet never lives under a '_'/'.'-prefixed path (hive
    partition dirs are 'col=value'): a dir holding only _SUCCESS markers
    or _temporary staging files is an interrupted write."""
    return any(
        not any(part.startswith(("_", ".")) for part in f.relative_to(root).parts)
        for f in root.rglob("*.parquet")
    )


def live_version_dir(db_dir: str | Path, name: str) -> str | None:
    """Resolved path of the version dir holding table ``name``'s live
    data under ``db_dir`` (a ``<schema>.db`` directory), for attaching a
    table the catalog does not know: after a process restart (the
    in-memory catalog forgets tables, their dirs persist) or for a
    deferred ref into another warehouse. The live pointer each committed
    swap writes names it. Without a usable pointer (tables written before
    pointers existed) the newest version dir holding committed parquet
    wins — which can pick a version that committed its files but crashed
    before its flip, the gap the pointer closes. None when no dir has
    data."""
    base = os.path.join(db_dir, name)
    ptr = _read_live_pointer(base)
    if ptr is not None and os.path.isdir(ptr) and _has_committed_parquet(Path(ptr)):
        return str(Path(ptr).resolve())
    live = [Path(d) for d in _version_dirs(base) if _has_committed_parquet(Path(d))]
    return str(max(live, key=lambda p: p.stat().st_mtime).resolve()) if live else None


def _vacuum_versions(base: str, keep: set[str], keep_newer_than: float | None = None) -> int:
    """Delete copy-on-write version dirs of ``base`` (the un-suffixed
    table path) except those whose abspath is in ``keep`` or whose mtime
    is strictly newer than ``keep_newer_than`` (epoch seconds). The
    mtime guard serves two callers: the swap's grace-window tail passes
    ``now - retainSeconds`` (time-based reader protection), and
    vacuum_table passes the live pointer's mtime so a version dir a
    CONCURRENT rebuild is still writing — newer than the last committed
    flip — is never deleted mid-flip. Returns dirs removed.

    The in-flight writer registry (_INFLIGHT_DIRS) is consulted PER
    DIRECTORY, immediately before each rmtree: a caller-
    supplied snapshot taken before the listdir leaves a window where a
    writer registers + creates its dir between the snapshot and the
    delete loop reaching it. The per-dir re-check closes that window
    completely: writers register BEFORE creating the directory, so any
    listed dir that is mid-write is registered by the time we re-check
    — and a dir that re-checks as unregistered can never become a write
    target later, because version paths are minted with fresh uuid4
    suffixes and never reused.

    The LIVE POINTER is also re-read per directory, AFTER the in-flight
    check: a concurrent rebuild that commits its flip and
    deregisters between the caller's ``keep`` snapshot and this loop
    reaching its dir would otherwise have its now-live version dir
    deleted. Order matters — writers deregister only after the pointer
    rewrite (both happen inside the flip's registration window), so a
    dir that re-checks as unregistered either was never a rebuild
    target or already has the pointer naming it live. Checking the
    pointer first would leave a TOCTOU gap the other way around."""
    keep_abs = {os.path.abspath(k) for k in keep}
    removed = 0
    for p in _version_dirs(base):
        if os.path.abspath(p) in keep_abs:
            continue
        if keep_newer_than is not None:
            try:
                if os.path.getmtime(p) > keep_newer_than:
                    continue
            except OSError:
                continue  # vanished under us (another vacuum) — skip
        with _INFLIGHT_LOCK:  # short: set lookup only, no IO held
            inflight_now = os.path.abspath(p) in {
                os.path.abspath(k) for k in _INFLIGHT_DIRS
            }
        if inflight_now:
            continue
        live_now = _read_live_pointer(base)
        if live_now and os.path.abspath(live_now) == os.path.abspath(p):
            continue  # became live since the caller's keep snapshot
        shutil.rmtree(p, ignore_errors=True)
        removed += 1
    return removed


def _vacuum_keeping_live(
    spark: SparkSession, identifier: str, base: str, keep: set, keep_newer_than: float | None
) -> int:
    """Vacuum ``base``'s version dirs, keeping ``keep`` and the version
    live NOW. The catalog location and the live pointer are re-read here,
    after every read the caller made: a concurrent rebuild of the same
    table may have committed (and deregistered its dir) since, making
    ITS dir the live one. That snapshot is itself racy, which is why
    _vacuum_versions also re-reads the pointer before each rmtree. With
    RETAIN_CONF set, dirs modified within the retention window are kept
    too (slow-reader cover)."""
    retain = float(spark.conf.get(RETAIN_CONF, "0") or "0")
    if retain > 0:
        cutoff = time.time() - retain
        keep_newer_than = cutoff if keep_newer_than is None else min(keep_newer_than, cutoff)
    keep = set(keep) | {_table_location(spark, identifier), _read_live_pointer(base)}
    return _vacuum_versions(base, {k for k in keep if k}, keep_newer_than=keep_newer_than)


def replace_relation_atomic(
    spark: SparkSession,
    df: DataFrame,
    identifier: str,
    bucket_by: dict | None = None,
    sort_by: str | None = None,
    partition_by: str | None = None,
    expected_token: tuple | None = None,
) -> Callable[[], int]:
    """Atomic table replacement, safe when ``df`` reads from
    ``identifier`` itself (reference: lib.py:286-329 overwrite_target /
    _replace_relation) AND against concurrent readers:

    - Default (unpartitioned / bucketed, schema unchanged): copy-on-
      write pointer flip. The new version is written to a fresh sibling
      directory ``<table>__v<uuid8>``, then ONE metadata call (``ALTER
      TABLE ... SET LOCATION``) switches the table to it. In-flight
      readers keep scanning the previous version's files — which are
      left on disk as a one-version grace window — so a racing read
      resolves either the old or the new file set, never a deleted
      file (tests/test_round7_fixes.py::test_compact_concurrent_reader).
      Version dirs older than the grace window are vacuumed here.
      This is the plain-parquet rendition of Delta/Iceberg snapshot
      isolation; on a transactional lakehouse it is REPLACE TABLE.
    - Hive-partitioned tables or a changed schema: drop-first temp-swap
      (per-partition catalog locations and table schemas cannot be
      flipped atomically in a v1 catalog) — use insert_overwrite for
      reader-safe partitioned refreshes.

    ``bucket_by``/``sort_by``/``partition_by`` carry the declared layout
    through the swap — a rebuild that silently flattened a partitioned
    or bucketed table would void the partition-pruning /
    zero-shuffle-join contract the model config declared.

    ``expected_token`` (maintenance verbs): optimistic
    concurrency for read-then-replace callers. compact_table rewrites the
    data it READ — if another writer commits between that read and this
    swap, flipping anyway would silently replace the newer rebuild with
    recompacted stale data (lost update). Passing the
    ``table_swap_token`` the caller captured before reading makes the
    commit conditional: the check and the flip run under a per-table
    lock (_FLIP_LOCKS — model rebuilds take the same lock, so
    in-process check-then-flip is atomic), and a moved token raises
    ConcurrentRebuildError after cleaning up the never-made-live
    version directory. Rebuilds themselves pass None: the model's own
    output is the newest truth regardless of what it read.

    Returns a reader of the rows written (see count_rows)."""
    tmp = f"{identifier}__f__{uuid.uuid4().hex[:8]}"
    # observed above any exchange _shape adds (see write_table)
    df, rows = count_rows(_shape(df, partition_by, bucket_by, sort_by))

    def _check_expected():
        if expected_token is not None:
            cur = table_swap_token(spark, identifier)
            if cur != expected_token:
                raise ConcurrentRebuildError(
                    f"{identifier}: live version moved "
                    f"({expected_token!r} -> {cur!r}) since the "
                    "maintenance read — aborting the swap; re-run the verb "
                    "against the current version"
                )

    exists = spark.catalog.tableExists(identifier)
    # one DESCRIBE before the write: the bucket check and the version base
    desc = _describe(spark, identifier) if exists else {}
    # nullability differs freely between plans — including NESTED
    # nullability (ArrayType.containsNull after transform()/collect_list,
    # struct field nullables), which simpleString() strips and dataType
    # equality would not; only name/type changes make the catalog schema
    # stale for the pointer flip
    _sig = lambda s: [(f.name, f.dataType.simpleString()) for f in s.fields]  # noqa: E731
    schema_changed = exists and _sig(spark.table(identifier).schema) != _sig(df.schema)
    # the pointer flip reuses the live table's metadata, so the declared
    # bucket layout must already match it (e.g. a table re-attached after
    # a restart has no bucket spec) — otherwise rebuild the metadata too
    bucket_mismatch = exists and _table_bucket_spec(spark, identifier, desc) != _bucket_spec(bucket_by)

    commit_lock = _FLIP_LOCKS[identifier.lower()]

    if partition_by or schema_changed or bucket_mismatch or not exists:
        # drop-first temp-swap; the expensive write
        # happens before the lock — only the catalog swap serializes
        try:
            _parquet_writer(df, "overwrite", partition_by, bucket_by).saveAsTable(tmp)
            with commit_lock:
                _check_expected()
                spark.sql(f"DROP TABLE IF EXISTS {_q(identifier)}")
                _clean_orphan_location(spark, identifier)
                spark.sql(f"ALTER TABLE {_q(tmp)} RENAME TO {_q(identifier)}")
                if partition_by:
                    # RENAME keeps per-partition catalog locations pointing at
                    # the temp path — SYNC re-registers the moved directories
                    spark.sql(f"MSCK REPAIR TABLE {_q(identifier)} SYNC PARTITIONS")
                # The nonce rewrite must be atomic with the catalog swap:
                # with the pointer written outside the lock, a
                # maintenance verb running _check_expected under the lock
                # between the RENAME and the pointer rewrite reads the STALE
                # nonce — and if the dir mtime lands in the same coarse
                # filesystem tick, its expected_token compares equal and it
                # commits recompacted stale data over the fresh rebuild.
                committed = _table_location(spark, identifier)
                if committed:
                    _write_live_pointer(_re_sub_version(committed), committed)
        except Exception:
            spark.sql(f"DROP TABLE IF EXISTS {_q(tmp)}")
            raise
        return rows

    # copy-on-write pointer flip; the base (the location minus its
    # version suffix) is the same for every version, so a flip racing
    # this write cannot move it
    pre_loc = _table_location(spark, identifier, desc)
    base = _re_sub_version(pre_loc) if pre_loc else _default_location(spark, identifier)
    new_loc = f"{base}__v{uuid.uuid4().hex[:8]}"
    old_loc = None
    flipped = False
    with _INFLIGHT_LOCK:
        _INFLIGHT_DIRS.add(new_loc)
    try:
        try:
            # option("path") makes tmp EXTERNAL: dropping it later removes
            # only metadata, never the files the live table now points at
            _parquet_writer(df, "overwrite", partition_by, bucket_by).option(
                "path", new_loc
            ).saveAsTable(tmp)
            with commit_lock:
                _check_expected()
                # the version this flip replaces, read under the lock: a
                # rebuild of the same table may have flipped during the
                # write, and the rollback and the vacuum's keep set need
                # the version live right before ours
                old_loc = _table_location(spark, identifier)
                spark.sql(f"ALTER TABLE {_q(identifier)} SET LOCATION '{new_loc}'")
                flipped = True
                spark.sql(f"REFRESH TABLE {_q(identifier)}")
                _write_live_pointer(base, new_loc)
        except Exception:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {_q(tmp)}")
            except Exception:
                pass  # cleanup must not mask the original error
            # Only delete new_loc while the catalog does NOT reference it:
            # after a committed SET LOCATION, a failure (e.g. in REFRESH)
            # must roll the pointer back to old_loc first — rmtree'ing the
            # directory the catalog points at would brick every later read.
            safe_to_delete = not flipped
            if flipped and old_loc:
                try:
                    spark.sql(f"ALTER TABLE {_q(identifier)} SET LOCATION '{old_loc}'")
                    spark.sql(f"REFRESH TABLE {_q(identifier)}")
                    safe_to_delete = True
                except Exception:
                    pass  # rollback failed: catalog still references new_loc — keep it
            if safe_to_delete:
                shutil.rmtree(new_loc, ignore_errors=True)
            raise
    finally:
        with _INFLIGHT_LOCK:
            _INFLIGHT_DIRS.discard(new_loc)
    spark.sql(f"DROP TABLE IF EXISTS {_q(tmp)}")
    # vacuum versions beyond the grace window: always keep the live dir,
    # the immediately previous one, and any version dir an in-process
    # writer is currently producing (_vacuum_versions re-checks the
    # in-flight registry per directory, so a writer registering after
    # this call starts is still safe)
    _vacuum_keeping_live(spark, identifier, base, {new_loc, old_loc}, None)
    return rows


def compact_table(
    spark: SparkSession,
    identifier: str,
    target_partitions: int | None = None,
    partition_by: str | None = None,
    bucket_by: dict | None = None,
    sort_by: str | None = None,
) -> int:
    """Rewrite a table's files into ``target_partitions`` partitions
    (default: executor parallelism; ``bucket_by`` tables get one per
    bucket) and swap them in atomically. Returns the partition count
    written.

    Every declared layout survives compaction — a rewrite that flattened
    a bucketed/partitioned/clustered table would heal the small files
    while silently voiding the zero-shuffle-join / partition-pruning /
    data-skipping contract the config declared.

    Concurrent rebuilds are handled optimistically: the version token is
    captured before the read, and the swap commits only if it is
    unchanged — otherwise ConcurrentRebuildError aborts the compaction
    (the rebuild's fresh data wins; re-run compact)."""
    expected = table_swap_token(spark, identifier)
    df = spark.table(identifier)
    n = target_partitions or spark.sparkContext.defaultParallelism
    layout = {"partition_by": partition_by}
    if bucket_by:
        # shuffle into exactly n_buckets tasks on the bucket cols so the
        # rewrite emits one file per bucket (the minimal healed layout)
        # instead of files × tasks
        n, cols = _bucket_spec(bucket_by)
        out = df.repartition(n, *cols)
        layout["bucket_by"] = bucket_by
    elif sort_by:
        cols = layout_cols(sort_by)
        out = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    elif partition_by:
        # co-locate each hive partition's rows so the rewrite emits few
        # files per partition directory, not files × tasks
        out = df.repartition(n, *layout_cols(partition_by))
    else:
        # the current partition count decides coalesce (shrinking, no
        # shuffle) vs repartition (growing); the JVM-side RDD probe
        # skips building a Python-side RDD
        cur = df._jdf.queryExecution().toRdd().getNumPartitions()
        out = df.coalesce(n) if n <= cur else df.repartition(n)
    replace_relation_atomic(spark, out, identifier, expected_token=expected, **layout)
    return n


def vacuum_table(spark: SparkSession, identifier: str) -> int:
    """Delete a table's non-live copy-on-write version directories (the
    swap keeps ONE previous version as a grace window for in-flight
    readers; Delta's VACUUM analogue). Readers with long scans are
    additionally protected by RETAIN_CONF. A CONCURRENT rebuild is
    guarded two ways: version dirs newer than the last committed flip
    (the live pointer file's mtime) are skipped, so a half-written swap
    target is never deleted mid-flip; and because a flip can commit
    BETWEEN our catalog read and the pointer-mtime read (making the new
    live dir look both non-live and old), the pointer's CONTENT and the
    catalog location are re-read AFTER capturing the mtime and unioned
    into the keep set. Returns the number of dirs removed."""
    live = _table_location(spark, identifier)
    if live is None:
        return 0
    base = _re_sub_version(live)
    try:
        ref_mtime = os.path.getmtime(_live_pointer_path(base))
    except OSError:  # pre-pointer table: fall back to the live dir
        ref_mtime = os.path.getmtime(live) if os.path.isdir(live) else None
    return _vacuum_keeping_live(spark, identifier, base, {live}, ref_mtime)


def _evolve_schema(
    spark: SparkSession, new_rows: DataFrame, identifier: str, on_schema_change: str
) -> DataFrame:
    """dbt's on_schema_change contract for incremental reruns whose model
    now produces extra columns:

    - ignore (default)      new columns silently dropped (dbt parity)
    - fail                  raise with the offending column list
    - append_new_columns    ALTER TABLE ADD COLUMNS, then proceed —
                            historical rows read the new columns as NULL

    Returns ``new_rows`` aligned to the (possibly evolved) table schema.
    Columns the table has but the model no longer produces always fail —
    dropping data columns is never implicit."""
    old_cols = spark.table(identifier).columns
    new_cols = [c for c in new_rows.columns if c not in old_cols]
    missing = [c for c in old_cols if c not in new_rows.columns]
    if missing:
        raise ValueError(
            f"{identifier}: incremental model no longer produces column(s) "
            f"{missing} — refusing to guess; full-refresh the model instead"
        )
    if new_cols:
        if on_schema_change == "fail":
            raise ValueError(
                f"{identifier}: schema changed (new column(s) {new_cols}) and "
                "on_schema_change=fail"
            )
        if on_schema_change == "append_new_columns":
            col_defs = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in new_rows.schema.fields
                if f.name in new_cols
            )
            spark.sql(f"ALTER TABLE {_q(identifier)} ADD COLUMNS ({col_defs})")
        elif on_schema_change != "ignore":
            raise ValueError(
                f"{identifier}: unknown on_schema_change {on_schema_change!r}"
            )
    return new_rows.select(*spark.table(identifier).columns)


def incremental_merge(
    spark: SparkSession,
    new_rows: DataFrame,
    identifier: str,
    unique_key: str | None,
    strategy: str | None = None,
    partition_by: str | None = None,
    on_schema_change: str = "ignore",
    bucket_by: dict | None = None,
    sort_by: str | None = None,
) -> int:
    """Incremental strategies (reference: C5 — the adapter declares
    append / delete+insert / merge / insert_overwrite, fal/python/impl.py:
    256-291; dbt resolves ``get_incremental_{strategy}_sql``):

    - append            → plain INSERT INTO
    - merge (default when unique_key is set) → upsert: keep old rows whose
      key is absent from the new batch, union, swap atomically (the
      no-Delta MERGE)
    - delete+insert     → same mechanics on immutable parquet (see below)
    - insert_overwrite  → dynamic partition overwrite: ONLY the partitions
      present in the new batch are replaced — the strategy that scales,
      since a daily 100 TB backfill rewrites one day's partitions, never
      the table

    ``on_schema_change`` handles models that grow columns between runs
    (see `_evolve_schema`).

    ``bucket_by``/``sort_by`` carry the model's declared layout through
    the first-run write and the merge swap — without them an
    incremental model's bucket/cluster contract was silently flattened
    (the append path needs nothing: insertInto on a bucketed table
    honors the catalog's bucket spec, verified by bucket-suffixed
    output files in tests/test_round10_fixes.py).

    Returns the batch's row count, observed on the write itself (on the
    batch branch of the merge union for merge and delete+insert; a merge
    that range-clusters for ``sort_by`` counts the batch before the swap).
    """
    if not spark.catalog.tableExists(identifier):
        return write_table(
            new_rows, identifier, mode="overwrite",
            partition_by=partition_by, bucket_by=bucket_by, sort_by=sort_by,
        )()
    strategy = strategy or ("merge" if unique_key else "append")
    new_rows = _evolve_schema(spark, new_rows, identifier, on_schema_change)
    if strategy == "append":
        batch, rows = count_rows(new_rows)
        if not (partition_by or bucket_by or sort_by):
            batch = _sized(batch)
        batch.write.mode("append").format("parquet").insertInto(identifier)
        return rows()
    if strategy == "insert_overwrite":
        if not partition_by:
            raise ValueError(f"{identifier}: insert_overwrite requires partition_by")
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            cols = spark.table(identifier).columns  # insertInto is positional
            batch, rows = count_rows(new_rows.select(*cols))
            batch.write.mode("overwrite").insertInto(identifier)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return rows()
    if strategy not in ("merge", "delete+insert"):
        raise ValueError(f"{identifier}: unknown incremental strategy {strategy!r}")
    if unique_key is None:
        raise ValueError(f"{identifier}: {strategy} strategy requires unique_key")
    # merge and delete+insert (reference declares both, python/impl.py:
    # 256-291) are distinct in a mutable warehouse — UPDATE-matching vs
    # DELETE-then-INSERT — but converge on immutable parquet: both keep
    # old rows whose key is absent from the new batch, append the batch,
    # and swap atomically. The config name a dbt user writes must work.
    old = spark.table(identifier)
    keys = layout_cols(unique_key)  # dbt unique_key: str OR list
    batch = new_rows.select(*old.columns)
    if sort_by and not bucket_by:
        # the swap range-clusters the union, and a range exchange runs its
        # input twice (sampling, then the shuffle): an observation on the
        # batch branch would count it twice. Count the batch (the model
        # task caches it) before the swap replaces files its plan may read.
        n = batch.count()
        rows = lambda: n  # noqa: E731
    else:
        batch, rows = count_rows(batch)
    merged = old.join(new_rows.select(*keys).distinct(), on=keys, how="left_anti").unionByName(
        batch
    )
    replace_relation_atomic(
        spark, merged, identifier,
        partition_by=partition_by, bucket_by=bucket_by, sort_by=sort_by,
    )
    return rows()


def apply_dtype_casts(df: DataFrame, dtype: dict[str, str] | None) -> DataFrame:
    """User column-type overrides, mirroring the reference's ``dtype=``
    write option (reference: project.py:757-801) with Spark SQL type
    strings instead of SQLAlchemy types."""
    if not dtype:
        return df
    cols = [
        F.col(c).cast(dtype[c]).alias(c) if c in dtype else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def snapshot_scd2(
    spark: SparkSession,
    staged: DataFrame,
    identifier: str,
    unique_key: str,
    *,
    strategy: str = "timestamp",
    updated_at: str | None = None,
    check_cols: list[str] | None = None,
    as_of: str | None = None,
) -> None:
    """dbt snapshot (SCD type-2) over a parquet table.

    The reference delegated snapshots to dbt's per-warehouse MERGE; on a
    parquet lake the equivalent is a history rewrite + atomic swap (the
    same pattern Delta/Iceberg's MERGE would do under the hood, minus
    file-level pruning — swap in their MERGE INTO on a real deployment
    and this function reduces to one statement).

    - ``timestamp`` strategy: a staged row replaces the live version of
      its key when ``updated_at`` is strictly newer; dbt_valid_from/to
      come from the source's own timestamps, so the history is fully
      deterministic and engine-checkable (no wall clock).
    - ``check`` strategy: a staged row replaces the live version when any
      of ``check_cols`` differs; ``as_of`` (caller-supplied, e.g. the run
      timestamp) stamps the transition boundary.

    dbt_scd_id = md5(key || '|' || valid_from) — stable across engines.
    At 100 TB: history tables should be hive-partitioned on a time
    column and the rewrite scoped to affected partitions; the whole-table
    swap here is the local-parquet rendition of that contract.
    """
    if not isinstance(unique_key, str):
        # dbt 1.9+ allows list unique_key for snapshots; this renderer
        # keys the SCD machinery on one column throughout (joins, scd_id,
        # dedup window). Fail with the workaround instead of a TypeError
        # deep inside the join builder.
        raise ValueError(
            f"snapshot {identifier}: unique_key must be a single column "
            f"name (got {unique_key!r}); for a composite key, project a "
            "concatenated key column in the snapshot's select and use that"
        )
    key = F.col(unique_key).cast("string")
    if strategy == "timestamp":
        if not updated_at:
            raise ValueError("timestamp strategy requires updated_at")
        valid_from = F.col(updated_at).cast("timestamp")
    elif strategy == "check":
        if not check_cols:
            raise ValueError("check strategy requires check_cols")
        if not as_of:
            raise ValueError("check strategy requires as_of (run timestamp)")
        valid_from = F.lit(as_of).cast("timestamp")
    else:
        raise ValueError(f"unknown snapshot strategy {strategy!r}")

    # dbt's snapshot contract assumes one staged row per unique_key;
    # duplicates would insert multiple open rows and fan out the
    # live-row-closing join. Timestamp strategy keeps the latest row per
    # key; check strategy has no ordering column, so duplicates error.
    from pyspark.sql import Window

    if strategy == "timestamp":
        # tie-break equal timestamps on a content hash so the surviving
        # row is a pure function of the data, not of shuffle order
        rn = F.row_number().over(
            Window.partitionBy(unique_key).orderBy(
                F.col(updated_at).desc(),
                F.md5(F.to_json(F.struct(*staged.columns))).asc(),
            )
        )
        staged = staged.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")
    else:
        dup = staged.groupBy(unique_key).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(
                f"snapshot {identifier}: staged select has duplicate "
                f"unique_key {unique_key}={dup[0][0]!r} (check strategy "
                f"requires one row per key)"
            )

    def _with_meta(df: DataFrame, vf) -> DataFrame:
        return (
            df.withColumn("dbt_valid_from", vf)
            .withColumn("dbt_valid_to", F.lit(None).cast("timestamp"))
            .withColumn(
                "dbt_scd_id",
                F.md5(F.concat_ws("|", key, F.col("dbt_valid_from").cast("string"))),
            )
        )

    if not spark.catalog.tableExists(identifier):
        write_table(_with_meta(staged, valid_from), identifier, mode="overwrite")
        return

    existing = spark.table(identifier)
    live = existing.filter(F.col("dbt_valid_to").isNull())
    closed_history = existing.filter(F.col("dbt_valid_to").isNotNull())

    staged_meta = _with_meta(staged, valid_from)
    lk = f"__live_{unique_key}"
    live_keyed = live.select(
        F.col(unique_key).alias(lk),
        F.col("dbt_valid_from").alias("__live_from"),
        *[F.col(c).alias(f"__live_{c}") for c in (check_cols or [])],
    )
    joined = staged_meta.join(
        live_keyed, staged_meta[unique_key] == live_keyed[lk], "left"
    )
    if strategy == "timestamp":
        is_change = F.col("__live_from").isNotNull() & (
            F.col("dbt_valid_from") > F.col("__live_from")
        )
    else:
        diff = None
        for c in check_cols:
            term = ~F.col(c).eqNullSafe(F.col(f"__live_{c}"))
            diff = term if diff is None else (diff | term)
        is_change = F.col("__live_from").isNotNull() & diff
    is_new = F.col("__live_from").isNull()
    inserts = joined.filter(is_new | is_change).select(staged_meta.columns)

    # close the live rows superseded by a change
    chg = joined.filter(is_change).select(
        F.col(lk).alias("__k"), F.col("dbt_valid_from").alias("__new_from")
    )
    live_updated = (
        live.join(chg, live[unique_key] == F.col("__k"), "left")
        .withColumn(
            "dbt_valid_to",
            F.when(F.col("__k").isNotNull(), F.col("__new_from")).otherwise(
                F.col("dbt_valid_to")
            ),
        )
        .drop("__k", "__new_from")
    )
    result = closed_history.unionByName(live_updated).unionByName(inserts)
    replace_relation_atomic(spark, result, identifier)
