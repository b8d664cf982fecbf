"""Materialization strategies: how a model's DataFrame becomes a relation.

The reference delegates materialization to dbt macros + warehouse DDL
(reference: projects/adapter/src/dbt/include/fal/macros/materializations/
table.sql, atomic swap at src/fal/dbt/integration/lib.py:286-329,424-472);
here the engine owns them:

- seed        CSV → table commit
- table       table commit (create or replace)
- view        lazy temp view over the rendered SQL
- ephemeral   same as view (Catalyst inlines it; no storage)
- incremental first run full table; then append, insert_overwrite, or
              merge-by-key via anti-join + union and a table commit

This module is the only one that knows the on-disk table format. It owns
the writes (``write_table``, ``incremental_merge``, ``snapshot_scd2``),
the atomic swap (``replace_relation_atomic``), the copy-on-write version
dirs and their live pointer file, compaction (``compact_table``), vacuum
(``vacuum_table``) and re-attaching a table the catalog forgot
(``attach_live_table``). ``api.FalSpark`` calls these verbs.

One commit protocol writes every table, in the manner of Delta Lake's
log-structured commit: each write lands in a fresh external version dir
``<base>__v<uuid8>`` (``base`` is ``<database location>/<table>``), and
one record, the live pointer file, names the live version. The new
version is written through a temp table; then, under the table's commit
lock, the catalog entry is either re-pointed (SET LOCATION, when it
already describes the new files) or replaced (DROP, which removes
metadata only, then RENAME of the temp table). The previous version
stays on disk as the grace dir for in-flight readers; older ones are
vacuumed. On Delta this whole protocol is a transactional REPLACE.
Trade-off: ``DROP TABLE`` on a model table leaves its version dirs on
disk, as it always did for tables re-attached after a restart.

A commit reads table metadata from the session catalog's entry
(``_catalog_entry``: location, column signature, bucket spec,
partitioning), one py4j chain with no SQL statement, at most three
times: once before the write (existence, the base, whether SET LOCATION
may re-point the entry), once under the commit lock (the version
replaced, and the maintenance token check), and once in the trailing
vacuum (a guard against a commit that landed since). SET LOCATION
refreshes the table itself, so no separate refresh follows it.

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

Row counts: a table commit attaches a metrics-only Observation above
any exchange it adds and returns a reader of the rows written, so a
write reports its rows without a second job re-reading them.
"""

from __future__ import annotations

import collections
import json
import os
import re
import shutil
import tempfile
import threading
import time
import uuid
from pathlib import Path
from typing import Callable, NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def _fs_path(uri) -> str:
    """The decoded path of a catalog ``java.net.URI``: a local path for a
    ``file:`` or scheme-less URI, the whole URI for any other scheme."""
    text = uri.toString()
    u = urlparse(text)
    return unquote(u.path if u.scheme in ("", "file") else text)


def _new_table_base(spark: SparkSession, identifier: str) -> str:
    """Version-dir base of a table the catalog does not hold:
    ``<database location>/<table>``. The database's own location, not
    the session warehouse, since a FalSpark target pins one per schema."""
    *db, table = identifier.lower().split(".")
    catalog = spark._jsparkSession.sessionState().catalog()
    db_meta = catalog.getDatabaseMetadata(db[-1] if db else catalog.getCurrentDatabase())
    return os.path.join(_fs_path(db_meta.locationUri()), table)


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


def _parquet_writer(df: DataFrame, partition_by, bucket_by):
    """An overwriting parquet writer for ``df`` carrying the declared
    partition and bucket layout."""
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*layout_cols(partition_by))
    if bucket_by:
        n, cols = _bucket_spec(bucket_by)
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    return writer


def write_table(
    df: DataFrame,
    identifier: str,
    partition_by: str | None = None,
    bucket_by: dict | None = None,
    sort_by: str | None = None,
) -> Callable[[], int]:
    """Eager write of ``df`` as table ``identifier``, created or replaced
    by the one table commit (see ``replace_relation_atomic``) — the write
    boundary forces materialization, matching the reference's eager
    write_to_* semantics (SURVEY §7 risk note).
    ``partition_by`` lays the table out hive-partitioned (the 100 TB
    contract: partition pruning + per-partition overwrite both need it).
    ``bucket_by`` = {"cols": "k1,k2", "n": 32} hash-buckets (and sorts)
    the table on its join key — every later equi-join between tables
    bucketed the same way reads co-partitioned data and plans with ZERO
    shuffle exchanges (asserted by tests/test_bucketing.py).
    ``sort_by`` range-clusters files for min/max data skipping
    (see _range_cluster); with no layout the output is sized (_sized).
    Returns a reader of the rows written (see count_rows)."""
    return _commit(df.sparkSession, df, identifier, partition_by, bucket_by, sort_by)


# the suffix of a copy-on-write version dir, ``<table>__v<uuid8>``
_VERSION_RE = re.compile(r"__v[0-9a-f]{8}$")

# Per-table commit locks: a maintenance verb (compact) and a model
# rebuild racing on the SAME table must serialize their check-then-commit
# sections, or last-writer-wins silently replaces
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

# insert_overwrite sets the session-wide partitionOverwriteMode around its
# write (insertInto ignores a per-write option: it overwrote statically).
# Two such writes sharing a session must not interleave: a write whose
# conf another merge already restored to static truncates every partition
# outside its batch. Same single-driver scope as _FLIP_LOCKS.
_OVERWRITE_MODE_LOCK = threading.Lock()


def inflight_version_dirs() -> set[str]:
    """Snapshot of version dirs currently being written in this process
    — vacuum callers union this into their keep set."""
    with _INFLIGHT_LOCK:
        return set(_INFLIGHT_DIRS)


class ConcurrentRebuildError(RuntimeError):
    """The table's live version moved between a maintenance verb's read
    and its commit — the verb aborts instead of overwriting the newer
    rebuild (optimistic concurrency, Delta's commit-conflict analogue)."""


class _TableEntry(NamedTuple):
    """What the session catalog records of a table."""

    location: str | None  # filesystem path; None for a view
    columns: tuple[tuple[str, str], ...]  # (name, simpleString type), in order
    buckets: tuple[int, tuple[str, ...]] | None  # (num_buckets, bucket_cols)
    partitioned: bool


def _signature(schema: StructType) -> tuple[tuple[str, str], ...]:
    """(name, simpleString type) per column. Nullability differs freely
    between plans (nested nullability too, which simpleString strips):
    only a name or type change makes a table's schema stale."""
    return tuple((f.name, f.dataType.simpleString()) for f in schema.fields)


def _catalog_entry(spark: SparkSession, identifier: str) -> _TableEntry | None:
    """The session catalog's entry for ``identifier``, None when it holds
    no such table: the one reader of table metadata in this module. One
    py4j chain against the session catalog, with no SQL statement and no
    plan analysis. A session without one (Spark Connect) fails here."""
    state = spark._jsparkSession.sessionState()
    catalog = state.catalog()
    name = state.sqlParser().parseTableIdentifier(identifier)
    if not catalog.tableExists(name):
        return None
    meta = catalog.getTableMetadata(name)
    uri = meta.storage().locationUri()
    spec = meta.bucketSpec()
    if spec.isDefined():
        spec = spec.get()
        buckets = (spec.numBuckets(), tuple(spec.bucketColumnNames().mkString("\0").split("\0")))
    else:
        buckets = None
    return _TableEntry(
        location=_fs_path(uri.get()) if uri.isDefined() else None,
        columns=_signature(StructType.fromJson(json.loads(meta.schema().json()))),
        buckets=buckets,
        partitioned=meta.partitionColumnNames().nonEmpty(),
    )


def _table_location(spark: SparkSession, identifier: str) -> str | None:
    """Filesystem path of a table's current location, None if absent."""
    entry = _catalog_entry(spark, identifier)
    return entry.location if entry else None


def table_exists(spark: SparkSession, identifier: str) -> bool:
    """Does the session catalog hold table ``identifier``?"""
    return _catalog_entry(spark, identifier) is not None


def _swap_token(loc: str | None):
    """The swap token of a table at ``loc`` (see ``table_swap_token``)."""
    if loc is None:
        return None
    try:
        mtime = os.path.getmtime(loc)
    except OSError:
        mtime = None
    return (loc, mtime)


def table_swap_token(spark: SparkSession, identifier: str):
    """Opaque version token for optimistic read-then-replace:
    (location, local-dir mtime). Every commit mints a fresh ``__v`` dir,
    so the location names the committed version; the mtime catches
    in-place writes that bypass the commit (incremental appends and
    insert_overwrite write into the live dir). None for an absent
    table; the mtime is None for a non-local location."""
    return _swap_token(_table_location(spark, identifier))


def _re_sub_version(loc: str) -> str:
    """Strip the ``__v<uuid8>`` suffix off a version-dir path."""
    return _VERSION_RE.sub("", loc.rstrip("/"))


# Optional time-based retention for version dirs (Delta VACUUM's
# retention-check analogue): version dirs modified within the last N
# seconds are never deleted, so a reader whose scan spans several rapid
# rebuilds keeps its file set. Default 0 = keep-live-plus-grace only
# (test-friendly); production deployments with long scans should set it
# to at least the longest expected scan duration.
RETAIN_CONF = "spark.falspark.vacuum.retainSeconds"


def _live_pointer_path(base: str) -> str:
    """Sidecar file recording the live version dir (written by each
    table commit). '_'-prefixed so a parquet reader listing the parent
    never sees it as data; a plain file so _vacuum_versions (dirs only)
    never removes it."""
    return os.path.join(os.path.dirname(base), f"_{os.path.basename(base)}.__live__")


def _write_live_pointer(base: str, loc: str) -> None:
    """Atomically persist the live location (tmp file + rename) as one
    line: the version dir's NAME, not its path. Every version is a
    sibling of ``base``, so a copied or restored warehouse resolves the
    pointer inside itself.

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
            f.write(os.path.basename(loc.rstrip("/")))
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
    as a sibling of ``base``. Older pointer files parse the same way:
    an absolute path resolves by its last component, and a second line
    (a per-commit nonce once written there) is ignored."""
    try:
        with open(_live_pointer_path(base)) as f:
            name = os.path.basename(f.readline().strip().rstrip("/"))
    except OSError:
        return None
    return os.path.join(os.path.dirname(base), name) if name else None


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
    deferred ref into another warehouse. The live pointer each table
    commit writes names it. Without a usable pointer (tables written
    before pointers existed, whose un-suffixed dir counts as a version)
    the newest version dir holding committed parquet wins — which can
    pick a version that wrote its files but crashed before its commit,
    the gap the pointer closes. None when no dir has data."""
    base = os.path.join(db_dir, name)
    ptr = _read_live_pointer(base)
    if ptr is not None and os.path.isdir(ptr) and _has_committed_parquet(Path(ptr)):
        return str(Path(ptr).resolve())
    live = [Path(d) for d in _version_dirs(base) if _has_committed_parquet(Path(d))]
    return str(max(live, key=lambda p: p.stat().st_mtime).resolve()) if live else None


def attach_live_table(spark: SparkSession, identifier: str, db_dir: str | Path) -> bool:
    """Register ``identifier`` (``<schema>.<table>``) at its live version
    dir under ``db_dir`` when the catalog does not hold it — after a
    process restart, or for a deferred ref into another warehouse. A
    hive-partitioned table gets its partitions recovered from the dir
    layout: a bare CREATE TABLE ... LOCATION registers the partition
    columns but no partitions, so the table would read 0 rows. Returns
    whether the catalog holds the table now."""
    if table_exists(spark, identifier):
        return True
    loc = live_version_dir(db_dir, identifier.lower().split(".")[-1])
    if loc is None:
        return False
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_q(identifier.split('.')[0])}")
    spark.sql(f"CREATE TABLE IF NOT EXISTS {_q(identifier)} USING parquet LOCATION '{loc}'")
    if _catalog_entry(spark, identifier).partitioned:
        spark.sql(f"ALTER TABLE {_q(identifier)} RECOVER PARTITIONS")
    return True


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
    too (slow-reader cover). When ``keep`` already holds every version
    dir, as after a table's first commit, nothing can be removed and
    the catalog is not read."""
    kept = {os.path.abspath(k) for k in keep if k}
    if all(os.path.abspath(d) in kept for d in _version_dirs(base)):
        return 0
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
    _replace_relation) AND against concurrent readers. It is the one
    table commit every write takes (``write_table`` too):

    - The new version is written to a fresh external sibling directory
      ``<base>__v<uuid8>`` through a temp table. No live file is
      touched.
    - Under the table's commit lock, ONE catalog change makes it live.
      When the catalog entry already describes the new files (same
      columns and types, same bucket spec, no partitions on either
      side), ``ALTER TABLE ... SET LOCATION`` re-points it. Otherwise
      (a new table, ``partition_by``, a schema or bucket change) the
      entry is dropped — metadata only, as every table this module
      writes is external — and the temp table is renamed into its place;
      an external table keeps its location, registered partitions and
      bucket spec across the rename. Between the DROP and the RENAME
      the name resolves to no table; a reader that resolved it before
      keeps scanning its files.
    - SET LOCATION refreshes the table itself (Spark's command calls
      ``Catalog.refreshTable``): a new reference reads the new files, a
      DataFrame resolved before keeps the files it listed, and a cached
      table is uncached.
    - The live pointer file is rewritten to name the new version, and
      version dirs older than the one just replaced are vacuumed. In-
      flight readers keep scanning the previous version's files, left
      on disk as a one-version grace window, so a racing read resolves
      either the old or the new file set, never a deleted file
      (tests/test_round7_fixes.py::test_compact_concurrent_reader).

    This is the plain-parquet rendition of Delta/Iceberg snapshot
    isolation; on a transactional lakehouse it is REPLACE TABLE.

    Catalog reads per commit: one entry read before the write, one under
    the lock, one in the vacuum (see ``_catalog_entry``). Catalog
    statements: the temp table's create, then SET LOCATION and the temp
    table's drop, or DROP and RENAME.

    ``bucket_by``/``sort_by``/``partition_by`` carry the declared layout
    through the swap — a rebuild that silently flattened a partitioned
    or bucketed table would void the partition-pruning /
    zero-shuffle-join contract the model config declared.

    ``expected_token`` (maintenance verbs): optimistic
    concurrency for read-then-replace callers. compact_table rewrites the
    data it READ — if another writer commits between that read and this
    swap, committing anyway would silently replace the newer rebuild with
    recompacted stale data (lost update). Passing the
    ``table_swap_token`` the caller captured before reading makes the
    commit conditional: the check and the commit run under a per-table
    lock (_FLIP_LOCKS — model rebuilds take the same lock, so
    in-process check-then-commit is atomic), and a moved token raises
    ConcurrentRebuildError after cleaning up the never-made-live
    version directory. Rebuilds themselves pass None: the model's own
    output is the newest truth regardless of what it read.

    Returns a reader of the rows written (see count_rows)."""
    return _commit(spark, df, identifier, partition_by, bucket_by, sort_by, expected_token)


def _commit(
    spark: SparkSession,
    df: DataFrame,
    identifier: str,
    partition_by: str | None,
    bucket_by: dict | None,
    sort_by: str | None,
    expected_token: tuple | None = None,
) -> Callable[[], int]:
    """The table commit behind ``write_table`` and
    ``replace_relation_atomic`` (the protocol is described there)."""
    # observed above any exchange _shape adds: a range exchange runs its
    # input twice (sampling, then the shuffle), which would double a
    # count taken below it
    df, rows = count_rows(_shape(df, partition_by, bucket_by, sort_by))
    entry = _catalog_entry(spark, identifier)
    # the base (the location minus its version suffix) is the same for
    # every version, so a commit racing this write cannot move it
    pre_loc = entry.location if entry else None
    base = _re_sub_version(pre_loc) if pre_loc else _new_table_base(spark, identifier)
    new_loc = f"{base}__v{uuid.uuid4().hex[:8]}"
    tmp = f"{identifier}__f__{uuid.uuid4().hex[:8]}"
    # SET LOCATION keeps the catalog entry, so it must already describe
    # the new files: same column signature, same bucket spec. Per-
    # partition locations cannot be re-pointed, and a table re-attached
    # after a restart has no bucket spec.
    reuse = (
        entry is not None
        and not partition_by
        and not entry.partitioned
        and entry.columns == _signature(df.schema)
        and entry.buckets == _bucket_spec(bucket_by)
    )
    old_loc = None
    flipped = False  # the catalog references new_loc
    with _INFLIGHT_LOCK:
        _INFLIGHT_DIRS.add(new_loc)
    try:
        try:
            # the path option makes tmp EXTERNAL: dropping it (or the
            # table it replaces) removes only metadata, never files
            _parquet_writer(df, partition_by, bucket_by).option("path", new_loc).saveAsTable(tmp)
            with _FLIP_LOCKS[identifier.lower()]:
                # the version this commit replaces, read under the lock: a
                # rebuild of the same table may have committed during the
                # write, and the token check, the rollback and the
                # vacuum's keep set need the version live right before ours
                old_loc = _table_location(spark, identifier)
                if expected_token is not None and (cur := _swap_token(old_loc)) != expected_token:
                    raise ConcurrentRebuildError(
                        f"{identifier}: live version moved "
                        f"({expected_token!r} -> {cur!r}) since the "
                        "maintenance read — aborting the swap; re-run the verb "
                        "against the current version"
                    )
                if reuse:
                    # SET LOCATION refreshes the table itself: the command
                    # calls Catalog.refreshTable, which drops the cached
                    # relation and file listing
                    spark.sql(f"ALTER TABLE {_q(identifier)} SET LOCATION '{new_loc}'")
                    flipped = True
                else:
                    if old_loc is not None:
                        spark.sql(f"DROP TABLE {_q(identifier)}")
                    spark.sql(f"ALTER TABLE {_q(tmp)} RENAME TO {_q(identifier)}")
                    flipped = True
                _write_live_pointer(base, new_loc)
        except Exception:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {_q(tmp)}")
            except Exception:
                pass  # cleanup must not mask the original error
            # Only delete new_loc while the catalog does NOT reference it:
            # after a committed SET LOCATION, a failure (e.g. an interrupt
            # before the pointer write) must roll the location back to
            # old_loc first — rmtree'ing the directory the catalog points
            # at would brick every later read.
            safe_to_delete = not flipped
            if flipped and reuse and old_loc:
                try:
                    spark.sql(f"ALTER TABLE {_q(identifier)} SET LOCATION '{old_loc}'")
                    safe_to_delete = True
                except Exception:
                    pass  # rollback failed: catalog still references new_loc — keep it
            if safe_to_delete:
                shutil.rmtree(new_loc, ignore_errors=True)
            raise
    finally:
        with _INFLIGHT_LOCK:
            _INFLIGHT_DIRS.discard(new_loc)
    if reuse:
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
    """Delete a table's non-live copy-on-write version directories (each
    commit keeps ONE previous version as a grace window for in-flight
    readers; Delta's VACUUM analogue). Readers with long scans are
    additionally protected by RETAIN_CONF. A CONCURRENT rebuild is
    guarded two ways: version dirs newer than the last commit (the live
    pointer file's mtime) are skipped, so a half-written version is
    never deleted mid-commit; and because a commit can land
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
    spark: SparkSession,
    new_rows: DataFrame,
    identifier: str,
    old_cols: list[str],
    on_schema_change: str,
) -> DataFrame:
    """dbt's on_schema_change contract for incremental reruns whose model
    now produces extra columns:

    - ignore (default)      new columns silently dropped (dbt parity)
    - fail                  raise with the offending column list
    - append_new_columns    ALTER TABLE ADD COLUMNS, then proceed —
                            historical rows read the new columns as NULL

    ``old_cols`` are the table's columns, from its catalog entry.
    Returns ``new_rows`` aligned to the (possibly evolved) table schema.
    Columns the table has but the model no longer produces always fail —
    dropping data columns is never implicit."""
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
            # re-read: the added columns go before any partition columns
            old_cols = [c for c, _ in _catalog_entry(spark, identifier).columns]
        elif on_schema_change != "ignore":
            raise ValueError(
                f"{identifier}: unknown on_schema_change {on_schema_change!r}"
            )
    return new_rows.select(*old_cols)


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
    entry = _catalog_entry(spark, identifier)
    if entry is None:
        return write_table(
            new_rows, identifier, partition_by=partition_by, bucket_by=bucket_by, sort_by=sort_by
        )()
    strategy = strategy or ("merge" if unique_key else "append")
    # aligned to the table's columns from here on (insertInto is positional)
    new_rows = _evolve_schema(
        spark, new_rows, identifier, [c for c, _ in entry.columns], on_schema_change
    )
    if strategy == "append":
        batch, rows = count_rows(new_rows)
        if not (partition_by or bucket_by or sort_by):
            batch = _sized(batch)
        batch.write.mode("append").format("parquet").insertInto(identifier)
        return rows()
    if strategy == "insert_overwrite":
        if not partition_by:
            raise ValueError(f"{identifier}: insert_overwrite requires partition_by")
        batch, rows = count_rows(new_rows)
        with _OVERWRITE_MODE_LOCK:
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
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
    if sort_by and not bucket_by:
        # the swap range-clusters the union, and a range exchange runs its
        # input twice (sampling, then the shuffle): an observation on the
        # batch branch would count it twice. Count the batch (the model
        # task caches it) before the swap replaces files its plan may read.
        n = new_rows.count()
        batch, rows = new_rows, lambda: n
    else:
        batch, rows = count_rows(new_rows)
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

    if not table_exists(spark, identifier):
        write_table(_with_meta(staged, valid_from), identifier)
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
