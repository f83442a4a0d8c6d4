"""Parquet sinks/sources (SURVEY.md §2.1 S8-S12).

Partitioned overwrite + pruned reads are the storage backbone:
`df.write.partitionBy("date").parquet(...)` (revenue_analysis/
main.ipynb:298) and filter-on-partition-column reads that Catalyst
prunes to single directories (cell cf747d35). Snappy is Spark's
default codec, matching generate_fuel_exports.py:202.

Scale: dynamic partition overwrite replaces only touched partitions
(the incremental materialization primitive used by plans.model_dag);
sortWithinPartitions gives MergeTree-style clustering for read
locality (fct_orders.sql:13-15 order_by analog).

This module is also the one owner of the path-based store lifecycle
every store family (fingerprint, band, cell, ingest, CDC table) uses:
the writer lease, the rewrite-and-swap with its recovery, and the
JSON sidecars kept beside the data.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    dynamic: bool = False,
    cluster_by: Sequence[str] | None = None,
) -> None:
    """S8: partitioned parquet write; dynamic=True overwrites only the
    partitions present in df (incremental delete+insert semantics)."""
    writer = df
    if cluster_by:
        writer = df.sortWithinPartitions(*cluster_by)
    w = writer.write.mode(mode)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*partition_cols).parquet(path)


def read_pruned(
    spark: SparkSession, path: str, **partition_filters
) -> DataFrame:
    """S9: read the dataset root and filter on partition columns —
    Catalyst prunes to the matching directories (verified by
    PartitionFilters in the scan node, see tests)."""
    df = spark.read.parquet(path)
    for col, val in partition_filters.items():
        df = df.filter(df[col] == val)
    return df


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """spark.read.parquet(path), or None when the dataset doesn't
    exist yet — the one absent-store probe of the incremental stores
    and the upsert sink. Existence is decided by SPARK'S filesystem
    resolution, not driver-local os.path: an os.path.exists probe
    reports False for every non-local URI (s3a://, hdfs://, abfs://),
    which made a populated remote store read as "no store yet" — every
    previously-seen document then survives dedup (or every replayed
    upsert appends) twice. An existing but EMPTY directory (created,
    no increment committed) also reads as None. Any other analysis
    error (e.g. conflicting directory structures) propagates."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def local_store_path(path: str) -> str | None:
    """Driver-local directory of a store `path`: schemeless paths
    unchanged, ``file://`` URIs with the scheme stripped (Spark's
    writers accept them, plain open()/os.path do not), None for remote
    URIs (s3a://, hdfs://, …) where the driver has no POSIX view. The
    lease file and every sidecar are located through this one rule."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme == "":
        return path
    if parsed.scheme == "file":
        return parsed.path or "/"
    return None


def _require_local_swap_path(path: str, op: str) -> None:
    """The rename-aside swap (swap_in/recover_swap) is POSIX os.replace
    and the file listings are os.listdir — reject URI paths up front
    instead of dying mid-protocol with a confusing FileNotFoundError
    after work was already done."""
    from urllib.parse import urlparse

    if urlparse(path).scheme:
        raise ValueError(
            f"{op} requires a driver-local path (got {path!r}): the "
            "crash-safe swap is POSIX renames, which URIs (s3a/hdfs/"
            "abfs — and file://, pass the plain path) don't support; "
            "compact remote tables with a transactional format's "
            "OPTIMIZE"
        )


class ConcurrentWriterError(RuntimeError):
    """Another process/thread holds the writer lease on this store.

    Every path-based persistent store (fingerprint, LSH-band, cell and
    ingest stores, and the tables the rewrite-and-swap ops maintain)
    is SINGLE-WRITER. The r16 race probe showed two barrier-released
    appends of a 100-row increment leave 197 rows — duplicates from
    the double-commit AND rows LOST outright, because both jobs share
    `path/_temporary` and one FileOutputCommitter's cleanup deletes
    the other's in-flight task files; an append racing a compaction
    lands its files in the directory the swap then parks and deletes.
    So every mutator runs its whole read-check-write sequence under
    store_writer_lease, and a second writer gets this error up front
    instead of a torn store. The staged-snapshot checks of the
    rewrite-and-swap (rewrite_store) stay as a tripwire for writers
    that bypass the mutators — notably streaming_dedup_ingest's batch
    commit, which is deliberately unleased (failing a production batch
    in favor of maintenance would be backwards). Remote store URIs
    have no flock: there this paragraph is the contract (a
    transactional table format or conditional puts are the real
    mechanism at that layer). Serialize your writers."""


LEASE_SUFFIX = ".__lease"


def _lease_file(path: str) -> str | None:
    """Sibling lease file for a store path (survives the rename-aside
    swap, which renames the store DIRECTORY), or None for remote URIs
    where POSIX flock doesn't exist."""
    local = local_store_path(path)
    return None if local is None else local.rstrip("/") + LEASE_SUFFIX


def store_writer_lease(path: str, op: str):
    """Exclusive writer lease for a path-based store — the
    enforcement half of the single-writer contract (see
    ConcurrentWriterError).

    POSIX `flock(LOCK_EX | LOCK_NB)` on a sibling `<path>.__lease`
    file: kernel-owned, so a crashed writer's lease releases the
    moment its process dies — no stale-TTL takeover logic, no
    leftover lock to clean up. flock conflicts between two open file
    descriptions even within one process, so two threads of one
    driver are serialized the same as two drivers (and a lease must
    never be nested on one path). A held lease makes the SECOND
    writer raise ConcurrentWriterError immediately (fail-loud, not
    queue: the blocked writer's increment would otherwise commit
    after an arbitrarily long silent wait, and for compaction-vs-
    append the right answer is 'retry after the maintenance window',
    a caller decision).

    Remote store URIs (s3a://, hdfs://) yield WITHOUT enforcement.
    Context manager; the lease file itself is leading-punctuation-
    named so every data-file listing (snapshot_data_files, the
    parquet scan) already ignores it."""
    import fcntl
    import time

    @contextlib.contextmanager
    def _lease():
        lf = _lease_file(path)
        if lf is None:
            yield
            return
        parent = os.path.dirname(os.path.abspath(lf))
        os.makedirs(parent, exist_ok=True)
        fd = os.open(lf, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                try:
                    holder = os.pread(fd, 4096, 0).decode(
                        "utf-8", "replace"
                    )
                except OSError:
                    holder = "<unreadable>"
                raise ConcurrentWriterError(
                    f"{op}: another writer holds the lease on "
                    f"{path} (holder: {holder or '<unknown>'}). The "
                    "path-based stores are single-writer — racing "
                    "appends double-commit AND lose in-flight task "
                    "files (shared _temporary); an append racing a "
                    "compaction strands its batch. Retry after the "
                    "current writer finishes."
                ) from None
            os.ftruncate(fd, 0)
            os.pwrite(
                fd,
                json.dumps(
                    {"op": op, "pid": os.getpid(),
                     "acquired_at": time.time()}
                ).encode(),
                0,
            )
            yield
        finally:
            os.close(fd)  # closes the description → releases the lock

    return _lease()


@contextlib.contextmanager
def swap_lease(path: str, op: str):
    """The lease of a rewrite-and-swap op: reject URI paths up front
    (the swap is POSIX renames), then hold store_writer_lease over the
    op's whole body — listing, staging read, rewrite and swap."""
    _require_local_swap_path(path, op)
    with store_writer_lease(path, op):
        yield


def read_sidecar(path: str, name: str) -> dict | None:
    """The store's `name` sidecar — a leading-underscore JSON file
    beside the data, invisible to the parquet scan — or None when the
    store has none or is remote (callers treat None as the
    pre-sidecar contract and skip their check)."""
    local = local_store_path(path)
    if local is None:
        return None
    try:
        with open(os.path.join(local, name)) as fh:
            return json.load(fh)
    except (FileNotFoundError, NotADirectoryError):
        return None


def write_sidecar(path: str, name: str, payload: dict) -> None:
    """Write the store's `name` sidecar atomically (tmp file, then
    os.replace): a crash mid-write leaves the previous sidecar, never a
    truncated file the next read would fail on. Skipped for remote
    URIs (the documented degradation). On a driver-local path —
    file:// included — an OSError PROPAGATES: swallowing it would
    silently disable the check the sidecar feeds."""
    local = local_store_path(path)
    if local is None:
        return
    target = os.path.join(local, name)
    with open(target + ".tmp", "w") as fh:
        json.dump(payload, fh, indent=0, sort_keys=True)
    os.replace(target + ".tmp", target)


def data_files(path: str, recursive: bool = True) -> list[str]:
    """Sorted paths of the parquet data files of the dataset at `path`
    — the one parquet file lister (the rewrite ops' stats, the
    catalog's freshness key and footer probe). A single-file `path`
    lists itself; a directory lists its *.parquet files at any depth
    (Hive partition subdirectories included), or top-level files only
    with ``recursive=False``, skipping `_`/`.` names (_SUCCESS, .crc,
    _temporary, sidecars). A missing `path` raises FileNotFoundError.
    (snapshot_data_files deliberately keeps _temporary in view instead:
    the tripwire must see in-flight commits.)"""
    path = path.rstrip("/")
    if os.path.isfile(path):
        return [path]

    def fail(err: OSError) -> None:
        raise err

    out = []
    for root, dirs, files in os.walk(path, onerror=fail):
        dirs[:] = [
            d for d in dirs if recursive and not d.startswith(("_", "."))
        ]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return sorted(out)


# Test seam for the pre-swap tripwire: called (with the store path)
# just before the concurrent-writer check so a test can deterministically
# inject a "commit" into the race window. Never set in production.
_pre_swap_test_hook = None

# Second seam: called (with the store path) inside swap_in BEFORE the
# park rename — i.e. AFTER check_no_concurrent_writer passed — so a
# test can inject a commit into the residual window the pre-check
# cannot see and prove the post-park verification trips on it.
_post_check_test_hook = None


def snapshot_data_files(path: str) -> frozenset:
    """Relative paths of every data file under `path` — the staging
    snapshot for the pre-swap concurrent-writer tripwire. Part-file
    names are unique per Spark write (UUIDs), so ANY concurrent
    commit — new partition or append into an existing one — changes
    this set."""
    norm = path.rstrip("/")
    out = set()
    for root, _dirs, files in os.walk(norm):
        rel = os.path.relpath(root, norm)
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.add(os.path.join(rel, f))
    return frozenset(out)


def check_no_concurrent_writer(
    path: str, staged: frozenset, op: str, tmp: str | None = None
) -> None:
    """Abort the swap if the live store changed since the staging
    read. Without this check a batch committed between the staging
    read and the rename SILENTLY VANISHES in the swap — the one
    data-loss shape the rename-aside protocol cannot see on its own.
    Cheap (one os.walk) relative to the rewrite it guards. On trip:
    the staged tmp copy is deleted and the live store is left
    untouched."""
    if _pre_swap_test_hook is not None:
        _pre_swap_test_hook(path)
    now = snapshot_data_files(path)
    if now != staged:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
        added = sorted(now - staged)[:5]
        removed = sorted(staged - now)[:5]
        raise RuntimeError(
            f"{op}: {path} changed between the staging read and the "
            f"swap (files added: {added}, removed: {removed}) — a "
            "concurrent writer committed mid-compaction and its data "
            "would have vanished in the swap. Aborted; the live store "
            "is untouched and the staged copy was discarded. Run "
            f"{op} between triggers / in a maintenance window."
        )


def rewrite_store(
    path: str, op: str, write, tmp_suffix: str = "__compact"
) -> None:
    """The ONE rewrite-and-swap sequence, for every op that replaces a
    store with a rewritten copy of itself (compaction, z-order, the
    cell/ingest compactions, the streaming CDC merge). Call it under
    swap_lease(path, op):

    1. snapshot the live data files (the staged set);
    2. ``write(tmp)`` stages the new version at ``<path>.<tmp_suffix>``
       — it must read the store itself, AFTER the snapshot;
    3. carry every ``_*.json`` sidecar (normalization stamp, store
       meta) into tmp: they are invisible to the parquet scan, so the
       swap would otherwise drop them and a stamped store would
       silently degrade to the unstamped contract;
    4. check_no_concurrent_writer, then swap_in(staged=) — a commit
       landing in either window aborts loudly with the store intact.

    Every crash point leaves a complete dataset that recover_swap
    knows how to finish from."""
    norm = path.rstrip("/")
    tmp = f"{norm}.{tmp_suffix}"
    staged = snapshot_data_files(norm)
    write(tmp)
    for f in os.listdir(norm):
        if f.startswith("_") and f.endswith(".json"):
            shutil.copyfile(os.path.join(norm, f), os.path.join(tmp, f))
    check_no_concurrent_writer(norm, staged, op, tmp)
    swap_in(tmp, norm, staged=staged, op=op)


def _rewrite_sized(
    spark: SparkSession, path: str, op: str, target_file_bytes: int, write
) -> dict:
    """A flat store rewritten into ceil(on-disk bytes / target) files
    by ``write(df, tmp, n_out)`` — compact_parquet and z-order
    optimize_table. Counts top-level files only: a partitioned layout
    has none there and is left alone (compact each partition
    directory). An EXISTING-but-empty dir is a zero-stat no-op; a
    MISSING path raises FileNotFoundError (an empty store is a normal
    pre-first-commit state, a missing one is a caller mistake)."""
    import math

    with swap_lease(path, op):
        before = data_files(path, recursive=False)
        if not before:
            return {"files_before": 0, "files_after": 0, "bytes": 0}
        total = sum(os.path.getsize(f) for f in before)
        n_out = max(1, math.ceil(total / target_file_bytes))
        rewrite_store(
            path, op, lambda tmp: write(spark.read.parquet(path), tmp, n_out)
        )
        return {
            "files_before": len(before),
            "files_after": len(data_files(path, recursive=False)),
            "bytes": total,
        }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    shuffle: bool = False,
) -> dict:
    """Small-files compaction: rewrite a parquet directory into
    ~target-size files. The maintenance twin of the many-small-files
    scan (S1): streaming sinks and per-batch appends accrete KB-scale
    files whose per-file open/footer cost eventually dominates scans.

    n_out = ceil(on-disk bytes / target_file_bytes). Default path is
    coalesce (no shuffle — each output file concatenates input splits;
    row order within files may differ run-to-run but content is
    identical); shuffle=True uses repartition for evenly-sized files
    when the inputs are skewed. Crash-safe swap (rewrite_store): the
    compacted copy writes to `<path>.__compact`, the original is
    renamed aside to `<path>.__old`, the copy takes its place, then
    the old dir is removed — every crash point leaves a COMPLETE
    dataset under a predictable name (recover_swap finishes it).

    Returns {"files_before", "files_after", "bytes"}. NOT for
    partitioned layouts (compact each partition directory); the swap
    is not concurrent-reader-safe — a reader spanning the swap sees
    an old-or-new mix per partition or a mid-scan
    FileNotFoundException (see swap_in's CONCURRENT-READER VISIBILITY
    note) — run in the maintenance window, like any
    non-transactional lakehouse compaction. Empty and missing paths:
    see _rewrite_sized (pinned in tests/test_store_lifecycle_edges.py).
    """

    def write(df: DataFrame, tmp: str, n_out: int) -> None:
        sized = df.repartition(n_out) if shuffle else df.coalesce(n_out)
        sized.write.mode("overwrite").parquet(tmp)

    return _rewrite_sized(
        spark, path, "compact_parquet", target_file_bytes, write
    )


def swap_in(
    tmp: str, path: str, staged: frozenset | None = None, op: str = "swap_in"
) -> None:
    """Commit a fully-written `tmp` dataset to `path` via the
    rename-aside protocol (the ONE shared implementation — the
    ordering is crash-sensitive and `recover_swap` assumes exactly
    these states): park the current dataset at `.__old`, rename tmp
    in, drop the parked copy. Every crash point leaves a complete
    dataset at a name recover_swap knows how to finish from.
    DRIVER-LOCAL paths only (POSIX os.replace); callers reach it
    through rewrite_store under swap_lease, which rejects URIs.

    `staged` (the snapshot_data_files set the rewrite was staged
    from) closes the concurrent-writer race the PRE-swap check
    (check_no_concurrent_writer) can only narrow: after the park
    rename freezes the live store, the parked copy is re-verified
    against `staged`. A writer that committed in the check→rename
    window is now visible in the parked set — the swap ROLLS BACK
    (original restored, late batch included, staged tmp discarded)
    and raises. A writer that instead recreates `path` after the park
    makes the second rename fail ENOTEMPTY with both datasets intact.
    Either way a late commit can no longer vanish silently — it
    aborts loudly with the store recoverable.

    CONCURRENT-READER VISIBILITY (r15, documented limitation): the
    single-writer guarantees above protect WRITERS only. A reader
    whose job spans the swap lists files per partition as it goes, so
    it can observe old files for partitions read before the rename
    and new files after — a mixed old/new view, or
    FileNotFoundException if a listed old file is deleted mid-scan.
    This is inherent to directory-rename swaps on a plain filesystem
    (no snapshot isolation without a table format); run the swap
    family in a maintenance window or behind an external
    reader-drain, same as any non-transactional lakehouse compaction.
    """
    norm = path.rstrip("/")
    old = norm + ".__old"
    if _post_check_test_hook is not None:
        _post_check_test_hook(norm)
    shutil.rmtree(old, ignore_errors=True)
    os.replace(norm, old)
    if staged is not None:
        parked = snapshot_data_files(old)
        if parked != staged:
            os.replace(old, norm)  # ENOTEMPTY here ⇒ both dirs kept
            shutil.rmtree(tmp, ignore_errors=True)
            added = sorted(parked - staged)[:5]
            removed = sorted(staged - parked)[:5]
            raise RuntimeError(
                f"{op}: {path} changed between the staging read and "
                f"the swap (files added: {added}, removed: {removed}) "
                "— a concurrent writer committed inside the swap "
                "window and its data would have vanished. Rolled "
                "back: the live store is restored (late batch "
                "included) and the staged copy was discarded. Run "
                f"{op} between triggers / in a maintenance window."
            )
    os.replace(tmp, norm)
    shutil.rmtree(old)


def recover_swap(path: str, tmp_suffixes: tuple[str, ...] = ("__compact", "__merge")) -> str:
    """Recovery for the rename-aside swap protocol (rewrite_store),
    under the store's swap_lease — recovery racing a live writer
    would finish or roll back a swap under its feet.

    Crash states and actions (every state holds ≥1 COMPLETE dataset):
    - `path` present → swap finished (or never started): delete any
      leftover `.__old`/tmp dirs, return "intact".
    - `path` missing, tmp present WITH Spark's _SUCCESS marker → the
      crash hit between the two renames; the tmp copy is the complete
      NEW version: finish the swap, drop `.__old`, return
      "completed_swap".
    - `path` missing, only `.__old` present (or tmp incomplete) →
      crash hit mid-write or before the second rename with a torn tmp:
      restore the original, drop the torn tmp, return "rolled_back".
    """
    with swap_lease(path, "recover_swap"):
        return _recover_torn_swap(path, tmp_suffixes)


def _recover_torn_swap(path: str, tmp_suffixes: tuple[str, ...]) -> str:
    """recover_swap's state machine, for a caller that already holds
    the store's lease (streaming_cdc_apply heals and merges under one
    lease; a nested lease would conflict with its own)."""
    norm = path.rstrip("/")
    old = norm + ".__old"
    tmps = [norm + "." + s for s in tmp_suffixes]
    if os.path.exists(norm):
        state = "intact"
    elif complete := [
        t for t in tmps if os.path.exists(os.path.join(t, "_SUCCESS"))
    ]:
        os.replace(complete[0], norm)
        state = "completed_swap"
    elif os.path.exists(old):
        os.replace(old, norm)
        state = "rolled_back"
    else:
        raise FileNotFoundError(f"no recoverable dataset for {path}")
    shutil.rmtree(old, ignore_errors=True)
    for t in tmps:
        shutil.rmtree(t, ignore_errors=True)
    return state


def delete_keys_partitioned(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
    partition_col: str,
) -> dict:
    """Targeted delete (GDPR / right-to-be-forgotten job) from a
    partitioned parquet table: rewrite ONLY the partitions that
    contain doomed keys, via dynamic partition overwrite.

    Plan: one semi-join finds the affected partition values (a few
    rows); the rewrite scans just those partitions (partition-pruned
    — the filter is on the partition column), anti-joins the doomed
    keys, and dynamically overwrites those partitions alone. The rest
    of the table keeps its files byte-identical (asserted in tests).
    At 100 TB the cost is proportional to the partitions touched, not
    the table — the same bound a Delta DELETE with partition
    predicates achieves.

    Returns {"partitions_rewritten", "rows_deleted"}.

    SINGLE-WRITER: the dynamic partition overwrite rewrites live
    partitions in place, so the whole job runs under
    store_writer_lease (ConcurrentWriterError); it needs no swap and
    works on any URI.
    """
    with store_writer_lease(path, "delete_keys_partitioned"):
        df = spark.read.parquet(path)
        # null-safe key matching throughout: a doomed NULL key must
        # delete NULL-key rows (plain equi-joins silently drop them)
        doomed = keys.select(F.col(key_col).alias("__doomed_key")).distinct()
        key_match = F.col(key_col).eqNullSafe(F.col("__doomed_key"))
        parts = [
            r[0]
            for r in df.join(doomed, key_match, "left_semi")
            .select(partition_col)
            .distinct()
            .collect()  # partition VALUES only — dim-sized by definition
        ]
        if not parts:
            return {"partitions_rewritten": 0, "rows_deleted": 0}
        # isin() never matches NULL, so a NULL partition value (the
        # __HIVE_DEFAULT_PARTITION__ directory) gets its own branch;
        # the literal isin keeps static partition pruning for the rest
        non_null = [v for v in parts if v is not None]
        cond = (
            F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        )
        if len(non_null) < len(parts):
            cond = cond | F.col(partition_col).isNull()
        affected = df.filter(cond)
        before = affected.count()
        kept = affected.join(doomed, key_match, "left_anti").localCheckpoint(
            eager=True
        )
        kept_n = kept.count()
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
        # dynamic overwrite only replaces partitions PRESENT in the
        # written frame — a partition whose every row is doomed writes
        # nothing and would silently survive. Drop those directories
        # explicitly (see remove_partition_dirs for the on-disk name
        # resolution).
        kept_parts = {
            r[0] for r in kept.select(partition_col).distinct().collect()
        }
        gone = [v for v in parts if v not in kept_parts]
        remove_partition_dirs(spark, path, partition_col, gone)
        return {
            "partitions_rewritten": len(parts),
            "rows_deleted": before - kept_n,
        }


def remove_partition_dirs(
    spark: SparkSession, path: str, partition_col: str, values: "list"
) -> int:
    """Delete the on-disk directories of the given partition VALUES,
    resolving Spark's physical names: special chars (: / % = #) are
    percent-escaped and NULL is spelled __HIVE_DEFAULT_PARTITION__,
    so a hand-built f"{col}={v}" path misses exactly the values that
    get escaped. Listing and deletion go through SPARK'S filesystem
    (not os.listdir), so the callers that pair this with a dynamic
    partition overwrite — delete_keys_partitioned's GDPR job runs
    against object stores by nature — work on any URI instead of
    succeeding the rewrite and then dying on a driver-local listing.
    Returns the number of directories removed."""
    from urllib.parse import unquote

    if not values:
        return 0
    gone_strs = {str(v) for v in values if v is not None}
    gone_null = any(v is None for v in values)
    prefix = f"{partition_col}="
    removed = 0
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        d = st.getPath().getName()
        if not d.startswith(prefix):
            continue
        raw = d[len(prefix):]
        if (raw == "__HIVE_DEFAULT_PARTITION__" and gone_null) or (
            raw != "__HIVE_DEFAULT_PARTITION__" and unquote(raw) in gone_strs
        ):
            fs.delete(st.getPath(), True)
            removed += 1
    return removed
