"""Bronze-table storage: CENTER-partitioned parquet with
partition-scoped MERGE.

The reference upserts each center upload into a Synapse table
(genie/load.py:129-296) — row-level writes scoped to the upload.  The
round-1 stand-in read the WHOLE bronze table, unioned, and rewrote it
for every batch; at 100 TB that makes one center's 10 GB upload rewrite
every other center's terabytes.  Here the bronze layout is partitioned
by CENTER and a MERGE:

  1. prunes the existing side to the partitions the caller names
     (Catalyst partition pruning — other centers' files are never read);
  2. runs the join-diff upsert against that subset only;
  3. writes the merged partitions to a staging dir and swaps just those
     ``CENTER=<c>`` directories into the target.

Other centers' partition directories are untouched — not read, not
rewritten (asserted on file mtimes in tests/test_cli.py).  On a real
deployment the swap step is Delta/Iceberg ``MERGE INTO`` with dynamic
partition overwrite; the directory swap is the dependency-free parquet
equivalent with the same two-phase-safety property, and it sits behind
the ``TableCommit`` seam (prepare-staging → commit → recover) so a
Delta/Iceberg backend drops in without touching the merge logic.

Crash atomicity: the reference inherits transactional upserts from
Synapse tables (genie/load.py:129-296); a bare directory swap does
not — a kill between two partition moves would leave the table
half-old/half-new with nothing recording it.  Both swap modes here
are journaled: a manifest (``<target>.swap.json``, written atomically
via tmp-file + ``os.rename``) records the staging dir and the exact
per-partition file listing BEFORE the first move; every move is a
same-filesystem ``os.rename`` (atomic per entry); the manifest is
removed only after the last move and cleanup.  ``recover_bronze``
(called by every merge/compact/rewrite entry point and by
``read_table``) rolls an interrupted swap FORWARD from the manifest —
staging holds complete replacement partitions, so resuming the move
loop always converges to the fully-new state — and rolls BACK
(deletes) staging dirs that have no manifest, which are pre-commit
writes the crash abandoned.

Reads: ``read_table`` (``TableCommit.read``, and the CLI's warehouse,
snapshot-log and dashboard reads) takes the schema from the data
files' parquet footers on the driver (``parquet_schema``) and runs no
Spark job.  The reference's table schema is Synapse metadata, never a
scan (genie/load.py:129-296); here the footers are the metadata, and
their union is the table schema a schema-evolving partition MERGE
needs, since partitions it did not touch keep the narrower schema.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import json
import os
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from genie_spark.operators.upsert import apply_upsert

PARTITION_COL = "CENTER"

MANIFEST_SUFFIX = ".swap.json"

LOCK_SUFFIX = ".swap.lock"

# footer key under which Spark's parquet writer stores the table schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@contextlib.contextmanager
def _swap_lock(target_path: str):
    """Exclusive advisory lock serializing swap application per table.

    The manifest is live while a writer applies its own swap, and the
    CLI read path (plus any second reader) also rolls manifested swaps
    forward — without exclusion, two appliers can interleave
    ``isdir(src)`` / ``rmtree(dst)`` / ``rename(src, dst)`` so that one
    deletes the partition the other just installed and then fails
    ENOENT, losing the partition from BOTH staging and target.  Every
    apply (writer swap commit, recovery roll-forward) runs under this
    ``flock``: the kernel releases it automatically when the holder's
    fd closes, so a crashed claimant never wedges the table, and a
    blocked waiter simply resumes once the holder's apply completes
    (at which point the manifest is gone and the waiter finds nothing
    to do).  The lockfile is a sibling of the target and is never
    unlinked — removing it while a waiter holds the old inode would
    let a third process lock a fresh inode and break exclusion.
    """
    fd = os.open(target_path + LOCK_SUFFIX, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def part_files(root: str):
    """Yield (path, rel_dir) for every committed data file under
    ``root``, ``rel_dir`` being its ``k=v`` partition segments.  Names
    starting with ``_`` or ``.`` are skipped, as Spark's file index
    skips them: ``_temporary`` writer droppings, ``_txn_log``, staging
    and ``.<entry>.incoming`` claim dirs are never table data."""
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        rel = "" if dirpath == root else os.path.relpath(dirpath, root)
        for f in sorted(files):
            if not f.startswith((".", "_")) and (
                f.endswith(".parquet") or f.startswith("part-")
            ):
                yield os.path.join(dirpath, f), rel


def parquet_schema(files) -> StructType:
    """The union of the Spark schemas in the footers of ``files``, read
    on the driver: fields nullable, in first-seen order over the files
    sorted by path, names matched case-insensitively (Spark's merge
    default).  A column whose type differs between two footers raises
    ``ValueError``, as Spark's schema merge fails; so does a footer
    without Spark's schema (a file Spark did not write)."""
    import pyarrow.parquet as pq

    fields: dict[str, StructField] = {}
    for path in sorted(files):
        meta = pq.read_schema(path).metadata or {}
        if SPARK_SCHEMA_KEY not in meta:
            raise ValueError(f"{path}: parquet footer has no Spark schema")
        for f in StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY])):
            seen = fields.setdefault(f.name.lower(), StructField(f.name, f.dataType))
            # simpleString ignores nested nullability, as Spark's merge does
            a, b = seen.dataType.simpleString(), f.dataType.simpleString()
            if a != b:
                raise ValueError(f"column {f.name!r} is {a} in one file, {b} in {path}")
    return StructType(list(fields.values()))


def read_table(spark, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None iff ABSENT: no directory
    or no committed data file (an ingest that died before its first
    commit leaves only ``_temporary`` droppings).  Rolls an interrupted
    swap forward first, never back (a staging dir may be a live
    writer's).  A table that fails to read raises: as None it would
    make ``merge_into_bronze`` swap the batch OVER every other center."""
    recover_bronze(path, clean_leftovers=False)
    files = [p for p, _rel in part_files(path)]
    if not files:
        return None
    return spark.read.schema(parquet_schema(files)).parquet(path)


def _align_schemas(
    existing: DataFrame, batch: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Union-schema alignment for a MERGE (reference
    genie/process_functions.py:970-1001 ``create_missing_columns``,
    which pads an upload to the table schema with NA defaults — plus
    the reverse direction, since a center upload may also ADD columns
    the table has never seen):

    * a column only in ``existing`` joins ``batch`` as a typed null —
      upserted rows take NA there (whole-row replace, the reference's
      Synapse ``update_table`` semantics);
    * a column only in ``batch`` joins ``existing`` as a typed null —
      historical rows read NA until re-uploaded;
    * a column in both with DIFFERENT types: the batch side casts to
      the table's type (table wins; a bad value fails the job loudly
      under ANSI rather than silently nulling).

    Name matching is CASE-INSENSITIVE (Spark's own resolution default:
    a batch header ``Age`` IS the table's ``AGE`` column — treating it
    as missing would null both sides), and the batch column is
    re-aliased to the table's casing.  Built as two explicit SELECTs,
    never ``withColumn`` (whose case-insensitive resolution silently
    REPLACES a same-name-different-case column).

    Returns (existing, batch) with identical column order and casing:
    the table's order, new batch columns appended."""
    e_fields = [(f.name, f.dataType) for f in existing.schema.fields]
    b_fields = [(f.name, f.dataType) for f in batch.schema.fields]
    b_lower = {n.lower(): (n, dt) for n, dt in b_fields}
    e_lower = {n.lower() for n, _ in e_fields}
    if len(b_lower) != len(b_fields) or len(e_lower) != len(e_fields):
        raise ValueError(
            "bronze merge: a side carries columns differing only in "
            "case — ambiguous under Spark's case-insensitive resolution"
        )
    new_cols = [(n, dt) for n, dt in b_fields if n.lower() not in e_lower]
    e_select = [F.col(n) for n, _ in e_fields] + [
        F.lit(None).cast(dt).alias(n) for n, dt in new_cols
    ]
    b_select = []
    for n, dt in e_fields:
        hit = b_lower.get(n.lower())
        if hit is None:
            b_select.append(F.lit(None).cast(dt).alias(n))
        else:
            c = F.col(hit[0])
            if hit[1] != dt:
                c = c.cast(dt)
            b_select.append(c.alias(n))
    b_select += [F.col(n).alias(n) for n, _ in new_cols]
    return existing.select(*e_select), batch.select(*b_select)


def _is_partitioned_layout(target_path: str, partition_col: str) -> bool:
    if not os.path.isdir(target_path):
        return False
    return any(
        e.startswith(f"{partition_col}=") for e in os.listdir(target_path)
    )


def _entry_listing(entry_dir: str) -> dict:
    """Sorted (relpath, size) listing of one staging partition dir +
    an md5 over the rendered listing — cheap to compute (no data
    bytes read) and enough to detect a truncated/foreign staging dir
    before recovery rolls it forward over live data."""
    files = []
    for root, _dirs, names in os.walk(entry_dir):
        for n in sorted(names):
            p = os.path.join(root, n)
            files.append(
                [os.path.relpath(p, entry_dir), os.path.getsize(p)]
            )
    files.sort()
    digest = hashlib.md5(
        json.dumps(files, sort_keys=True).encode()
    ).hexdigest()
    return {"files": files, "md5": digest}


def _write_manifest(target: str, payload: dict) -> str:
    """Atomically publish the swap intent: the manifest is a sibling
    of the target (it must survive the whole-table rename), written
    to a tmp name, fsynced, then renamed into place — readers see
    either no manifest or a complete one, never a torn write."""
    path = target + MANIFEST_SUFFIX
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    # fsync the parent directory so the rename itself is durable — a
    # power loss after the data-file fsync but before the dirent
    # reaches disk would otherwise lose the manifest while keeping
    # staging, which recovery would then roll BACK (discarding a swap
    # the caller believed committed)
    dfd = os.open(os.path.dirname(os.path.abspath(path)) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    return path


def _apply_partition_swap(manifest: dict, verify: bool = False) -> None:
    """Execute (or resume) the journaled per-partition move loop.

    Idempotent, and must be called with the table's swap lock held
    (``_swap_lock``).  Each entry moves in two renames: staging →
    ``.<entry>.incoming`` (claims the replacement), then rmtree(dst) +
    ``.<entry>.incoming`` → dst.  The old partition is never deleted
    while the replacement is still at a path another pass of the loop
    could independently consume — combined with the lock this makes a
    crash at ANY point resumable: src present → start over; only
    ``.incoming`` present → finish the rmtree+rename; only dst
    present → entry already applied.
    """
    staging, target = manifest["staging"], manifest["target"]
    os.makedirs(target, exist_ok=True)
    for entry, expect in manifest["entries"].items():
        if expect.get("drop"):
            # partition committed as empty: removing the target dir IS
            # the apply; rmtree is idempotent so a resumed recovery
            # passes straight through
            shutil.rmtree(os.path.join(target, entry), ignore_errors=True)
            continue
        src = os.path.join(staging, entry)
        dst = os.path.join(target, entry)
        # dot-prefixed claim path: Spark/Hadoop scans skip entries
        # starting with '.' or '_', so a reader racing the swap never
        # sees the claimed-but-not-installed dir as a bogus partition
        incoming = os.path.join(target, f".{entry}.incoming")
        if os.path.isdir(src):
            if verify and _entry_listing(src)["md5"] != expect["md5"]:
                raise RuntimeError(
                    f"bronze swap recovery: staging partition {src} does not "
                    "match the manifest listing — refusing to roll forward a "
                    "corrupt staging dir; inspect and remove "
                    f"{target + MANIFEST_SUFFIX} manually"
                )
            # a foreign dir at the claim path can't be from this
            # protocol (src and incoming never coexist after the
            # claim rename) — clear it rather than fail the rename
            shutil.rmtree(incoming, ignore_errors=True)
            os.rename(src, incoming)
        if os.path.isdir(incoming):
            if verify and _entry_listing(incoming)["md5"] != expect["md5"]:
                raise RuntimeError(
                    f"bronze swap recovery: claimed partition {incoming} does "
                    "not match the manifest listing — refusing to roll "
                    "forward; inspect and remove "
                    f"{target + MANIFEST_SUFFIX} manually"
                )
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(incoming, dst)
        elif not os.path.isdir(dst):
            raise RuntimeError(
                f"bronze swap recovery: partition {entry} is in neither "
                f"staging ({staging}) nor target ({target}) — manifest and "
                "directories disagree; inspect manually"
            )
    shutil.rmtree(staging, ignore_errors=True)
    os.remove(target + MANIFEST_SUFFIX)


def _apply_whole_swap(manifest: dict) -> None:
    """Execute (or resume) the journaled whole-table swap: the old
    table is renamed aside (atomic), staging renamed in (atomic),
    then the old copy dropped — each step detectable, so recovery
    resumes from whichever rename the crash interrupted."""
    staging, target = manifest["staging"], manifest["target"]
    old = target + ".old"
    if os.path.isdir(staging):
        if os.path.isdir(target):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(target, old)
        os.rename(staging, target)
    shutil.rmtree(old, ignore_errors=True)
    os.remove(target + MANIFEST_SUFFIX)


def recover_bronze(target_path: str, clean_leftovers: bool = True) -> dict:
    """Detect and repair an interrupted swap at ``target_path``.

    * manifest present → roll the recorded swap FORWARD (staging holds
      complete replacement data; resuming the rename loop converges to
      the fully-new table), verifying each staging partition against
      the manifest's file listing first;
    * no manifest but staging/old-table leftovers present → roll BACK:
      a staging dir without a manifest never reached the commit point,
      and a ``.old`` dir without a manifest is post-commit litter.

    ``clean_leftovers=False`` skips the roll-BACK half: READERS pass
    this, because a manifest-less staging dir is indistinguishable
    from a live writer's in-progress ``out.write.parquet(staging)``
    (the manifest is only published at swap time) — a reader deleting
    it would destroy a concurrent merge.  Writers clean leftovers at
    entry, where they are about to overwrite the staging path anyway.
    Concurrency contract: ONE writer per bronze table at a time (the
    same assumption the staging-path naming already makes); readers
    may run concurrently.  All swap APPLICATION — a writer committing
    its own swap and any reader rolling a manifested swap forward —
    is serialized by a per-table ``flock`` (``_swap_lock``), so a
    reader that observes a live writer's manifest blocks until the
    writer finishes and then finds nothing to do, and two concurrent
    recoveries can never interleave renames over the same partition.

    Returns {"action": "rolled_forward" | "rolled_back" | "clean"}.
    Called automatically by merge/compact/rewrite (leftover-cleaning)
    and ``read_table`` (forward-only), and safe to call any time.
    """
    manifest_path = target_path + MANIFEST_SUFFIX
    if os.path.exists(manifest_path):
        # exclusive claim before applying: if a live writer (or another
        # recoverer) holds the lock, block until its apply completes,
        # then re-check — the manifest is usually gone and there is
        # nothing to do; if it is still present the holder crashed
        # between publish and apply and we roll it forward ourselves.
        with _swap_lock(target_path):
            if not os.path.exists(manifest_path):
                return {"action": "clean"}
            with open(manifest_path) as f:
                manifest = json.load(f)
            if manifest["mode"] == "whole":
                _apply_whole_swap(manifest)
            else:
                _apply_partition_swap(manifest, verify=True)
        return {"action": "rolled_forward"}
    if not clean_leftovers:
        return {"action": "clean"}
    leftovers = [
        p
        for p in (
            [target_path + ".staging", target_path + ".old"]
            + glob.glob(glob.escape(target_path) + ".compact.*")
        )
        if os.path.isdir(p)
    ]
    for p in leftovers:
        shutil.rmtree(p, ignore_errors=True)
    return {"action": "rolled_back" if leftovers else "clean"}


def _swap_whole(staging: str, target: str) -> None:
    with _swap_lock(target):
        manifest = {"mode": "whole", "staging": staging, "target": target}
        _write_manifest(target, manifest)
        _apply_whole_swap(manifest)


class TableCommit:
    """The seam between bronze MERGE logic and the table format's
    transactional machinery.  ``merge_into_bronze`` / ``compact_bronze``
    / ``rewrite_bronze`` drive ONLY this three-step protocol:

      1. ``recover(target)`` — repair any interrupted prior commit
         before reading the table;
      2. ``staging_path(target, token)`` — where the writer
         materializes the full replacement data (prepare);
      3. ``commit_whole(staging, target)`` or
         ``commit_partitions(staging, target, partition_col)`` —
         atomically install it.

    ``DirectorySwapCommit`` (the default) is the dependency-free
    single-filesystem implementation: journaled POSIX renames under a
    per-table flock (module docstring).  A Delta/Iceberg backend is a
    drop-in: ``recover`` is a no-op (the table format's own log
    subsumes it), ``staging_path`` names a temp view/table, and the
    two commits become ``MERGE INTO``/``replaceWhere`` (partition
    scope) or ``CREATE OR REPLACE TABLE`` (whole) — the merge logic
    above this seam is unchanged.
    """

    def recover(self, target_path: str, clean_leftovers: bool = True) -> dict:
        raise NotImplementedError

    def staging_path(self, target_path: str, token: str = "staging") -> str:
        raise NotImplementedError

    def commit_whole(self, staging: str, target_path: str) -> None:
        raise NotImplementedError

    def commit_partitions(
        self,
        staging: str,
        target_path: str,
        partition_col: str,
        partition_values: list | None = None,
    ) -> None:
        """``partition_values`` (optional): the explicit partition
        values this commit replaces.  A partition the writer emptied
        produces NO staging directory (Spark writes nothing for a
        zero-row partition), so a staging-derived scope would leave
        its old files live; naming it here commits it as empty."""
        raise NotImplementedError

    # Read-side half of the seam: which files ARE the table.  The
    # directory backend answers from the filesystem layout (defaults
    # below); a log-backed table answers from its version log, so the
    # merge/compact drivers must ask the backend, never the directory.

    def read(self, spark, target_path: str) -> DataFrame | None:
        """The current table as a DataFrame, or None iff absent.  The
        schema is the union of its data files' footers, read on the
        driver with no Spark job: the footers are this format's table
        metadata, and after a schema-evolving partition MERGE evolved
        columns read as nulls in partitions it did not touch."""
        return read_table(spark, target_path)

    def is_partitioned(self, target_path: str, partition_col: str) -> bool:
        return _is_partitioned_layout(target_path, partition_col)

    def partition_values(self, target_path: str, partition_col: str) -> list[str]:
        prefix = f"{partition_col}="
        if not os.path.isdir(target_path):
            return []
        return sorted(
            e[len(prefix):]
            for e in os.listdir(target_path)
            if e.startswith(prefix) and os.path.isdir(os.path.join(target_path, e))
        )

    def partition_files(
        self, target_path: str, partition_col: str, value: str
    ) -> list[str]:
        part_dir = os.path.join(target_path, f"{partition_col}={value}")
        return sorted(p for p, _rel in part_files(part_dir))


class DirectorySwapCommit(TableCommit):
    """Default backend: the journaled, flock-serialized directory swap
    defined by this module."""

    def recover(self, target_path: str, clean_leftovers: bool = True) -> dict:
        return recover_bronze(target_path, clean_leftovers)

    def staging_path(self, target_path: str, token: str = "staging") -> str:
        return f"{target_path}.{token}"

    def commit_whole(self, staging: str, target_path: str) -> None:
        _swap_whole(staging, target_path)

    def commit_partitions(
        self,
        staging: str,
        target_path: str,
        partition_col: str,
        partition_values: list | None = None,
    ) -> None:
        _swap_partitions(staging, target_path, partition_col, partition_values)


DEFAULT_COMMIT = DirectorySwapCommit()


def _swap_partitions(
    staging: str,
    target: str,
    partition_col: str,
    partition_values: list | None = None,
) -> None:
    """Move only the ``CENTER=<c>`` dirs produced in staging into the
    target, replacing same-named dirs; everything else stays put.
    Journaled (see module docstring): the manifest lists every entry
    and its file inventory before the first rename.  A value named in
    ``partition_values`` with no staging dir commits as EMPTY — its
    target dir is dropped (journaled like any other entry, so recovery
    resumes the drop too)."""
    entries: dict = {
        entry: _entry_listing(os.path.join(staging, entry))
        for entry in sorted(os.listdir(staging))
        if entry.startswith(f"{partition_col}=")
        and os.path.isdir(os.path.join(staging, entry))
    }
    for v in partition_values or []:
        name = f"{partition_col}={v}"
        if name not in entries:
            entries[name] = {"drop": True}
    manifest = {
        "mode": "partitions",
        "staging": staging,
        "target": target,
        "partition_col": partition_col,
        "entries": entries,
    }
    with _swap_lock(target):
        _write_manifest(target, manifest)
        _apply_partition_swap(manifest)


def merge_into_bronze(
    batch: DataFrame,
    target_path: str,
    keys: list[str] | None,
    partition_values: list[str] | None = None,
    partition_col: str = PARTITION_COL,
    commit: TableCommit = DEFAULT_COMMIT,
) -> None:
    """MERGE ``batch`` into the bronze table at ``target_path``.

    With ``keys``: join-diff upsert (operators.upsert.apply_upsert);
    without: append.  ``partition_values`` names the partitions the
    batch replaces, as Delta's ``replaceWhere`` does (``cmd_ingest``
    names its center): on a partitioned target only they are read and
    rewritten, and a batch row outside them raises ``ValueError``
    before the commit.  Unnamed, the MERGE rewrites the whole table,
    partitioned when both sides carry ``partition_col`` (a legacy flat
    table migrates).  The write is the only Spark action; every
    prepare/commit/recover step goes through ``commit``
    (``TableCommit``) — swap in a Delta/Iceberg backend there.
    """
    spark = batch.sparkSession
    commit.recover(target_path)
    existing = commit.read(spark, target_path)
    partitioned = partition_col in batch.columns and (
        existing is None or partition_col in existing.columns
    )
    scoped = (
        partition_values is not None
        and existing is not None
        and commit.is_partitioned(target_path, partition_col)
    )
    out = batch
    if existing is not None:
        if scoped:
            # partition pruning: other partitions' files are never read
            existing = existing.where(F.col(partition_col).isin(list(partition_values)))
        existing, batch = _align_schemas(existing, batch)
        if keys:
            # key-sorted row groups: parquet min/max stats then prune
            # row groups on key lookups, and sorted columns compress
            # better — free data-skipping at 100 TB
            out = apply_upsert(batch, existing, list(keys))
            out = out.sortWithinPartitions(*keys)
        else:
            out = existing.unionByName(batch)
    staging = commit.staging_path(target_path)
    writer = out.write.mode("overwrite")
    # scoped writes always split by partition: a batch without the
    # column then stages in the default partition, which the check refuses
    if scoped or partitioned:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging)
    if not scoped:
        commit.commit_whole(staging, target_path)
        return
    # a staged partition the caller did not name would replace that
    # partition's data.  The listing runs no Spark job; a null value
    # stages as Hive's default partition, which no named value matches.
    prefix, named = f"{partition_col}=", {str(v) for v in partition_values}
    stray = sorted(
        e
        for e in os.listdir(staging)
        if e.startswith(prefix) and unquote(e[len(prefix):]) not in named
    )
    if stray:
        raise ValueError(
            f"bronze merge into {target_path}: batch rows in {stray}, "
            f"outside the named partitions {sorted(named)}"
        )
    commit.commit_partitions(staging, target_path, partition_col)


def compact_bronze(
    spark,
    target_path: str,
    partition_col: str = PARTITION_COL,
    target_file_bytes: int = 128 * 1024 * 1024,
    centers: list[str] | None = None,
    commit: TableCommit = DEFAULT_COMMIT,
) -> dict:
    """Compact small files inside each ``CENTER=<c>`` partition.

    Every partition-scoped MERGE rewrites a partition with up to
    ``spark.sql.shuffle.partitions`` files; at 100 TB, thousands of
    upsert batches leave small-file litter that slows every scan (task
    per file, footer per file).  Compaction rewrites each partition's
    data into ``ceil(bytes / target_file_bytes)`` files via the same
    two-phase staging + per-partition swap the MERGE uses — partitions
    not selected are untouched (no read, no rewrite), and a failed
    compaction never corrupts the target.

    On Delta/Iceberg this is ``OPTIMIZE``; the directory swap is the
    dependency-free parquet equivalent (seam: ``commit``).  Returns
    per-partition {files_before, files_after} for observability.
    """
    commit.recover(target_path)
    if not commit.is_partitioned(target_path, partition_col):
        raise ValueError(f"{target_path} is not a {partition_col}-partitioned layout")
    report: dict = {}
    for value in commit.partition_values(target_path, partition_col):
        if centers is not None and value not in centers:
            continue
        entry = f"{partition_col}={value}"
        files = commit.partition_files(target_path, partition_col, value)
        size = sum(os.path.getsize(f) for f in files)
        n_target = max(1, -(-size // target_file_bytes))
        if len(files) <= n_target:
            report[value] = {"files_before": len(files), "files_after": len(files)}
            continue
        staging = commit.staging_path(target_path, f"compact.{value}")
        (
            spark.read.schema(parquet_schema(files))
            .parquet(*files)
            .coalesce(n_target)
            .write.mode("overwrite")
            .parquet(os.path.join(staging, entry))
        )
        commit.commit_partitions(staging, target_path, partition_col)
        after = len(commit.partition_files(target_path, partition_col, value))
        report[value] = {"files_before": len(files), "files_after": after}
    return report


def rewrite_bronze(
    df: DataFrame,
    target_path: str,
    partition_col: str = PARTITION_COL,
    commit: TableCommit = DEFAULT_COMMIT,
) -> None:
    """Full two-phase rewrite (used by retraction, which may touch any
    partition); keeps the partitioned layout when the column is present."""
    commit.recover(target_path)
    staging = commit.staging_path(target_path)
    writer = df.write.mode("overwrite")
    if partition_col in df.columns:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging)
    commit.commit_whole(staging, target_path)
