"""Transaction-log table backend: a versioned action log over parquet
files — the second ``TableCommit`` implementation, proving the seam.

``DirectorySwapCommit`` installs new data by MOVING directories, which
is atomic on one POSIX filesystem but (a) gives readers no snapshot —
a long scan can observe a partition vanish mid-read — and (b) has no
history.  Real lakehouse formats (the Delta Lake / Iceberg model, as
published in the Delta Lake VLDB'20 paper and the Iceberg spec) solve
both with an append-only metadata log: data files are immutable and
written once under unique names; a numbered log entry of {add, remove}
actions makes them live; readers resolve a VERSION of the log to an
exact file list, so concurrent commits never disturb a running scan;
old versions remain readable until a vacuum.

``LogCommit`` is that model, dependency-free, behind the same
``TableCommit`` protocol ``merge_into_bronze`` / ``compact_bronze`` /
``rewrite_bronze`` already drive (reference behavior: Synapse-table
transactional upserts, genie/load.py:129-296 — here re-expressed as a
table-format seam a Delta/Iceberg deployment would occupy):

- **Layout**: data files live in the standard Hive layout
  (``<table>/CENTER=A/c<uuid>-00001.parquet``); the log lives in
  ``<table>/_txn_log/<version 20-digit>.json``.  Underscore-prefixed
  paths are invisible to Spark's file index, so a naive directory read
  of the table never sees the log or a staging dir.
- **Commit** = stage parquet → move each part file to its final
  unique name → append ONE log entry naming the adds (with per-file
  row counts and column min/max stats from the parquet footers) and
  removes.  The log append is ``os.link(tmp, <next-version>.json)`` —
  link(2) fails with EEXIST instead of overwriting, which makes
  version allocation an atomic compare-and-swap: of N concurrent
  committers exactly one wins each version number.
- **Optimistic concurrency**: a loser re-reads the log; commits whose
  touched partitions are DISJOINT from every interleaved commit's
  retry with refreshed removes (two centers' uploads never block each
  other — the property the flock in the directory backend serializes
  away); overlapping commits raise ``ConcurrentWriteError`` (the
  caller re-runs its merge from a fresh snapshot, classic
  write-write-conflict semantics).
- **Snapshot isolation & time travel**: ``read_snapshot(spark, table,
  version=...)`` resolves the file list at any retained version and
  reads it with the union schema of those files' footers, taken on
  the driver (``io.bronze.parquet_schema``: no Spark job); a
  commit never unlinks data, so running scans and old-version reads
  stay valid until ``vacuum`` (which deletes only files live in NO
  retained version).
- **Data skipping**: each add action carries per-file min/max/null
  stats (read from parquet footers at commit time — metadata-only,
  no data bytes); ``read_snapshot(..., ranges=...)`` prunes files
  whose stats cannot satisfy a conjunctive range predicate before
  Spark ever lists them.  With key-sorted row groups (the bronze
  MERGE sorts within partitions by key) a key-range query reads a
  small file subset at any table size.

Crash safety: the only mutation that changes logical state is the
single log-entry link — files moved before a crash are orphans the
next ``recover`` garbage-collects (they are invisible to readers,
who only trust the log).  There is no journal to roll forward and no
window where the table is half-swapped.

Scale notes (100 TB): the log is metadata-sized (one JSON per commit,
one line per file).  Version resolution folds from the newest
CHECKPOINT at or below the requested version (a full live-set
snapshot written every ``CHECKPOINT_INTERVAL`` commits — Delta's
``_last_checkpoint`` pattern) plus the suffix of entries after it, so
replay reads O(interval) files regardless of table age; a
``_last_checkpoint`` pointer file names the newest checkpoint for
object stores where LIST is the expensive call (the local resolver
uses the directory listing it already has).  Checkpoints are an
OPTIMIZATION only — deleting every ``*.checkpoint.json`` leaves a
correct table that re-folds from version 1.  Stats collection reads
only parquet FOOTERS of the just-written staging files (the writer
already has them in page cache); at very large file counts per commit
it moves into the write job itself.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from genie_spark.io.bronze import TableCommit, parquet_schema, part_files

LOG_DIR = "_txn_log"

_STAGING_PREFIX = "_staging-"

# stats are kept for at most this many leading columns (the Delta
# default) so one wide table cannot bloat every log entry
MAX_STAT_COLS = 32


class ConcurrentWriteError(RuntimeError):
    """Another commit touched the same partitions between this
    writer's snapshot read and its commit; re-run the merge from a
    fresh snapshot."""


def _log_dir(table: str) -> str:
    return os.path.join(table, LOG_DIR)


def _version_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.json")


def _list_versions(table: str) -> list[int]:
    d = _log_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".json") and not name.startswith("."):
            stem = name[:-5]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def current_version(table: str) -> int | None:
    vs = _list_versions(table)
    return vs[-1] if vs else None


def _read_entry(table: str, version: int) -> dict:
    with open(_version_path(table, version)) as fh:
        return json.load(fh)


# a full live-set snapshot is written after every N-th commit; replay
# then reads at most N entry files plus one checkpoint, however old
# the table (Delta defaults to 10 — same order here)
CHECKPOINT_INTERVAL = 10

_LAST_CHECKPOINT = "_last_checkpoint"


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.checkpoint.json")


def _list_checkpoints(table: str) -> list[int]:
    d = _log_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.endswith(".checkpoint.json") and not name.startswith("."):
            stem = name[: -len(".checkpoint.json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def _read_checkpoint(table: str, version: int) -> dict:
    with open(_checkpoint_path(table, version)) as fh:
        return json.load(fh)


def _write_checkpoint(table: str, version: int, live: dict[str, dict]) -> None:
    """Install the live-set snapshot at ``version`` (tmp + atomic
    rename — idempotent content, so an overwrite race is harmless) and
    advance the ``_last_checkpoint`` pointer.  Best-effort by contract:
    callers swallow failures, because a missing checkpoint only costs
    replay time, never correctness."""
    d = _log_dir(table)
    tmp = os.path.join(d, f".tmp-cp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"version": version, "live": live}, fh, separators=(",", ":"))
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, _checkpoint_path(table, version))
    tmp2 = os.path.join(d, f".tmp-lcp-{uuid.uuid4().hex}")
    with open(tmp2, "w") as fh:
        json.dump({"version": version}, fh)
    os.rename(tmp2, os.path.join(d, _LAST_CHECKPOINT))


def snapshot_actions(table: str, version: int | None = None) -> dict[str, dict]:
    """Replay the log up to ``version`` (default: latest) → the live
    set as {relative path: add action}.  Replay is a pure fold:
    ``add`` inserts, ``remove`` deletes; versions are totally ordered
    by the link-allocated number.  The fold starts from the newest
    CHECKPOINT at or below the target version when one exists, so the
    number of files read is bounded by ``CHECKPOINT_INTERVAL``, not
    the table's commit count."""
    versions = _list_versions(table)
    if version is not None:
        if version not in versions:
            raise ValueError(
                f"version {version} does not exist for {table} "
                f"(have {versions[:3]}..{versions[-3:] if len(versions) > 3 else versions})"
                if versions
                else f"version {version} does not exist for {table} (no log)"
            )
        versions = [v for v in versions if v <= version]
    live: dict[str, dict] = {}
    cps = [c for c in _list_checkpoints(table) if not versions or c <= versions[-1]]
    if cps:
        try:
            cp = _read_checkpoint(table, cps[-1])
            live = dict(cp["live"])
            versions = [v for v in versions if v > cps[-1]]
        except (OSError, ValueError, KeyError):
            # torn/missing checkpoint: fall back to the full fold
            live = {}
    for v in versions:
        for action in _read_entry(table, v)["actions"]:
            if "add" in action:
                add = action["add"]
                live[add["path"]] = add
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
    return live


def _file_stats(path: str, stat_cols: list[str] | None = None) -> dict:
    """Per-file row count and column min/max/null-count aggregated
    across row groups, straight from the parquet footer (no data
    pages).  Only JSON-stable primitive stats are kept; a column with
    any unstatted row group is dropped (pruning must stay SAFE —
    missing stats mean 'cannot exclude')."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_row_groups == 0:
        return {"rows": md.num_rows, "stats": {}}
    names = {}
    for i in range(md.row_group(0).num_columns):
        # leaf path like "l_orderkey" or "nested.field"; keep top-level only
        name = md.row_group(0).column(i).path_in_schema
        if "." in name:
            continue
        if stat_cols is not None and name not in stat_cols:
            continue
        names[i] = name
    stats: dict[str, dict] = {}
    ok = {name: True for name in names.values()}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i, name in names.items():
            if not ok[name]:
                continue
            st = rg.column(i).statistics
            if st is None or not st.has_min_max:
                ok[name] = False
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                ok[name] = False
                continue
            if not isinstance(lo, (int, float, str, bool)):
                lo, hi = str(lo), str(hi)
            cur = stats.get(name)
            nulls = st.null_count if st.has_null_count else None
            if cur is None:
                stats[name] = {"min": lo, "max": hi, "nulls": nulls}
            else:
                stats[name]["min"] = min(cur["min"], lo)
                stats[name]["max"] = max(cur["max"], hi)
                if nulls is None or cur["nulls"] is None:
                    stats[name]["nulls"] = None
                else:
                    stats[name]["nulls"] = cur["nulls"] + nulls
    for name, good in ok.items():
        if not good:
            stats.pop(name, None)
    if len(stats) > MAX_STAT_COLS:
        keep = sorted(stats)[:MAX_STAT_COLS]
        stats = {k: stats[k] for k in keep}
    return {"rows": md.num_rows, "stats": stats}


def _partition_of(rel_dir: str) -> dict[str, str]:
    """{col: value} from 'CENTER=A/...' path segments."""
    out: dict[str, str] = {}
    for seg in rel_dir.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = v
    return out


def _append_entry(table: str, entry: dict, version: int) -> bool:
    """Atomically install ``entry`` as ``version``; False on loss of
    the version race (EEXIST), never a partial file (tmp + link)."""
    d = _log_dir(table)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(entry, fh, separators=(",", ":"))
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _version_path(table, version))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class LogCommit(TableCommit):
    """Versioned-log ``TableCommit``: optimistic concurrency, snapshot
    reads, time travel, vacuum, file-stats data skipping.

    One instance may serve many tables; per-table state is only the
    base version pinned by the FIRST observation (read / layout query)
    after ``recover`` — the transaction's read version, like a Delta
    transaction.  ``recover`` (which every merge/compact/rewrite entry
    point calls first) starts a fresh observation window; a successful
    commit advances the pin, so a multi-commit operation (compaction
    over several partitions) checks each commit against what it
    actually read.
    """

    def __init__(self, stat_cols: list[str] | None = None, orphan_grace_s: float = 3600.0):
        self._base: dict[str, int | None] = {}
        self._stat_cols = stat_cols
        self._grace = orphan_grace_s

    # -- seam: recover / staging / read / layout ----------------------

    def recover(self, target_path: str, clean_leftovers: bool = True) -> dict:
        """The log append is atomic, so there is never a half-commit to
        repair — recovery is pure garbage collection: staging dirs and
        moved-but-never-logged data files older than the grace window
        (a LIVE concurrent committer may be between its file moves and
        its log link; grace keeps recovery from eating its commit)."""
        self._base.pop(target_path, None)  # new observation window
        removed: list[str] = []
        if not os.path.isdir(target_path):
            return {"recovered": False, "removed": removed}
        now = time.time()

        def expired(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= self._grace
            except OSError:
                return False

        if clean_leftovers:
            for entry in os.listdir(target_path):
                p = os.path.join(target_path, entry)
                if entry.startswith(_STAGING_PREFIX) and os.path.isdir(p) and expired(p):
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(entry)
            if os.path.isdir(_log_dir(target_path)):
                live = set(snapshot_actions(target_path))
                ever = self._ever_referenced(target_path)
                for abs_path, rel_dir in part_files(target_path):
                    rel = os.path.relpath(abs_path, target_path)
                    if rel not in live and rel not in ever and expired(abs_path):
                        os.unlink(abs_path)
                        removed.append(rel)
        return {"recovered": False, "removed": removed}

    def staging_path(self, target_path: str, token: str = "staging") -> str:
        os.makedirs(target_path, exist_ok=True)
        return os.path.join(
            target_path, f"{_STAGING_PREFIX}{token}-{uuid.uuid4().hex[:8]}"
        )

    def read(self, spark: SparkSession, target_path: str) -> DataFrame | None:
        v = self._pin(target_path)
        if v is None:
            if any(part_files(target_path)):
                raise ValueError(
                    f"{target_path} holds parquet data but no {LOG_DIR} — it is "
                    "not a log-format table.  Treating it as absent would "
                    "replace it with the batch; run convert_to_log_table() "
                    "first (one metadata-only commit), or use the "
                    "DirectorySwapCommit backend"
                )
            return None
        live = snapshot_actions(target_path, v)
        if not live:
            return None
        return self._read_files(spark, target_path, sorted(live))

    def is_partitioned(self, target_path: str, partition_col: str) -> bool:
        live = self._live(target_path)
        return bool(live) and all(
            partition_col in a.get("partition", {}) for a in live.values()
        )

    def partition_values(self, target_path: str, partition_col: str) -> list[str]:
        vals = {
            a["partition"][partition_col]
            for a in self._live(target_path).values()
            if partition_col in a.get("partition", {})
        }
        return sorted(vals)

    def partition_files(
        self, target_path: str, partition_col: str, value: str
    ) -> list[str]:
        return sorted(
            os.path.join(target_path, rel)
            for rel, a in self._live(target_path).items()
            if a.get("partition", {}).get(partition_col) == value
        )

    # -- seam: the two commits ----------------------------------------

    def commit_whole(self, staging: str, target_path: str) -> None:
        self._commit(staging, target_path, partition_col=None)

    def commit_partitions(
        self,
        staging: str,
        target_path: str,
        partition_col: str,
        partition_values: list | None = None,
    ) -> None:
        """``partition_values`` (optional) is the EXPLICIT list of
        partition values this commit replaces.  Without it the touched
        set is derived from the staged files alone — which silently
        misses a partition the writer emptied (Spark writes no
        directory for a zero-row partition), leaving its old files
        live.  Callers that computed the affected-partition list (e.g.
        a sync that removes every doc in a bucket) must pass it so the
        emptied partition's files get remove actions."""
        self._commit(
            staging,
            target_path,
            partition_col=partition_col,
            partition_values=partition_values,
        )

    # -- internals -----------------------------------------------------

    def _pin(self, table: str) -> int | None:
        """The transaction's read version: pinned at the first
        observation after ``recover``; a later foreign commit cannot
        silently slide the conflict-check window past itself."""
        if table not in self._base:
            self._base[table] = current_version(table)
        return self._base[table]

    def _live(self, table: str) -> dict[str, dict]:
        v = self._pin(table)
        if v is None:
            return {}
        return snapshot_actions(table, v)

    def _ever_referenced(self, table: str) -> set[str]:
        seen: set[str] = set()
        for v in _list_versions(table):
            for action in _read_entry(table, v)["actions"]:
                if "add" in action:
                    seen.add(action["add"]["path"])
        return seen

    def _read_files(
        self, spark: SparkSession, table: str, rels: list[str]
    ) -> DataFrame:
        paths = [os.path.join(table, r) for r in rels]
        missing = [p for p in paths if not os.path.isfile(p)]
        if missing:
            raise FileNotFoundError(
                f"snapshot of {table} references {len(missing)} vacuumed/"
                f"missing file(s), e.g. {missing[0]} — the requested version "
                "is older than the vacuum retention"
            )
        return (
            spark.read.schema(parquet_schema(paths))
            .option("basePath", table)
            .parquet(*paths)
        )

    def _commit(
        self,
        staging: str,
        target_path: str,
        partition_col: str | None,
        partition_values: list | None = None,
    ) -> None:
        if not os.path.isdir(staging):
            # an empty-but-present staging is a legitimate no-op (an
            # empty batch writes no partition dirs); a MISSING one means
            # a concurrent recover() with too small a grace window GC'd
            # a live writer's prepare — committing would silently
            # install nothing
            raise RuntimeError(
                f"{target_path}: staging dir {staging} vanished before "
                "commit — most likely a concurrent recover() ran with an "
                "orphan_grace_s smaller than this writer's prepare time"
            )
        cid = uuid.uuid4().hex[:12]
        moved: list[tuple[str, dict]] = []  # (rel path, add action)
        touched: set[str] = set()
        i = 0
        for src, rel_dir in part_files(staging):
            dest_dir = os.path.join(target_path, rel_dir) if rel_dir else target_path
            os.makedirs(dest_dir, exist_ok=True)
            name = f"c{cid}-{i:05d}.parquet"
            i += 1
            dest = os.path.join(dest_dir, name)
            meta = _file_stats(src, self._stat_cols)
            os.rename(src, dest)
            rel = os.path.relpath(dest, target_path)
            part = _partition_of(rel_dir)
            if partition_col is not None:
                if partition_col not in part:
                    raise ValueError(
                        f"commit_partitions: staged file {src} is not under a "
                        f"{partition_col}= directory"
                    )
                touched.add(part[partition_col])
            moved.append(
                (
                    rel,
                    {
                        "path": rel,
                        "partition": part,
                        "rows": meta["rows"],
                        "stats": meta["stats"],
                    },
                )
            )
        shutil.rmtree(staging, ignore_errors=True)
        if partition_col is not None and partition_values:
            # explicit scope: partitions the writer emptied wrote no
            # staged files, but their old files must still be removed
            # (values stringified to match the directory encoding that
            # _partition_of yields for staged files)
            touched.update(str(v) for v in partition_values)

        base = self._base.get(target_path)
        while True:
            cur = current_version(target_path)
            if cur is not None and base is not None and cur > base:
                # interleaved commits: disjoint partition scopes retry
                # with refreshed removes; overlap is a write-write
                # conflict the caller must re-derive from a new snapshot
                conflict = partition_col is None
                if not conflict:
                    for v in _list_versions(target_path):
                        if v <= base:
                            continue
                        for action in _read_entry(target_path, v)["actions"]:
                            add = action.get("add") or action.get("remove") or {}
                            part = add.get("partition", {})
                            if partition_col not in part or part[partition_col] in touched:
                                conflict = True
                                break
                        if conflict:
                            break
                if conflict:
                    for rel, _a in moved:
                        try:
                            os.unlink(os.path.join(target_path, rel))
                        except OSError:
                            pass
                    raise ConcurrentWriteError(
                        f"{target_path}: version moved {base} -> {cur} with "
                        f"overlapping scope (partitions {sorted(touched) or 'ALL'}) "
                        "— re-run the merge from a fresh snapshot"
                    )
            live = snapshot_actions(target_path, cur) if cur is not None else {}
            if partition_col is None:
                removes = sorted(live)
            else:
                removes = sorted(
                    rel
                    for rel, a in live.items()
                    if a.get("partition", {}).get(partition_col) in touched
                )
            entry = {
                "version": (cur or 0) + 1,
                "op": "replace" if partition_col is None else "replace_partitions",
                "partition_col": partition_col,
                "ts": time.time(),
                "actions": [
                    *({"remove": {"path": r, "partition": live[r].get("partition", {})}} for r in removes),
                    *({"add": a} for _rel, a in moved),
                ],
            }
            new_v = (cur or 0) + 1
            if _append_entry(target_path, entry, new_v):
                self._base[target_path] = new_v
                if new_v % CHECKPOINT_INTERVAL == 0:
                    # best-effort BY CONTRACT: the commit is already
                    # durably installed, so ANY checkpoint failure
                    # (OSError, a non-JSON-serializable stat, ...) must
                    # not make the succeeded commit look failed to the
                    # caller and invite a retry; a lost checkpoint
                    # costs replay time on a later read, never
                    # correctness
                    try:
                        _write_checkpoint(
                            target_path,
                            new_v,
                            snapshot_actions(target_path, new_v),
                        )
                    except Exception:
                        pass
                return
            # lost the version CAS — loop re-evaluates conflicts/removes


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read a log-committed table at a version (default latest), with
    optional file-level data skipping.

    ``ranges`` is {col: (lo, hi)} — a conjunctive closed-interval
    predicate used ONLY to prune files whose footer min/max cannot
    overlap (missing stats keep the file: pruning is safe, never
    filtering).  The returned DataFrame still contains every row of
    the surviving files; apply the exact row filter on top.  Partition
    columns prune on their partition VALUE (exact, not stats).
    """
    live = snapshot_actions(table, version)
    if not live:
        raise ValueError(f"{table} has no live files at the requested version")
    rels = prune_by_stats(live, ranges) if ranges else sorted(live)
    lc = LogCommit()
    if not rels:
        # everything pruned: keep the schema, scan nothing
        return lc._read_files(spark, table, sorted(live)).limit(0)
    return lc._read_files(spark, table, rels)


def snapshot_files(
    table: str, version: int | None = None, ranges: dict[str, tuple] | None = None
) -> list[str]:
    """The relative file list ``read_snapshot`` would scan — the
    observable for pruning tests and ops tooling."""
    live = snapshot_actions(table, version)
    return prune_by_stats(live, ranges) if ranges else sorted(live)


def prune_by_stats(
    live: dict[str, dict], ranges: dict[str, tuple] | None
) -> list[str]:
    """File-level skip: keep a file unless some range is provably
    disjoint from the file's [min, max] (or, for a partition column,
    unless the partition value falls outside the range).  Type
    mismatches and absent stats keep the file — never unsafe."""
    if not ranges:
        return sorted(live)
    out = []
    for rel, a in sorted(live.items()):
        keep = True
        for col, (lo, hi) in ranges.items():
            pv = a.get("partition", {}).get(col)
            if pv is not None:
                v = _coerce_like(pv, lo if lo is not None else hi)
                if v is not None:
                    if (lo is not None and _lt(v, lo)) or (
                        hi is not None and _lt(hi, v)
                    ):
                        keep = False
                        break
                continue
            st = a.get("stats", {}).get(col)
            if not st:
                continue
            mn, mx = st.get("min"), st.get("max")
            if mn is None or mx is None:
                continue
            if lo is not None and _comparable(mx, lo) and _lt(mx, lo):
                keep = False
                break
            if hi is not None and _comparable(mn, hi) and _lt(hi, mn):
                keep = False
                break
        if keep:
            out.append(rel)
    return out


def _comparable(a, b) -> bool:
    num = (int, float)
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool)
    if isinstance(a, num) and isinstance(b, num):
        return True
    return type(a) is type(b)


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _coerce_like(s: str, template) -> object | None:
    """Partition values are path strings; coerce to the range's type
    for comparison (None = cannot coerce, keep the file)."""
    if template is None:
        return None
    try:
        if isinstance(template, bool):
            return s.lower() in ("true", "1")
        if isinstance(template, int):
            return int(s)
        if isinstance(template, float):
            return float(s)
        if isinstance(template, str):
            return s
    except ValueError:
        return None
    return None


def vacuum(table: str, retain_versions: int = 2, grace_s: float = 3600.0) -> dict:
    """Delete data files live in NO retained version (the newest
    ``retain_versions`` log entries' snapshots, always including the
    current one).  Metadata-only decision + unlinks; the log itself is
    kept (entries are tiny and keep history legible).  Reads of
    versions older than the retention fail loudly in
    ``read_snapshot`` (missing-file check) rather than silently
    returning partial data.  ``grace_s`` protects files a LIVE
    concurrent committer has moved into place but not yet logged
    (the same retention-window rule Delta's VACUUM applies)."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    versions = _list_versions(table)
    if not versions:
        return {"deleted": 0, "retained_versions": []}
    retained = versions[-retain_versions:]
    keep: set[str] = set()
    for v in retained:
        keep.update(snapshot_actions(table, v))
    now = time.time()
    deleted = 0
    for abs_path, _rel_dir in list(part_files(table)):
        rel = os.path.relpath(abs_path, table)
        if rel in keep:
            continue
        try:
            young = now - os.path.getmtime(abs_path) < grace_s
        except OSError:
            continue
        if not young:
            os.unlink(abs_path)
            deleted += 1
    return {"deleted": deleted, "retained_versions": retained}


def convert_to_log_table(
    table: str, stat_cols: list[str] | None = None
) -> int:
    """Adopt an existing parquet directory (e.g. a DirectorySwapCommit
    bronze table) as version 1 of a log table — ONE metadata-only
    commit enumerating the files in place, no data rewritten (the
    'CONVERT TO DELTA' shape).  Refuses a table that already has a
    log."""
    if current_version(table) is not None:
        raise ValueError(f"{table} already has a {LOG_DIR}")
    actions = []
    for abs_path, rel_dir in part_files(table):
        meta = _file_stats(abs_path, stat_cols)
        actions.append(
            {
                "add": {
                    "path": os.path.relpath(abs_path, table),
                    "partition": _partition_of(rel_dir),
                    "rows": meta["rows"],
                    "stats": meta["stats"],
                }
            }
        )
    entry = {
        "version": 1,
        "op": "convert",
        "partition_col": None,
        "ts": time.time(),
        "actions": actions,
    }
    if not _append_entry(table, entry, 1):
        raise ConcurrentWriteError(f"{table}: version 1 appeared during convert")
    return 1


def history(table: str) -> list[dict]:
    """One summary row per commit (version, op, files added/removed,
    rows added) — the audit surface."""
    out = []
    for v in _list_versions(table):
        e = _read_entry(table, v)
        adds = [a["add"] for a in e["actions"] if "add" in a]
        removes = [a for a in e["actions"] if "remove" in a]
        out.append(
            {
                "version": v,
                "op": e.get("op"),
                "n_added": len(adds),
                "n_removed": len(removes),
                "rows_added": sum(a.get("rows", 0) for a in adds),
            }
        )
    return out
