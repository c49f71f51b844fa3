"""Transaction-log table backend (io/txnlog.py): the LogCommit
TableCommit implementation — versioned commits, optimistic
concurrency, snapshot isolation, time travel, vacuum, stats pruning —
driven through the SAME merge_into_bronze / compact_bronze /
rewrite_bronze entry points the directory backend uses (the seam the
round-7 verdict asked to prove with a second backend)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from genie_spark.io.bronze import (
    compact_bronze,
    merge_into_bronze,
    rewrite_bronze,
)
from genie_spark.io.txnlog import (
    ConcurrentWriteError,
    LogCommit,
    convert_to_log_table,
    current_version,
    history,
    read_snapshot,
    snapshot_files,
    vacuum,
)


def _lc(**kw):
    # tests exercise crash GC immediately; production default is 1 h
    kw.setdefault("orphan_grace_s", 0.0)
    return LogCommit(**kw)


def _clin(spark, rows):
    return spark.createDataFrame(rows, ["SAMPLE_ID", "CENTER", "AGE"])


def _collect(spark, tgt, **kw):
    return {
        (r["SAMPLE_ID"], r["CENTER"], r["AGE"])
        for r in read_snapshot(spark, tgt, **kw).collect()
    }


def test_merge_versions_and_upsert(spark, tmp_path):
    """Two partition-scoped merges through the seam: versions 1, 2;
    upsert semantics identical to the directory backend; untouched
    partitions' files not rewritten."""
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(
        _clin(spark, [("s1", "A", 1), ("s2", "B", 2)]), tgt,
        keys=["SAMPLE_ID"], commit=lc,
    )
    assert current_version(tgt) == 1
    files_b_v1 = lc.partition_files(tgt, "CENTER", "B")
    merge_into_bronze(
        _clin(spark, [("s1", "A", 9), ("s3", "A", 3)]), tgt,
        keys=["SAMPLE_ID"], partition_values=["A"], commit=lc,
    )
    assert current_version(tgt) == 2
    assert _collect(spark, tgt) == {("s1", "A", 9), ("s2", "B", 2), ("s3", "A", 3)}
    # partition B untouched: same physical files live at v2
    lc2 = _lc()
    assert lc2.partition_files(tgt, "CENTER", "B") == files_b_v1
    # time travel to v1
    assert _collect(spark, tgt, version=1) == {("s1", "A", 1), ("s2", "B", 2)}
    hist = history(tgt)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[1]["op"] == "replace_partitions"


def test_snapshot_isolation_across_commit(spark, tmp_path):
    """A DataFrame resolved at v1 still collects correctly after v2
    replaces its partition — old files stay on disk until vacuum."""
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(_clin(spark, [("s1", "A", 1)]), tgt, keys=["SAMPLE_ID"], commit=lc)
    snap = read_snapshot(spark, tgt, version=1)
    merge_into_bronze(_clin(spark, [("s1", "A", 7)]), tgt, keys=["SAMPLE_ID"], commit=lc)
    # the v1 scan, collected AFTER the v2 commit, sees v1 rows
    assert {(r["SAMPLE_ID"], r["AGE"]) for r in snap.collect()} == {("s1", 1)}
    assert _collect(spark, tgt) == {("s1", "A", 7)}


def test_vacuum_removes_old_versions_and_reads_fail_loudly(spark, tmp_path):
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    for age in (1, 2, 3):
        merge_into_bronze(
            _clin(spark, [("s1", "A", age)]), tgt, keys=["SAMPLE_ID"], commit=lc
        )
    out = vacuum(tgt, retain_versions=1, grace_s=0.0)
    assert out["deleted"] >= 2 and out["retained_versions"] == [3]
    assert _collect(spark, tgt) == {("s1", "A", 3)}
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_snapshot(spark, tgt, version=1).collect()


def test_crash_before_log_append_leaves_table_unchanged(spark, tmp_path, monkeypatch):
    """Files moved into place without a log entry are invisible to
    readers and GC'd by the next recover — the no-journal crash
    story."""
    import genie_spark.io.txnlog as txnlog

    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(_clin(spark, [("s1", "A", 1)]), tgt, keys=["SAMPLE_ID"], commit=lc)

    real_append = txnlog._append_entry

    def boom(*a, **kw):
        raise RuntimeError("crash before log append")

    monkeypatch.setattr(txnlog, "_append_entry", boom)
    with pytest.raises(RuntimeError, match="crash before log append"):
        merge_into_bronze(
            _clin(spark, [("s1", "A", 9)]), tgt, keys=["SAMPLE_ID"], commit=lc
        )
    monkeypatch.setattr(txnlog, "_append_entry", real_append)
    assert current_version(tgt) == 1
    assert _collect(spark, tgt) == {("s1", "A", 1)}
    # orphans exist now; recover GCs them (grace 0)
    report = _lc().recover(tgt)
    orphans = [r for r in report["removed"] if r.endswith(".parquet")]
    assert orphans, "crash must leave orphan data files for GC"
    assert _collect(spark, tgt) == {("s1", "A", 1)}


def test_version_race_disjoint_partitions_retries(spark, tmp_path):
    """Losing the version CAS to a commit on OTHER partitions retries
    and lands at the next version — disjoint centers never conflict."""
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(
        _clin(spark, [("s1", "A", 1), ("s2", "B", 2)]), tgt,
        keys=["SAMPLE_ID"], commit=lc,
    )
    # simulate an interleaved foreign commit on partition B: pin the
    # writer's base at v1, then install a B-only v2 under its feet
    lc_b = _lc()
    merge_into_bronze(
        _clin(spark, [("s2", "B", 5)]), tgt,
        keys=["SAMPLE_ID"], partition_values=["B"], commit=lc_b,
    )
    assert current_version(tgt) == 2
    # writer lc's base is still 1 from ITS last commit; a new merge on
    # partition A re-pins via recover → no conflict, lands at v3
    merge_into_bronze(
        _clin(spark, [("s1", "A", 8)]), tgt,
        keys=["SAMPLE_ID"], partition_values=["A"], commit=lc,
    )
    assert current_version(tgt) == 3
    assert _collect(spark, tgt) == {("s1", "A", 8), ("s2", "B", 5)}


def test_overlapping_commit_conflicts(spark, tmp_path, monkeypatch):
    """A foreign commit to the SAME partition between snapshot read and
    commit raises ConcurrentWriteError and leaves no garbage live."""
    import genie_spark.io.bronze as bronze

    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(_clin(spark, [("s1", "A", 1)]), tgt, keys=["SAMPLE_ID"], commit=lc)

    real_commit_partitions = LogCommit.commit_partitions
    fired = {}

    def hostile(self, staging, target_path, partition_col):
        # a second writer lands a same-partition commit first (with the
        # PRODUCTION grace so its recover() does not GC the outer
        # writer's staging — that hazard has its own raise, asserted in
        # test_recover_gc_of_live_staging_fails_loudly)
        if not fired.get("done"):
            fired["done"] = True
            other = LogCommit()
            bronze.merge_into_bronze(
                _clin(spark, [("s1", "A", 4)]), target_path,
                keys=["SAMPLE_ID"], partition_values=["A"], commit=other,
            )
        return real_commit_partitions(self, staging, target_path, partition_col)

    monkeypatch.setattr(LogCommit, "commit_partitions", hostile)
    with pytest.raises(ConcurrentWriteError, match="overlapping"):
        merge_into_bronze(
            _clin(spark, [("s1", "A", 9)]), tgt,
            keys=["SAMPLE_ID"], partition_values=["A"], commit=lc,
        )
    monkeypatch.setattr(LogCommit, "commit_partitions", real_commit_partitions)
    # the hostile writer's value won; the loser's files are not live
    assert _collect(spark, tgt) == {("s1", "A", 4)}
    live = snapshot_files(tgt)
    assert all(os.path.isfile(os.path.join(tgt, f)) for f in live)


def test_recover_gc_of_live_staging_fails_loudly(spark, tmp_path, monkeypatch):
    """If a zero-grace recover() eats a live writer's staging between
    prepare and commit, the commit RAISES instead of installing an
    empty no-op version (the bug the conflict test originally
    masked)."""
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(_clin(spark, [("s1", "A", 1)]), tgt, keys=["SAMPLE_ID"], commit=lc)

    real = LogCommit.commit_partitions

    def eat_staging(self, staging, target_path, partition_col):
        _lc().recover(target_path)  # grace 0: GCs the live staging dir
        return real(self, staging, target_path, partition_col)

    monkeypatch.setattr(LogCommit, "commit_partitions", eat_staging)
    with pytest.raises(RuntimeError, match="staging dir .* vanished"):
        merge_into_bronze(
            _clin(spark, [("s1", "A", 9)]), tgt,
            keys=["SAMPLE_ID"], partition_values=["A"], commit=lc,
        )
    monkeypatch.setattr(LogCommit, "commit_partitions", real)
    assert current_version(tgt) == 1
    assert _collect(spark, tgt) == {("s1", "A", 1)}


def test_compact_through_log_backend(spark, tmp_path):
    """compact_bronze drives the same seam: many small files → few,
    rows identical, one new version per compacted partition."""
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    rows = [(f"s{i}", "A", i) for i in range(40)]
    merge_into_bronze(
        _clin(spark, rows).repartition(8), tgt, keys=["SAMPLE_ID"], commit=lc
    )
    before = len(lc.partition_files(tgt, "CENTER", "A"))
    assert before > 1
    report = compact_bronze(spark, tgt, commit=lc, target_file_bytes=1 << 30)
    assert report["A"]["files_after"] < before
    assert _collect(spark, tgt) == set(rows)
    # compaction is a logged version, and time travel still works
    assert len(_collect(spark, tgt, version=1)) == 40


def test_rewrite_and_unpartitioned_roundtrip(spark, tmp_path):
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["K", "V"])
    rewrite_bronze(df, tgt, commit=lc)  # no CENTER column → flat layout
    assert current_version(tgt) == 1
    got = {(r["K"], r["V"]) for r in read_snapshot(spark, tgt).collect()}
    assert got == {(1, "x"), (2, "y")}
    rewrite_bronze(
        spark.createDataFrame([(3, "z")], ["K", "V"]), tgt, commit=lc
    )
    got = {(r["K"], r["V"]) for r in read_snapshot(spark, tgt).collect()}
    assert got == {(3, "z")}
    assert {(r["K"], r["V"]) for r in read_snapshot(spark, tgt, version=1).collect()} == {
        (1, "x"), (2, "y"),
    }


def test_refuses_foreign_parquet_dir_and_convert_adopts(spark, tmp_path):
    """Switching backends on an existing dirswap table must not
    silently treat it as absent; convert_to_log_table adopts it with
    one metadata-only commit."""
    tgt = str(tmp_path / "bronze")
    merge_into_bronze(_clin(spark, [("s1", "A", 1)]), tgt, keys=["SAMPLE_ID"])  # dirswap
    lc = _lc()
    with pytest.raises(ValueError, match="convert_to_log_table"):
        merge_into_bronze(
            _clin(spark, [("s2", "A", 2)]), tgt, keys=["SAMPLE_ID"], commit=lc
        )
    data_files = {
        f for f in snapshot_files_after_convert(tgt)
    }
    assert current_version(tgt) == 1
    # adopted in place: no data rewritten, stats recorded
    assert data_files and all(os.path.isfile(os.path.join(tgt, f)) for f in data_files)
    merge_into_bronze(
        _clin(spark, [("s2", "A", 2)]), tgt, keys=["SAMPLE_ID"], commit=lc
    )
    assert _collect(spark, tgt) == {("s1", "A", 1), ("s2", "A", 2)}


def snapshot_files_after_convert(tgt):
    convert_to_log_table(tgt)
    return snapshot_files(tgt)


def test_stats_pruning_skips_files_and_matches_full_scan(spark, tmp_path):
    """Key-range read via footer stats scans a strict file subset and
    returns exactly the full-scan-filtered rows (pruning is safe AND
    effective on key-sorted files)."""
    tgt = str(tmp_path / "tbl")
    lc = _lc()
    # 4 files with disjoint K ranges (range-partition by K, sorted)
    df = spark.range(1000).select(
        F.col("id").alias("K"), (F.col("id") % 7).alias("V")
    ).repartitionByRange(4, "K").sortWithinPartitions("K")
    rewrite_bronze(df, tgt, commit=lc)
    all_files = snapshot_files(tgt)
    pruned = snapshot_files(tgt, ranges={"K": (100, 120)})
    assert len(pruned) < len(all_files), "stats must prune disjoint files"
    got = {
        r["K"]
        for r in read_snapshot(spark, tgt, ranges={"K": (100, 120)})
        .where((F.col("K") >= 100) & (F.col("K") <= 120))
        .collect()
    }
    assert got == set(range(100, 121))
    # pruning never drops qualifying rows even with an open range
    lo_only = read_snapshot(spark, tgt, ranges={"K": (990, None)}).where(
        F.col("K") >= 990
    )
    assert lo_only.count() == 10


def test_partition_value_pruning(spark, tmp_path):
    """A range on the PARTITION column prunes by partition value,
    without footer stats (partition cols carry no column chunks)."""
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(
        _clin(spark, [("s1", "A", 1), ("s2", "B", 2), ("s3", "C", 3)]),
        tgt, keys=["SAMPLE_ID"], commit=lc,
    )
    only_b = snapshot_files(tgt, ranges={"CENTER": ("B", "B")})
    assert only_b and all("CENTER=B" in f for f in only_b)


def test_log_entries_are_valid_json_with_stats(spark, tmp_path):
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    merge_into_bronze(_clin(spark, [("s1", "A", 5)]), tgt, keys=["SAMPLE_ID"], commit=lc)
    log_dir = os.path.join(tgt, "_txn_log")
    entries = sorted(os.listdir(log_dir))
    assert entries == ["00000000000000000001.json"]
    with open(os.path.join(log_dir, entries[0])) as fh:
        e = json.load(fh)
    adds = [a["add"] for a in e["actions"] if "add" in a]
    assert adds and adds[0]["rows"] == 1
    assert adds[0]["partition"] == {"CENTER": "A"}
    assert adds[0]["stats"]["AGE"] == {"min": 5, "max": 5, "nulls": 0}


def test_checkpoint_written_and_resolution_reads_bounded_files(
    spark, tmp_path, monkeypatch
):
    """A 500-commit table resolves its snapshot reading at most
    CHECKPOINT_INTERVAL entry files + 1 checkpoint, not 500 (the
    Delta _last_checkpoint pattern).  Entries are installed through
    the same _append_entry/_write_checkpoint pair the commit hook
    uses — metadata-only, so 500 versions stay cheap — and the fold
    result must be IDENTICAL with and without checkpoints."""
    import genie_spark.io.txnlog as tx

    tgt = str(tmp_path / "meta")
    os.makedirs(tgt)
    for v in range(1, 501):
        entry = {
            "version": v,
            "op": "replace_partitions",
            "partition_col": "CENTER",
            "ts": 0.0,
            "actions": [
                *(
                    [{"remove": {"path": f"CENTER=A/f{v-1}.parquet",
                                 "partition": {"CENTER": "A"}}}]
                    if v > 1
                    else []
                ),
                {"add": {"path": f"CENTER=A/f{v}.parquet",
                         "partition": {"CENTER": "A"},
                         "rows": v, "stats": {}}},
            ],
        }
        assert tx._append_entry(tgt, entry, v)
        if v % tx.CHECKPOINT_INTERVAL == 0:
            tx._write_checkpoint(tgt, v, tx.snapshot_actions(tgt, v))

    opens = {"entry": 0, "checkpoint": 0}
    real_entry, real_cp = tx._read_entry, tx._read_checkpoint
    monkeypatch.setattr(
        tx, "_read_entry",
        lambda t, v: (opens.__setitem__("entry", opens["entry"] + 1),
                      real_entry(t, v))[1],
    )
    monkeypatch.setattr(
        tx, "_read_checkpoint",
        lambda t, v: (opens.__setitem__("checkpoint", opens["checkpoint"] + 1),
                      real_cp(t, v))[1],
    )
    live = tx.snapshot_actions(tgt)
    assert sorted(live) == ["CENTER=A/f500.parquet"]
    assert opens["checkpoint"] == 1
    assert opens["entry"] <= tx.CHECKPOINT_INTERVAL
    # time travel to a mid-history version is also bounded and exact
    opens["entry"] = opens["checkpoint"] = 0
    live_253 = tx.snapshot_actions(tgt, 253)
    assert sorted(live_253) == ["CENTER=A/f253.parquet"]
    assert opens["checkpoint"] == 1 and opens["entry"] <= tx.CHECKPOINT_INTERVAL
    # checkpoints are an optimization only: deleting them re-folds to
    # the identical answer
    for name in os.listdir(os.path.join(tgt, tx.LOG_DIR)):
        if name.endswith(".checkpoint.json") or name == tx._LAST_CHECKPOINT:
            os.unlink(os.path.join(tgt, tx.LOG_DIR, name))
    assert sorted(tx.snapshot_actions(tgt)) == ["CENTER=A/f500.parquet"]
    assert sorted(tx.snapshot_actions(tgt, 253)) == ["CENTER=A/f253.parquet"]


def test_commit_hook_writes_checkpoint_and_reads_stay_green(
    spark, tmp_path, monkeypatch
):
    """Real merges through the seam cross a checkpoint boundary: the
    hook writes the checkpoint file, reads/time-travel/vacuum behave
    exactly as before, and version resolution afterwards never reads
    pre-checkpoint entries."""
    import genie_spark.io.txnlog as tx

    monkeypatch.setattr(tx, "CHECKPOINT_INTERVAL", 4)
    tgt = str(tmp_path / "bronze")
    lc = _lc()
    for i in range(1, 7):
        merge_into_bronze(
            _clin(spark, [(f"s{i}", "A", i)]), tgt,
            keys=["SAMPLE_ID"], commit=lc,
        )
    assert current_version(tgt) == 6
    assert os.path.isfile(tx._checkpoint_path(tgt, 4))
    with open(os.path.join(tgt, tx.LOG_DIR, tx._LAST_CHECKPOINT)) as fh:
        assert json.load(fh)["version"] == 4
    # snapshot now == union of all six single-row upserts
    assert _collect(spark, tgt) == {(f"s{i}", "A", i) for i in range(1, 7)}
    # time travel BEFORE the checkpoint still folds correctly
    assert _collect(spark, tgt, version=2) == {("s1", "A", 1), ("s2", "A", 2)}
    # resolution of the latest version must not read entries <= cp
    reads: list[int] = []
    real_entry = tx._read_entry
    monkeypatch.setattr(
        tx, "_read_entry",
        lambda t, v: (reads.append(v), real_entry(t, v))[1],
    )
    tx.snapshot_actions(tgt)
    assert reads and min(reads) > 4
    # vacuum still green with checkpoints present
    res = vacuum(tgt, retain_versions=2, grace_s=0.0)
    assert _collect(spark, tgt) == {(f"s{i}", "A", i) for i in range(1, 7)}
