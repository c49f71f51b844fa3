"""Streaming analytics: watermarked windowed aggregation and custom
stateful sessionization.

The reference is batch-only (SURVEY.md §2.12) — these are the
Spark-native extensions for continuous center-file ingestion at scale:
event-time windows tolerate late uploads (watermark bounds state), and
``applyInPandasWithState`` expresses per-key custom state machines (the
Spark analog of the reference's validation-status tracking tables,
genie/input_to_database.py:519-603, which are batch upserts there).

Both operators run identically under ``trigger(availableNow=True)``
(cron-batch shape) and a live trigger; state lives in the checkpoint,
partitioned by key — no driver-side state, so a 1000-executor cluster
scales by repartitioning the key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genie_spark.session import local_rows_df


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    max_delay_seconds: int = 600,
    watermark: str = "10 minutes",
    how: str = "inner",
    right_prefix: str = "r_",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a time-bound: a right
    row matches a left row with equal ``on`` keys whose event times
    are within ``max_delay_seconds`` of each other — the canonical
    Structured Streaming two-stream correlation (upload events ⋈
    validation results per (center, filename), click ⋈ view
    attribution, request ⋈ response pairing).

    Both sides carry a watermark plus the time-range join condition,
    which is exactly what lets Spark BOUND the join state: a buffered
    row is dropped once the other side's watermark passes its match
    window, so state is O(rate·delay) per key range, not unbounded
    history.  ``how="left_outer"`` emits unmatched left rows (null
    right payload) only after the watermark closes their window —
    same late-emission contract as windowed aggregation.

    Right-side non-key columns come back prefixed with
    ``right_prefix`` (both sides keep their own event-time column:
    ``<left_ts>`` and ``<right_prefix><right_ts>``); a prefixed name
    that collides with an existing column raises up front.  ``on``
    must be non-empty: Spark's streaming engine rejects stream-stream
    joins without an equality predicate ("Stream-stream join without
    equality predicate is not supported"), so a pure time-window
    correlation needs a synthetic constant key on both sides — and
    that key routes EVERY row through one state partition, which is
    exactly the unbounded-state shape the equality requirement exists
    to prevent; this wrapper raises instead of constructing it.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner or left_outer, got {how!r}")
    if not on:
        raise ValueError(
            "stream_stream_join needs at least one equi-key: Spark "
            "rejects stream-stream joins without an equality predicate, "
            "and a synthetic constant key would funnel all state "
            "through one partition (see docstring)"
        )
    # accept any integral real (int, numpy integer, 600.0) but reject
    # negatives (lo > hi silently matches nothing), fractions (would
    # truncate), and bool (INTERVAL True SECONDS is a parse error)
    try:
        delay = int(max_delay_seconds)
    except (TypeError, ValueError):
        delay = None
    if (
        delay is None
        or isinstance(max_delay_seconds, bool)
        or delay != max_delay_seconds
        or delay < 0
    ):
        raise ValueError(
            f"max_delay_seconds={max_delay_seconds!r} must be a "
            "non-negative integral number of seconds"
        )
    max_delay_seconds = delay
    renames = {
        c: f"{right_prefix}{c}" for c in right.columns if c not in on
    }
    collisions = sorted(
        (set(renames.values()) & set(left.columns))
        | (set(renames.values()) & (set(right.columns) - set(renames)))
    )
    if collisions:
        raise ValueError(
            f"stream_stream_join: prefixed right columns {collisions} "
            "collide with existing columns — pick another right_prefix"
        )
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark).withColumnsRenamed(renames)
    r_ts = f"{right_prefix}{right_ts}"
    lo = F.col(left_ts) - F.expr(f"INTERVAL {max_delay_seconds} SECONDS")
    hi = F.col(left_ts) + F.expr(f"INTERVAL {max_delay_seconds} SECONDS")
    cond = (F.col(r_ts) >= lo) & (F.col(r_ts) <= hi)
    for k in on:
        cond = cond & (l[k] == r[k])
    joined = l.join(r, cond, how)
    # drop the right side's duplicate key columns (null for unmatched
    # left_outer rows anyway — the left copy is authoritative)
    return joined.drop(*[r[k] for k in on])


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    group_cols: list[str],
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark.

    The watermark lets Spark drop window state once event time passes
    window_end + watermark — bounded memory under unbounded input.
    Output columns: window_start, window_end, *group_cols, n.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("__w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            *group_cols,
            "n",
        )
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key's state only until
    the watermark passes it, so an unbounded stream of re-uploaded
    records (the GENIE re-upload pattern — same file posted repeatedly)
    dedups in O(active-window keys) memory, not O(all keys ever).
    The batch equivalent is analytics.dedup.exact_duplicates."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def sessionize(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
):
    """Per-key gap-based sessionization via ``applyInPandasWithState``.

    Emits one row per closed session (a new event more than
    ``gap_seconds`` after the previous one closes the open session).
    State per key is three scalars — session start, last event time,
    event count — so state size is O(keys), independent of event volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("session_start", T.LongType()),
            T.StructField("session_end", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.LongType()),
            T.StructField("last", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def fn(key, pdf_iter, state: GroupState):
        ts_all = []
        for pdf in pdf_iter:
            ts_all.extend(int(t) for t in pdf["__ts_s"])
        ts_all.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed = []
        for t in ts_all:
            if last is not None and t - last > gap_seconds:
                closed.append((str(key[0]), start, last, n))
                start, n = t, 0
            if start is None:
                start = t
            last = t
            n += 1
        state.update((start, last, n))
        yield pd.DataFrame(
            closed, columns=["key", "session_start", "session_end", "n_events"]
        )

    prepared = stream.select(
        F.col(key_col).cast("string").alias(key_col),
        F.col(ts_col).cast("timestamp").cast("long").alias("__ts_s"),
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def funnel_stream(
    stream: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
):
    """Streaming strict-sequence funnel (the W6 batch rule as an
    ``applyInPandasWithState`` operator, the ``sessionize`` sibling):
    per user the state is the step times reached so far; a user row is
    EMITTED exactly once — when the final step converts — carrying
    every step's epoch-second time.  Semantics match
    ``operators.sessions.funnel_times``: step k converts only
    STRICTLY after step k-1 (processing each micro-batch in time
    order; cross-batch arrival is assumed time-ordered, the same
    contract the gap sessionizer documents).

    State per key is len(steps) scalars — O(users), independent of
    event volume."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_steps = len(steps)
    if n_steps < 1:
        raise ValueError("funnel_stream: steps must be non-empty")
    out_schema = T.StructType(
        [T.StructField("key", T.StringType())]
        + [
            T.StructField(f"t_step{i}_s", T.LongType())
            for i in range(1, n_steps + 1)
        ]
    )
    state_schema = T.StructType(
        [T.StructField(f"t{i}", T.LongType()) for i in range(1, n_steps + 1)]
    )

    def fn(key, pdf_iter, state: GroupState):
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                (int(t), str(e)) for t, e in zip(pdf["__ts_s"], pdf["__et"])
            )
        rows.sort()
        if state.exists:
            times = list(state.get)
        else:
            times = [None] * n_steps
        done_before = times[-1] is not None
        for t, et in rows:
            for i, step in enumerate(steps):
                if et != step:
                    continue
                prev_ok = i == 0 or (
                    times[i - 1] is not None and t > times[i - 1]
                )
                if times[i] is None and prev_ok:
                    times[i] = t
        state.update(tuple(times))
        if times[-1] is not None and not done_before:
            yield pd.DataFrame(
                [[str(key[0]), *times]],
                columns=["key"]
                + [f"t_step{i}_s" for i in range(1, n_steps + 1)],
            )

    prepared = stream.select(
        F.col(key_col).cast("string").alias(key_col),
        F.col(ts_col).cast("timestamp").cast("long").alias("__ts_s"),
        F.col(type_col).cast("string").alias("__et"),
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def near_dup_stream(
    stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    n_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
):
    """Streaming NEAR-dup detection against a persistent MinHash
    signature store — the continuous-ingest shape of
    ``analytics.dedup.incremental_minhash_pairs``.

    Each micro-batch: (1) dedups the batch against the store's band
    buckets (work ∝ |batch| + matched buckets, never ∝ |corpus| —
    the store is only touched through the band-key semi-join and the
    candidate-bounded verify), (2) appends the found near-dup pairs to
    ``pairs_path``, (3) appends the batch's signature rows to
    ``store_path`` so the next batch sees them.  History is never
    re-shingled: the store holds signatures + sorted shingle-hash
    arrays, not text.

    Exactly-once: both outputs land in a ``batch=<id>`` subdirectory
    written with mode("overwrite"), so a replayed micro-batch (failure
    after write, before checkpoint commit) REWRITES its own directory
    instead of appending duplicate rows — reads of the whole store /
    pairs tree are idempotent (the ``batch`` value surfaces as a
    partition column and is dropped on read here).  On a cluster,
    compact the store periodically (it accumulates one directory per
    batch) and bucketBy(bsig) the compacted table
    (``dedup.write_band_store``) to make the band-key join
    exchange-free on the store side.

    Returns the started StreamingQuery.
    """
    from pyspark.errors import AnalysisException

    from genie_spark.analytics.dedup import (
        incremental_minhash_pairs,
        minhash_docinfo,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession

        if batch.isEmpty():
            return
        # store presence probed THROUGH Spark so any filesystem the
        # cluster can read (s3://, hdfs://, dbfs:/) works — a
        # driver-local os.path check would silently report "absent"
        # on remote stores and dedup each batch only against itself
        try:
            store = spark.read.parquet(store_path).drop("batch")
        except AnalysisException:
            store = None  # path missing / no footer yet: first batch
        if store is not None:
            pairs, new_info = incremental_minhash_pairs(
                store, batch, id_col, text_col, k, n_perm, bands, threshold
            )
        else:
            from genie_spark.analytics.dedup import minhash_dedup_pairs

            new_info = minhash_docinfo(batch, id_col, text_col, k, n_perm)
            pairs = minhash_dedup_pairs(
                batch, id_col, text_col, k, n_perm, bands, threshold
            )
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch={batch_id}")
        new_info.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def sketch_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    group_col: str = "source",
    value_col: str = "text",
    k: int = 64,
):
    """Streaming KMV distinct sketching: each micro-batch is sketched
    (``analytics.sketches.kmv_sketch`` — k longs per group) and lands
    in its own ``batch=<id>`` directory of the sketch store; the
    rolling distinct-count question is answered any time by
    ``kmv_merge`` over the store, never by re-reading ingested data.

    Work per batch ∝ |batch| (one distinct shuffle of (group, hash)
    pairs + the salted top-k) — the store is write-only here, so
    unlike ``near_dup_stream`` the batch never even joins against
    history; merging shards is the reader's O(shards·k·groups) job.
    Exactly-once by the same convention: a replayed batch REWRITES its
    own directory (mode overwrite), so reads of the store stay
    idempotent.  Returns the started StreamingQuery."""
    from genie_spark.analytics.sketches import kmv_sketch

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sk = kmv_sketch(batch, group_col, value_col, k=k)
        sk.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def bloom_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    n: int = 8,
    text_col: str = "text",
    m_bits: int | None = None,
    k_hashes: int | None = None,
):
    """Streaming Bloom-store build: each micro-batch of benchmark/eval
    documents is collapsed to its set bit positions
    (``analytics.corpus.bloom_build`` — bounded at m_bits rows) and
    lands in its own ``batch=<id>`` directory; the live filter is the
    union-distinct of the store (the position-set artifact is
    mergeable by construction), consumed by
    ``corpus.bloom_decontaminate`` at any time without re-reading
    ingested benchmark text.

    Work per batch ∝ |batch| n-grams (explode + one distinct shuffle
    of single-long rows); like ``sketch_stream`` the store is
    write-only, and a replayed batch REWRITES its own directory so
    reads stay idempotent.  Returns the started StreamingQuery."""
    from genie_spark.analytics.corpus import (
        BLOOM_K_HASHES,
        BLOOM_M_BITS,
        bloom_build,
    )

    m = m_bits if m_bits is not None else BLOOM_M_BITS
    kh = k_hashes if k_hashes is not None else BLOOM_K_HASHES

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        pos = bloom_build(batch, n=n, text_col=text_col, m_bits=m, k_hashes=kh)
        pos.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def count_min_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    width: int | None = None,
    depth: int | None = None,
):
    """Streaming Count-Min frequency sketching: each micro-batch's
    token occurrences are sketched (``sketches.count_min_sketch`` —
    ≤ depth·width rows) into their own ``batch=<id>`` shard; the
    rolling-frequency question is answered any time by summing cnt
    per (row, bucket) across the store (``count_min_merge``'s
    associative law — equivalently ONE groupBy over the whole store),
    never by re-reading ingested text.  Same store conventions as
    ``sketch_stream`` / ``bloom_stream``: write-only per batch,
    replays rewrite their own directory, reads stay idempotent.
    Returns the started StreamingQuery."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.sketches import (
        CM_DEPTH,
        CM_WIDTH,
        count_min_sketch,
    )
    from genie_spark.analytics.text import tokens

    w = width if width is not None else CM_WIDTH
    d = depth if depth is not None else CM_DEPTH

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        occ = batch.where(F.col(text_col).isNotNull()).select(
            F.explode(tokens(text_col)).alias("value")
        )
        sk = count_min_sketch(occ, "value", width=w, depth=d)
        sk.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _compact_store(spark, store_path: str, merge_fn) -> dict:
    """Shared shard-store compaction protocol: roll forward any
    interrupted swap, merge every ``batch=<id>`` shard with
    ``merge_fn(store_df)`` into the reserved ``batch=-1`` shard
    (``foreachBatch`` ids are non-negative, so a replayed batch can
    never overwrite it), and install it via the journaled whole-dir
    swap from ``io.bronze`` — a crash mid-compaction rolls forward
    and never loses sketch state.  Run while the stream is STOPPED
    (the swap replaces the directory a live writer would be appending
    shards into) — DETECTED (not fully enforced) below: the shard
    listing, including per-shard content mtimes, is re-taken just
    before the swap, so a concurrent writer's new, removed, or
    in-place-rewritten shards abort the compaction with the store
    untouched (ADVICE r7 + code-review r8; the staging directory is
    left for inspection-free retry — `mode("overwrite")` reclaims
    it).  A writer landing in the instants between the re-list and
    the rename remains the caller's stopped-stream responsibility.
    Returns {"shards_before", "rows_after"}."""
    import glob as _glob
    import os as _os

    from genie_spark.io.bronze import DEFAULT_COMMIT

    def _list_shards() -> set[tuple]:
        out = set()
        for p in _glob.glob(
            _os.path.join(_glob.escape(store_path), "batch=*")
        ):
            if not _os.path.isdir(p):
                continue
            newest = max(
                (
                    _os.stat(_os.path.join(p, f)).st_mtime_ns
                    for f in _os.listdir(p)
                ),
                default=0,
            )
            out.add((_os.path.basename(p), newest))
        return out

    DEFAULT_COMMIT.recover(store_path)
    shards = _list_shards()
    merged = merge_fn(spark.read.parquet(store_path))
    staging = DEFAULT_COMMIT.staging_path(store_path)
    merged.coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(staging, "batch=-1")
    )
    rows = spark.read.parquet(_os.path.join(staging, "batch=-1")).count()
    # the scan above saw exactly the shard snapshot listed at
    # read.parquet() time (InMemoryFileIndex); any drift since means a
    # stream is STILL RUNNING and the swap would delete its new shards
    now = _list_shards()
    if now != shards:
        changed = sorted({name for name, _ in now ^ shards})
        raise RuntimeError(
            f"_compact_store({store_path}): shard set changed during "
            f"compaction (added/removed/rewritten: {changed}) — a "
            "stream is still writing this store; stop it and re-run"
        )
    DEFAULT_COMMIT.commit_whole(staging, store_path)
    return {"shards_before": len(shards), "rows_after": rows}


def count_min_compact(spark, store_path: str) -> dict:
    """Compact a ``count_min_stream`` store: sum cnt per (row, bucket)
    across every shard — the merged artifact is ≤ depth·width rows
    regardless of how many batches the store has seen.  Protocol in
    ``_compact_store``."""
    from pyspark.sql import functions as F

    return _compact_store(
        spark,
        store_path,
        lambda df: df.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")),
    )


def bloom_compact(spark, store_path: str) -> dict:
    """Compact a ``bloom_stream`` store into ONE distinct position
    set: per-shard positions overlap heavily once the store has seen
    many batches (each shard is ≤ m_bits rows drawn from the same
    space), so reader-side union-distinct cost grows with shard COUNT
    while the information content is bounded at m_bits rows —
    compaction restores the bound.  Protocol in ``_compact_store``."""
    return _compact_store(
        spark, store_path, lambda df: df.select("pos").distinct()
    )


def hll_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    group_col: str = "source",
    text_col: str = "text",
    p: int | None = None,
):
    """Streaming HyperLogLog distinct sketching: each micro-batch's
    (group, token) pairs are register-sketched
    (``sketches.hll_sketch`` — ≤ groups·2^p rows) into their own
    ``batch=<id>`` shard; the rolling distinct question is answered
    any time by max-merging rho per (group, reg) across the store
    (``hll_merge``'s idempotent law — equivalently ONE groupBy over
    the whole store) and feeding ``hll_estimate``, never by
    re-reading ingested text.  Same store conventions as
    ``sketch_stream`` / ``bloom_stream`` / ``count_min_stream``:
    write-only per batch, replays rewrite their own directory, reads
    stay idempotent.  Readers must pass the SAME ``p`` to
    ``hll_estimate`` as the store was built with — a larger build p is
    detected by the estimate's register-bound guard; a smaller one is
    not (keep them in lockstep).  Returns the started
    StreamingQuery."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.sketches import HLL_P, hll_sketch
    from genie_spark.analytics.text import tokens

    pp = p if p is not None else HLL_P

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        occ = batch.where(
            F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
        ).select(group_col, F.explode(tokens(text_col)).alias("value"))
        sk = hll_sketch(occ, group_col, "value", p=pp)
        sk.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def hll_compact(spark, store_path: str, group_col: str = "source") -> dict:
    """Compact an ``hll_stream`` store: max rho per (group, reg)
    across every shard — the merged artifact is ≤ groups·2^p rows
    regardless of how many batches the store has seen.  Protocol in
    ``_compact_store``."""
    from pyspark.sql import functions as F

    return _compact_store(
        spark,
        store_path,
        lambda df: df.groupBy(group_col, "reg").agg(F.max("rho").alias("rho")),
    )


def near_dup_stream_durable(
    stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    n_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    n_buckets: int = 64,
):
    """``near_dup_stream`` with the TXNLOG signature store as the
    durable state backend (``signature_store.upsert_docinfo_store``):
    atomic bucket-scoped commits instead of one parquet dir per batch,
    md5-manifest idempotence (a re-delivered identical doc is a no-op,
    a re-delivered CHANGED doc replaces its signature and is
    re-compared — the plain variant would stack a second row under the
    same id and break the one-row-per-id verify contract), and
    snapshot isolation / time travel / vacuum for free.

    Exactly-once without batch=<id> store dirs: pairs are written
    BEFORE the store commit, so a batch replayed after a landed commit
    diffs to an empty delta, skips the pairs write, and the original
    pairs survive; a batch replayed after a pairs write but before the
    commit recomputes the identical delta and overwrites its own
    ``batch=<id>`` pairs directory.
    """
    from genie_spark.analytics.signature_store import upsert_docinfo_store

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return

        def write_pairs(pairs: DataFrame) -> None:
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/batch={batch_id}"
            )

        upsert_docinfo_store(
            batch.sparkSession, batch, store_path,
            id_col=id_col, text_col=text_col, k=k, n_perm=n_perm,
            bands=bands, threshold=threshold, n_buckets=n_buckets,
            on_pairs=write_pairs,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def winnow_stream_durable(
    stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1_000,
    n_buckets: int = 64,
):
    """Durable streaming MOSS near-dup — ``near_dup_stream_durable``'s
    sibling over the winnow signature family: each micro-batch upserts
    its fingerprint sets into the txnlog-backed winnow store and
    reports the batch's pair rows (new↔new and new↔store, ≥
    ``min_shared`` shared fingerprints).  Same exactly-once ordering:
    pairs land BEFORE the store commit, so a replayed committed batch
    diffs to an empty delta and skips the pairs write; md5-manifest
    idempotence makes re-delivered identical docs no-ops and CHANGED
    docs replace-and-recompare."""
    from genie_spark.analytics.signature_store import upsert_winnow_store

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return

        def write_pairs(pairs: DataFrame) -> None:
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/batch={batch_id}"
            )

        upsert_winnow_store(
            batch.sparkSession, batch, store_path,
            id_col=id_col, text_col=text_col, k=k, w=w,
            min_shared=min_shared, max_df=max_df, n_buckets=n_buckets,
            on_pairs=write_pairs,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def domain_cap_stream(
    stream,
    group_col: str = "source",
    max_per_group: int = 100,
    id_col: str = "doc_id",
):
    """X65 — streaming per-domain frequency cap: the online form of the
    X56 batch cap (RefinedWeb/C4 "limit documents per domain") for an
    INGEST pipeline — admit documents until a domain reaches
    ``max_per_group``, then drop the rest of that domain forever.

    Semantics: batch ``domain_cap`` keeps the top-k by quality; a
    streaming append sink cannot retract an admitted row, so the
    online contract is FIRST-k by arrival (micro-batch order), ties
    WITHIN a batch broken by (md5(id), id) — the same deterministic
    idiom as the batch side, so replaying the same batch sequence
    admits the same rows.  Emits the admitted rows only, each with its
    1-based ``admit_rank`` within the domain.

    State per key is ONE counter (the admitted count) — O(domains),
    independent of document volume; hot domains cost the same 8 bytes
    as cold ones.  The shuffle is the groupBy(domain) exchange each
    micro-batch; the cap bounds emitted rows per key at k total across
    the stream's lifetime.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("admit_rank", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("admitted", T.LongType())])

    def fn(key, pdf_iter, state: GroupState):
        ids: list[int] = []
        for pdf in pdf_iter:
            ids.extend(int(i) for i in pdf[id_col])
        admitted = state.get[0] if state.exists else 0
        # deterministic within-batch order: (md5(id), id) — the batch
        # domain_cap tie rule
        ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest()[:8], i))
        room = max(0, max_per_group - admitted)
        take = ids[:room]
        state.update((admitted + len(take),))
        yield pd.DataFrame(
            {
                group_col: [str(key[0])] * len(take),
                id_col: take,
                "admit_rank": [admitted + j + 1 for j in range(len(take))],
            }
        )

    prepared = stream.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(id_col).cast("long").alias(id_col),
    )
    return prepared.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def token_budget_stream(
    stream,
    budgets: dict[str, int],
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    default_budget: int = 0,
):
    """X68 — streaming per-group TOKEN-budget admission: the online
    form of the X36 batch ``token_budget_select`` / `corpus-mix` CLI
    (data-mixing by token targets) the way X65 is the online form of
    the X56 doc cap: a document is admitted iff the group's CUMULATIVE
    token count BEFORE it is < the budget — the batch operator's exact
    greedy-prefix rule, so the straddling document is admitted whole
    (the group may overshoot by < one document) and the group's stream
    is dropped forever after.  No partial documents, no skip-ahead: a
    doc after the straddling one never back-fills — admitted sets are
    a PREFIX of the order, exactly like ``token_budget_select``.

    Groups absent from ``budgets`` get ``default_budget`` (0 = drop,
    mirroring corpus-mix).  Arrival order across micro-batches;
    within a batch the (md5-60bit(id), id) deterministic order — the
    batch operator's ``shingle_hash`` key — so replays admit identical
    rows, and a whole corpus delivered in ONE batch admits the
    IDENTICAL set ``token_budget_select`` keeps (pinned by pytest).
    Emits admitted rows with the group's running ``tokens_admitted``
    AFTER each admission.

    State per key is ONE token counter — O(groups), independent of
    stream volume.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField(id_col, T.LongType()),
            T.StructField(tokens_col, T.LongType()),
            T.StructField("tokens_admitted", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("used", T.LongType())])

    def fn(key, pdf_iter, state: GroupState):
        rows: list[tuple[int, int]] = []
        for pdf in pdf_iter:
            rows.extend(
                (int(i), int(t))
                for i, t in zip(pdf[id_col], pdf[tokens_col])
            )
        budget = budgets.get(str(key[0]), default_budget)
        used = state.get[0] if state.exists else 0
        # first 15 hex chars ≡ the batch op's 60-bit shingle_hash order
        rows.sort(
            key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest()[:15], r[0])
        )
        out = []
        for i, t in rows:
            if used < budget:  # tokens-before < budget: straddle admits
                used += t
                out.append((str(key[0]), i, t, used))
        state.update((used,))
        yield pd.DataFrame(
            out, columns=[group_col, id_col, tokens_col, "tokens_admitted"]
        )

    prepared = stream.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(id_col).cast("long").alias(id_col),
        F.col(tokens_col).cast("long").alias(tokens_col),
    )
    return prepared.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def _quantile_store_merge(df: DataFrame, k_max: int) -> DataFrame:
    """Merge every shard of a quantile-sketch store into ONE artifact:
    shards are survivor sets at their own levels, so the union
    refiltered at the smallest feasible level >= every shard level is
    EXACTLY the sketch of the concatenated input (the
    ``quantile_sketch_merge`` set-algebra law, n-ary).  ``df`` must
    carry the hive ``batch`` partition column; n_items sums over the
    per-shard metadata rows."""
    from genie_spark.analytics.sketches import _qs_pick_level

    metas = df.select("batch", "level", "n_items").distinct().collect()
    n_items = sum(int(r["n_items"]) for r in metas)
    floor_level = max((int(r["level"]) for r in metas), default=0)
    hist = {
        r["tz"]: r["c"]
        for r in df.where(F.col("tz") >= floor_level)
        .groupBy("tz")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    level, _ = _qs_pick_level(hist, k_max)
    level = max(level, floor_level)
    return (
        df.where(F.col("tz") >= level)
        .select("v", "h60", "tz")
        .withColumns(
            {
                "level": F.lit(level).cast("long"),
                "n_items": F.lit(n_items).cast("long"),
            }
        )
    )


def quantile_sketch_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    value_col: str = "n_chars",
    key_col: str = "doc_id",
    k_max: int = 1024,
):
    """Streaming quantile sketching (X70): each micro-batch is
    level-sampled (``sketches.quantile_level_sketch`` — <= k_max
    survivor rows + constant level/n_items metadata) into its own
    ``batch=<id>`` shard; the rolling quantile question is answered
    any time by ``quantile_store_estimates`` — merging shards is set
    algebra over <= shards*k_max rows, never a re-read of ingested
    data.  Same store conventions as ``sketch_stream`` /
    ``bloom_stream`` / ``hll_stream``: write-only per batch, a
    replayed batch rewrites its own directory, reads stay idempotent.
    Returns the started StreamingQuery."""
    from genie_spark.analytics.sketches import quantile_level_sketch

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sk = quantile_level_sketch(batch, value_col, key_col, k_max=k_max)
        sk.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def quantile_sketch_compact(spark, store_path: str, k_max: int = 1024) -> dict:
    """Compact a ``quantile_sketch_stream`` store into ONE merged
    artifact shard (``batch=-1``): the merge-law reduce keeps the
    store <= k_max survivor rows regardless of how many batches it has
    seen, and the result is bit-identical to sketching the whole
    ingested stream at once.  Journaled whole-dir swap protocol in
    ``_compact_store``."""
    return _compact_store(
        spark, store_path, lambda df: _quantile_store_merge(df, k_max)
    )


def quantile_store_estimates(
    spark,
    store_path: str,
    k_max: int = 1024,
    phis_milli: tuple[int, ...] = (250, 500, 750, 900),
) -> DataFrame:
    """Answer the rolling quantile question from a
    ``quantile_sketch_stream`` store: merge every shard (set algebra,
    <= shards*k_max rows) and read point estimates off the merged
    artifact — ingested data is never re-read."""
    from genie_spark.analytics.sketches import quantile_sketch_estimates

    merged = _quantile_store_merge(spark.read.parquet(store_path), k_max)
    return quantile_sketch_estimates(merged, phis_milli=phis_milli, k_max=k_max)


def _quantile_store_merge_by(df: DataFrame, k_max: int) -> DataFrame:
    """Per-GROUP n-ary merge of a grouped quantile-sketch store
    (``quantile_sketch_stream_by`` shards): within each group the
    union refiltered at the smallest feasible level >= every shard
    level is EXACTLY the group's sketch of the concatenated stream —
    the X70 set-algebra law applied per group.  Groups are dim-sized
    by contract; level picks are driver-side exact arithmetic."""
    from genie_spark.analytics.sketches import _qs_pick_level

    metas = df.select("batch", "g", "level", "n_items").distinct().collect()
    n_by_g: dict[str, int] = {}
    floor_by_g: dict[str, int] = {}
    for r in metas:
        g = r["g"]
        n_by_g[g] = n_by_g.get(g, 0) + int(r["n_items"])
        floor_by_g[g] = max(floor_by_g.get(g, 0), int(r["level"]))
    if not n_by_g:
        return local_rows_df(
            df.sparkSession,
            [], "g string, v long, h60 long, tz long, level long, n_items long"
        )
    floors = local_rows_df(
        df.sparkSession, sorted(floor_by_g.items()), "g string, __floor long"
    )
    hist_rows = (
        df.join(F.broadcast(floors), "g")
        .where(F.col("tz") >= F.col("__floor"))
        .groupBy("g", "tz")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    hists: dict[str, dict[int, int]] = {}
    for r in hist_rows:
        hists.setdefault(r["g"], {})[r["tz"]] = r["c"]
    meta = []
    for g in sorted(n_by_g):
        level, _ = _qs_pick_level(hists.get(g, {}), k_max)
        level = max(level, floor_by_g[g])
        meta.append((g, level, n_by_g[g]))
    levels = local_rows_df(
        df.sparkSession, meta, "g string, __level long, __n long"
    )
    return (
        df.select("g", "v", "h60", "tz")
        .join(F.broadcast(levels), "g")
        .where(F.col("tz") >= F.col("__level"))
        .select(
            "g", "v", "h60", "tz",
            F.col("__level").alias("level"),
            F.col("__n").alias("n_items"),
        )
    )


def quantile_sketch_stream_by(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    group_col: str = "lang",
    value_col: str = "n_chars",
    key_col: str = "doc_id",
    k_max: int = 1024,
):
    """X75 streaming: per-batch GROUPED quantile-sketch shards
    (``sketches.quantile_level_sketch_by``) — the rolling per-slice
    quantile question (e.g. CCNet perplexity terciles per language,
    ``ccnet_stream_thresholds``) is answered any time from <=
    shards×groups×k_max survivor rows, never by re-reading ingested
    data.  Same store conventions as the global form."""
    from genie_spark.analytics.sketches import quantile_level_sketch_by

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sk = quantile_level_sketch_by(
            batch, group_col, value_col, key_col, k_max=k_max
        )
        sk.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def quantile_sketch_compact_by(
    spark, store_path: str, k_max: int = 1024
) -> dict:
    """Compact a grouped quantile store into one batch=-1 artifact per
    the per-group merge law; journaled swap protocol in
    ``_compact_store``."""
    return _compact_store(
        spark, store_path, lambda df: _quantile_store_merge_by(df, k_max)
    )


def ccnet_stream_thresholds(
    spark,
    store_path: str,
    k_max: int = 1024,
    qs_milli: tuple[int, int] = (333, 667),
) -> DataFrame:
    """Rolling CCNet bucket thresholds from a grouped quantile store
    (the X72 ∘ X75 composition): per-group tercile ESTIMATES off the
    merged sketch artifacts — the online form of
    ``text.ccnet_buckets``'s sample-threshold pass, updating as the
    scored stream lands without ever re-scanning it.  Returns
    (g, t_head, t_mid) — feed them to the bucket CASE the batch
    operator applies."""
    from genie_spark.analytics.sketches import quantile_sketch_estimates_by

    merged = _quantile_store_merge_by(spark.read.parquet(store_path), k_max)
    est = quantile_sketch_estimates_by(merged, phis_milli=qs_milli)
    lo, hi = int(qs_milli[0]), int(qs_milli[1])
    return est.groupBy("g").agg(
        F.min(
            F.when(F.col("phi_milli") == lo, F.col("est_value"))
        ).alias("t_head"),
        F.min(
            F.when(F.col("phi_milli") == hi, F.col("est_value"))
        ).alias("t_mid"),
    )


def moments_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    group_col: str = "lang",
    value_col: str = "n_chars",
):
    """X77 streaming: per-batch moments artifacts (``sketches.
    moments_sketch`` — dim-sized exact (n, Σx, Σx², min, max) rows)
    into ``batch=<id>`` shards; the rolling mean/variance question is
    answered any time by the component-sum merge over the store —
    never a re-read.  Same store conventions as the sketch family."""
    from genie_spark.analytics.sketches import moments_sketch

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sk = moments_sketch(batch, group_col, value_col)
        sk.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def moments_compact(spark, store_path: str) -> dict:
    """Compact a moments store: component sums / min / max per group
    — the result is bit-identical to sketching the whole ingested
    stream at once (exact merge law).  Journaled swap protocol in
    ``_compact_store``."""
    return _compact_store(
        spark,
        store_path,
        lambda df: df.groupBy("g").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s1").cast("long").alias("s1"),
            F.sum("s2").cast("long").alias("s2"),
            F.min("min_v").cast("long").alias("min_v"),
            F.max("max_v").cast("long").alias("max_v"),
        ),
    )


def components_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    a_col: str = "a",
    b_col: str = "b",
):
    """X82 streaming: incremental connected components over an
    arriving near-dup PAIR stream — per batch, the batch's component
    map (``dedup.connected_components`` → (node, cluster_id) rows)
    lands as a ``batch=<id>`` shard.  The map is a MERGEABLE artifact:
    a component map spans exactly its edges' connectivity, so
    components over the UNION of shard maps (each row read as a
    node→root edge) equal components over the union of the original
    edge streams — components(map(E₁) ∪ map(E₂)) = components(E₁ ∪
    E₂) — and shards are node-sized, never edge-sized.  The rolling
    "which cluster is this doc in" / leakage-safe-split question is
    answered any time from the store (``components_from_store`` →
    ``corpus.leakage_safe_split(components=...)``) without re-scanning
    ingested pairs.  Same store conventions as the sketch family."""
    from genie_spark.analytics.dedup import connected_components

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        comp = connected_components(batch, a_col, b_col)
        comp.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _components_store_merge(df: DataFrame) -> DataFrame:
    """Merge shard component maps: every (node, cluster_id) row is a
    node→root edge; components over those edges ARE the components of
    the full ingested pair stream (the X82 merge law)."""
    from genie_spark.analytics.dedup import connected_components

    return connected_components(df, "node", "cluster_id")


def components_from_store(spark, store_path: str) -> DataFrame:
    """The rolling component map from an X82 store — bit-identical to
    batch ``connected_components`` over every ingested pair (parity-
    pinned), computed from node-sized shards, never the raw pairs."""
    return _components_store_merge(spark.read.parquet(store_path))


def components_compact(spark, store_path: str) -> dict:
    """Compact an X82 components store to one merged shard — the
    journaled swap protocol of ``_compact_store``; the store answer
    is unchanged (merge-law idempotence)."""
    return _compact_store(spark, store_path, _components_store_merge)
