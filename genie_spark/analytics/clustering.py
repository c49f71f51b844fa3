"""Embedding clustering: deterministic distributed k-means (Lloyd's).

The corpus-organization step of a training-data pipeline (domain
discovery, cluster-balanced sampling, semantic sharding — the
SemDeDup/k-means-curation family): partition the embedding space into
k cells and tag every vector with its cell.

Spark shape — the 100 TB one:

* The corpus is quantized once (`similarity.quantized`, exact integer
  vectors) and persisted; each Lloyd iteration is ONE scan of that
  cached table with a PURE MAP assignment (centroids are collected
  driver-side — k·dim longs — and shipped back out as a Spark
  BROADCAST variable consumed by the Arrow matmul engine, so plan
  size and per-task cost are independent of k) followed by ONE
  partial-aggregable groupBy((cid, dim)) shuffle for the centroid
  update.  No iteration ever shuffles the vectors themselves.  The
  Arrow scans are the only engine: k-means, PQ training and PQ
  encoding all run them, and all omit degenerate rows through
  ``similarity._finite_rows``.
* k and iters are FIXED hyper-parameters, so the whole run is
  iters + 1 jobs regardless of corpus size; at 1000 executors each
  job is scan + map + a k·dim-row aggregate.

Determinism (the property that lets a DuckDB oracle mirror the run
bit-for-bit, and reruns reproduce):

* init: the k vectors with the smallest ``(md5(id), id)`` ARE the
  initial centroids (no RNG — the same engine-portable hash family as
  every sampling op).  Hash order is content-INDEPENDENT: on corpora
  where id order correlates with content (ingest order, sorted
  shards) the k lowest ids would all sit in one region and cost Lloyd
  iterations (VERDICT r7);
* distance: squared Euclidean on quantized integers — exact longs;
* ties: lowest centroid id wins (struct-min on (d2, cid));
* update: element-wise ``floor(sum/count)`` — sum and count are exact
  longs and |sum| << 2^53, so the IEEE divide+floor is identical in
  any engine; an empty cluster keeps its previous centroid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from genie_spark.session import local_rows_df

from genie_spark.analytics.similarity import _cross_term, _finite_rows, quantized

# flat-Lloyd SemDeDup's compute envelope (see semantic_dedup docstring)
SEMANTIC_DEDUP_MAX_ROWS = 200_000


def _md5_seed_rows(q: DataFrame, k: int) -> list:
    """The one seed rule: the k rows of the quantized ``(__id, __v)``
    table with the smallest ``(md5(id), id)``, collected by a single
    TakeOrdered job.  A vector with a null ELEMENT (out of contract —
    embeddings are non-null fixed-dim) never seeds, so it cannot
    poison the centroid matrix; the oracle mirrors the same
    list_filter screen."""
    return (
        q.where(~F.exists("__v", lambda x: x.isNull()))
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(k)
        .collect()
    )


def _broadcast_centroids(sc, centroids: list[tuple[int, list[int]]]):
    """Ship the centroid matrix as a Spark broadcast variable — once
    per executor, cached by the worker process — instead of a
    task-closure capture (re-pickled per task) or a k·dim plan literal
    (breaks the plan outright at the √n sizing rule: k≈31k · dim 768
    → 24M values).  Payload: (cids, Cf, cc, cmax) where ``Cf`` is the
    centroid matrix as float64 (integer-valued, so float64 math on it
    is exact — see ``_cross_term``) and ``cmax`` its max |value|."""
    import numpy as np

    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.int64)
    cc = (C * C).sum(axis=1)
    cmax = float(np.abs(C).max()) if C.size else 0.0
    return sc.broadcast((cids, C.astype(np.float64), cc, cmax))


def _assign_scan_arrow(q: DataFrame, bc, dim: int) -> DataFrame:
    """Final-assignment scan: one int64 matmul per batch
    (‖v‖² − 2·V·Cᵀ + ‖c‖², exact in int64) and a first-occurrence
    argmin — lowest cid wins ties (the centroid rows are in
    ascending-cid order), the oracle's ORDER BY d2, cid.  No shuffle:
    mapInPandas is a pure map.  ``bc`` is a ``_broadcast_centroids``
    broadcast."""
    import numpy as np

    def score(batches):
        import pandas as pd

        cids, Cf, cc, cmax = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            keep, V = _finite_rows(np, pdf["__v"].tolist(), dim)
            if not keep:
                continue
            V = V.astype(np.int64)
            cross = _cross_term(np, V, Cf, cmax, dim)
            d2 = (V * V).sum(axis=1)[:, None] - 2 * cross + cc[None, :]
            j = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy()[keep],
                    "cid": cids[j],
                    "d2": d2[np.arange(len(j)), j],
                }
            )

    return q.mapInPandas(score, schema="__id long, cid long, d2 long")


def _update_partials_arrow(q: DataFrame, bc, dim: int) -> DataFrame:
    """One Lloyd update scan: assign the batch (same
    exact argmin as ``_assign_scan_arrow``) and COMBINE map-side —
    per-batch (cid, pos, partial_sum, partial_count) via bincount, so
    the shuffle carries k·dim rows per batch, never the n·dim
    ``posexplode`` row explosion.  ``bc`` is a ``_broadcast_centroids``
    broadcast; the caller unpersists it once the update job finishes."""
    import numpy as np

    def partials(batches):
        import pandas as pd

        cids, Cf, cc, cmax = bc.value
        k = Cf.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            keep, V = _finite_rows(np, pdf["__v"].tolist(), dim)
            if not keep:
                continue
            V = V.astype(np.int64)
            cross = _cross_term(np, V, Cf, cmax, dim)
            d2 = (V * V).sum(axis=1)[:, None] - 2 * cross + cc[None, :]
            j = np.argmin(d2, axis=1)
            n_by = np.bincount(j, minlength=k)
            s_by = np.zeros((k, dim), dtype=np.int64)
            np.add.at(s_by, j, V)
            live = np.flatnonzero(n_by)
            yield pd.DataFrame(
                {
                    # the broadcast's REAL centroid ids, not the row
                    # index: bit-identical while kmeans_assign seeds
                    # cids as 0..k-1, and stays correct if a caller
                    # ever seeds real vector ids (ADVICE r7)
                    "cid": np.repeat(cids[live], dim),
                    "pos": np.tile(np.arange(dim), len(live)),
                    "s": s_by[live].ravel(),
                    "n": np.repeat(n_by[live], dim),
                }
            )

    return q.mapInPandas(partials, schema="cid long, pos int, s long, n long")


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Assignment-only view of ``kmeans_fit`` (the original public
    surface): returns just the (id, cluster_id, d2) DataFrame."""
    return kmeans_fit(df, id_col, vec_col, k, iters)[0]


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    pre_quantized: bool = False,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Lloyd's k-means over an ``array<float>`` column; returns the
    (id, cluster_id, d2) assignment DataFrame AND the final quantized
    centroids ``[(cid, vector), ...]`` — the codebook consumers
    (product quantization, X61) need alongside the assignment.

    The k smallest ``(md5(id), id)`` vectors are the initial centroids
    — deterministic, engine-portable, and content-independent (an
    id-sorted corpus spreads its seeds across the data instead of
    clustering them in the lowest-id region) — collected by a single
    TakeOrdered job; the oracle mirrors the same rule.

    Each iteration: one Arrow scan over the persisted quantized corpus
    assigns every vector (exact int64 matmul against the broadcast
    centroids) and combines map-side; the update aggregates
    per-dimension (cid, dim) sums — a k·dim-group partial aggregate,
    the ONLY shuffle per iteration — and the new centroids (k·dim
    longs) are collected driver-side for the next pass.  ``iters`` is
    fixed (not convergence-tested) so the oracle can unroll the same
    steps.  Degenerate rows (null vector, a length different from the
    centroids', a null or non-finite element) are OMITTED from both
    the assignment output and the centroid updates — embeddings are
    non-null fixed-dim by contract.
    """
    from pyspark import StorageLevel

    # null vectors are dropped at entry: they carry no position, and a
    # null among the seed ids would poison the centroid matrix
    # pre_quantized: the caller's column is ALREADY exact integers
    # (e.g. IVF residuals — integer minus integer); re-quantizing would
    # multiply by the scale again
    vq = (
        F.col(vec_col).cast("array<long>")
        if pre_quantized
        else quantized(vec_col)
    )
    q = (
        df.select(F.col(id_col).alias("__id"), vq.alias("__v"))
        .where(F.col("__v").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        centroids = [
            (i, list(r["__v"])) for i, r in enumerate(_md5_seed_rows(q, k))
        ]
        if not centroids:
            return (
                local_rows_df(
                    df.sparkSession,
                    [], f"{id_col} long, cluster_id long, d2 long"
                ),
                [],
            )
        dim = len(centroids[0][1])
        sc = df.sparkSession.sparkContext
        for _ in range(iters):
            bc = _broadcast_centroids(sc, centroids)
            # collapse the k·dim (cid, pos) rows to k position-sorted
            # ARRAYS before collecting: the driver receives k plain
            # int lists instead of k·dim Row objects — at the √n rule
            # (k≈31k, dim 768) that is 31k rows instead of 24M, the
            # difference between a cheap round-trip and a driver
            # bottleneck.  The partials carry every position of each
            # live centroid, so each array is a full vector.
            sums = (
                _update_partials_arrow(q, bc, dim)
                .groupBy("cid", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .withColumn("m", F.floor(F.col("s") / F.col("n")).cast("long"))
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda x: x["m"],
                    ).alias("mv")
                )
                .collect()
            )
            # the update job is done — drop the executor-side copy now
            # instead of waiting for driver GC (k·dim longs per
            # iteration adds up at corpus-scale k)
            bc.unpersist()
            by_cid = {r["cid"]: list(r["mv"]) for r in sums}
            centroids = [
                (cid, by_cid.get(cid, old)) for cid, old in centroids
            ]
        # the final-scan broadcast stays alive for the returned (lazy)
        # DataFrame; Spark's ContextCleaner reclaims it when the
        # consumer and the Broadcast handle are both dropped
        final = _assign_scan_arrow(q, _broadcast_centroids(sc, centroids), dim)
        return (
            final.select(
                F.col("__id").alias(id_col),
                F.col("cid").alias("cluster_id"),
                "d2",
            ),
            centroids,
        )
    finally:
        q.unpersist()


def kmeans_sizes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Cluster cardinality + mean distance rollup of
    ``kmeans_assign`` — the shape used for cluster-balanced sampling
    decisions (which cells are over/under-represented)."""
    a = kmeans_assign(df, id_col, vec_col, k, iters)
    return a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("sum_d2"),
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    target_per_cluster: int = 100,
) -> DataFrame:
    """Cluster-balanced downsampling (the SemDeDup/DoReMi-style
    curation move): k-means the embedding space, then keep each member
    of an over-represented cell with probability ``target/|cell|`` so
    every cell contributes ≈``target_per_cluster`` vectors — flattens
    semantic over-representation (boilerplate clusters shrink, rare
    domains survive intact).

    Deterministic: the keep decision is the same md5-uniform the
    sampling ops use (``corpus._uniform_bp`` formula), thresholded at
    ``min(10000, target·10000 // |cell|)`` basis points — exact
    integers, so the oracle reproduces the row set bit-for-bit.

    Scale shape: ``kmeans_assign``'s cost (iters scans + k·dim aggs)
    plus ONE k-row size aggregate broadcast back over the assignment —
    the corpus is filtered map-side, never shuffled again.
    """
    from pyspark import StorageLevel

    # two consumers (size aggregate + the filter join) — persist so the
    # final assignment map runs once, not per consumer
    a = kmeans_assign(df, id_col, vec_col, k, iters).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = a.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__n"))
    # the ONE md5-uniform implementation every sampling op shares —
    # a drifted copy would silently break oracle reproducibility
    from genie_spark.analytics.corpus import SAMPLE_DENOM, _uniform_bp

    keep_bp = F.least(
        F.lit(SAMPLE_DENOM).cast("long"),
        F.floor(
            F.lit(target_per_cluster * SAMPLE_DENOM) / F.col("__n")
        ).cast("long"),
    )
    u = _uniform_bp(id_col)
    return (
        a.join(F.broadcast(sizes), "cluster_id")  # sizes: k rows, dim table
        .withColumn("keep_bp", keep_bp)
        .withColumn("sample_bucket", u)
        .where(F.col("sample_bucket") < F.col("keep_bp"))
        .select(id_col, "cluster_id", "sample_bucket", "keep_bp")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.35,
    candidates: str = "lsh",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 4,
    resolve: str = "any",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    compare pairs only WITHIN a cluster and drop every vector that has
    a near-duplicate (cosine > threshold) with a smaller id.  Returns
    the drop list (id, kept_witness, max_cosine).

    Drop semantics (read this before trusting ``kept_witness``) —
    chosen by ``resolve``:

    * ``resolve="any"`` (default): a vector is dropped iff it has ANY
      smaller-id near-dup among the candidate pairs —
      drop-if-any-smaller-id-neighbor, not a sequential greedy.  In a
      chain a~b, b~c (a≁c) both b and c are dropped, and c's
      ``kept_witness`` is b — the SMALLEST-ID near-duplicate, which
      may itself appear in the drop list.  The surviving set is
      exactly {ids with no smaller-id near-dup}; to find a dropped
      row's surviving representative, follow ``kept_witness``
      transitively.
    * ``resolve="greedy"``: chain-resolved via connected components
      over the verified pair graph (the transitive closure of the
      follow-the-witness walk above, computed with the same O(log d)
      pointer-jumping as ``quality_survivors``): each component keeps
      its min-id member, every other member is dropped with
      ``kept_witness`` = that representative — GUARANTEED kept
      (property-tested).  ``max_cosine`` is the max over the dropped
      row's own verified pairs, as in the default mode.  Drops a
      SUPERSET of the default mode's ids: every row with a smaller-id
      neighbor is non-min in its component, but a row with only
      larger-id neighbors can still lose to a smaller id elsewhere in
      the component (star 5~1, 5~3: default keeps {1, 3}, greedy
      keeps only 1) — one-survivor-per-component is the standard
      dedup-pipeline contract (``near_dup_drop_list``).

    Candidate geometries (the candidates→verify family: MinHash bands
    are lexical, IVF cells one-shot spatial, LLOYD cells adapt to the
    corpus density so comparisons concentrate where semantic mass is):

    * ``candidates="lsh"`` (default, the 100 TB path): a pair is
      compared iff it shares a Lloyd cluster AND at least one of
      ``n_tables`` banded sign-LSH buckets (``n_planes`` md5-derived
      ±1 hyperplanes per table, same construction as
      ``similarity.lsh_banded_pairs``).  Everything is linear: the
      cluster assignment is O(n·k·dim) with k a FIXED semantic
      hyperparameter (domain count — it does NOT grow with n),
      per-row signatures are O(n_tables·n_planes·dim) independent of
      bucket count, candidate volume is held at ~n_tables·n·B/2 by
      choosing n_planes ≈ log₂(n/B) for target bucket occupancy B,
      and the exact verify is candidate-bounded.  Recall for a pair
      with per-plane agreement p = 1 − θ/π is 1 − (1 − p^n_planes)^
      n_tables — near-1 for true near-dups (cosine ≥ 0.9 ⇒ p ≥ 0.86),
      and bought linearly with ``n_tables`` at looser thresholds.
      Pairs straddling a cluster boundary are missed by design
      (SemDeDup's approximation); pairs missed by every table are the
      LSH approximation on top.  The oracle mirrors both generators
      deterministically, so the engines agree exactly.

    * ``candidates="exact"``: ALL within-cluster pairs — the published
      method verbatim.  Needs k ∝ n (constant cell occupancy) to keep
      verify linear, which makes the flat-Lloyd assignment O(n·k·dim)
      ⇒ ~O(n^1.5) total at the optimal k (measured 5.4× wall per 10×
      rows — BASELINE.md §5), so this path is guarded at
      ``SEMANTIC_DEDUP_MAX_ROWS`` vectors.

    Scale shape of the default path: ``kmeans_assign``'s
    fixed-job-count clustering, one merge join attaching cluster ids
    to the signature table, ``n_tables`` merge self-joins on
    (cluster_id, bucket) — candidate volume is data-sized, never
    broadcast on a static misestimate — then ``cosine_verify_pairs``.
    """
    from genie_spark.analytics.similarity import (
        cosine_verify_pairs,
        sign_signatures,
    )

    if candidates not in ("exact", "lsh"):
        raise ValueError(f"unknown candidates geometry: {candidates!r}")
    if resolve not in ("any", "greedy"):
        raise ValueError(f"unknown resolve policy: {resolve!r}")
    if candidates == "exact":
        # guard BEFORE the (eager, iters+1-job) clustering below — an
        # over-limit caller must not pay the full Lloyd cost just to
        # be told the input is too big
        n = df.count()
        if n > SEMANTIC_DEDUP_MAX_ROWS:
            raise ValueError(
                f"semantic_dedup(candidates='exact') is the flat all-pairs "
                f"SemDeDup: assignment O(n·k·dim) + per-cell verify O(n²/k) "
                f"— ~O(n^1.5) total at the optimal k; input has {n:,} "
                "vectors. Use the default candidates='lsh' path at this "
                "scale (same cluster semantics, banded-LSH-bounded pairs)."
            )

    # the assignment is consumed by every per-table join —
    # localCheckpoint, not persist: checkpoint blocks free when the
    # DataFrame is garbage collected, so repeated calls in a session
    # don't accumulate cache-manager entries only unpersist would
    # release (the incremental_minhash_pairs hygiene rule)
    a = (
        kmeans_assign(df, id_col, vec_col, k, iters)
        .select(F.col(id_col), "cluster_id")
        .localCheckpoint(eager=True)
    )

    if candidates == "exact":
        left = a.select(F.col(id_col).alias("a"), "cluster_id")
        right = a.select(F.col(id_col).alias("b"), "cluster_id")
        cand = (
            left.join(right.hint("merge"), "cluster_id")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
        )
    elif candidates == "lsh":
        sigs = sign_signatures(df, id_col, vec_col, dim, n_planes, n_tables)
        # merge hint both here and on the self-joins: every side is
        # corpus-sized — a static-misestimate broadcast is a
        # corpus-sized driver collect (the BASELINE.md 1M-doc lesson).
        # localCheckpoint: 2·n_tables join branches consume this frame
        # — without it every branch recomputes the signature scan.
        tagged = sigs.join(a.hint("merge"), id_col).localCheckpoint(eager=True)
        # melt the n_tables band columns to long form and self-join
        # ONCE on (cluster_id, table, bucket): the per-table loop this
        # replaces shuffled `tagged` n_tables times (one exchange pair
        # per branch); the long frame carries the same n·n_tables rows
        # through a single exchange, which the identical other side
        # reuses (ReusedExchange — plan-pinned in tests/test_plans.py)
        long_form = tagged.select(
            id_col,
            "cluster_id",
            F.posexplode(
                F.array(*[F.col(f"b{t}") for t in range(n_tables)])
            ).alias("table", "bucket"),
        )
        x = long_form.select(
            F.col(id_col).alias("a"), "cluster_id", "table", "bucket"
        )
        y = long_form.select(
            F.col(id_col).alias("b"), "cluster_id", "table", "bucket"
        )
        cand = (
            x.hint("merge")
            .join(y, ["cluster_id", "table", "bucket"])
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )

    pairs = cosine_verify_pairs(df, cand, id_col, vec_col, threshold)
    if resolve == "greedy":
        from genie_spark.analytics.dedup import connected_components

        # two consumers below (components + the per-node cosine agg)
        pairs = pairs.localCheckpoint(eager=True)
        comp = connected_components(pairs.select("a", "b"))
        node_cos = (
            pairs.select(F.col("a").alias("node"), "cosine")
            .unionByName(pairs.select(F.col("b").alias("node"), "cosine"))
            .groupBy("node")
            .agg(F.max("cosine").alias("max_cosine"))
        )
        return (
            comp.where(F.col("node") != F.col("cluster_id"))
            .join(node_cos, "node")
            .select(
                F.col("node").alias(id_col),
                F.col("cluster_id").alias("kept_witness"),
                "max_cosine",
            )
        )
    return (
        pairs.groupBy("b")
        .agg(
            F.min("a").alias("kept_witness"),
            F.max("cosine").alias("max_cosine"),
        )
        .select(F.col("b").alias(id_col), "kept_witness", "max_cosine")
    )


# ---------------------------------------------------------------------------
# X61 — product quantization (Jégou, Douze & Schmid, TPAMI 2011)
# ---------------------------------------------------------------------------
def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    pre_quantized: bool = False,
) -> tuple[list[list[tuple[int, list[int]]]], int]:
    """Train the ``m`` per-subspace PQ codebooks: split the vector into
    ``m`` contiguous sub-vectors and run the package's deterministic
    Lloyd k-means (``kmeans_fit`` — md5-seeded, fixed iterations,
    exact quantized integers) independently on each slice.  Returns
    (codebooks, sub_dim) where ``codebooks[s]`` is the subspace's
    final ``[(cid, vector), ...]``.

    The dimension must divide evenly by ``m`` (PQ's standard
    contract).  The m subspace trainings are FUSED into one run: the
    quantized corpus is persisted once, the md5 seed rule picks the
    same k ids for every subspace (it orders by (md5(id), id), never
    by vector content), so ONE TakeOrdered collects the k seed
    vectors and each subspace's seed centroids are driver-side
    slices; each Lloyd iteration is ONE Arrow scan emitting
    per-subspace bincount partials into a single (sub, cid, pos)
    aggregate — iters+1 corpus passes total instead of
    m × (iters+1), and 1+iters jobs instead of m × (1+iters).
    Per-subspace argmins, integer sums and the floor-mean update are
    the exact ``kmeans_fit`` computations (associative integer
    partials, same ascending-cid tie-break), so codebooks are
    bit-identical to the per-slice runs on the fixed-dim finite
    contract domain — pinned by
    ``test_pq_encode_codes_and_reconstruction``.  At real scale pass
    a deterministic training sample as ``df`` (the standard PQ
    practice — FAISS trains codebooks on ~100k·k vectors, not the
    corpus; the md5-uniform ``corpus._uniform_bp`` sampler keeps it
    reproducible) and encode the full corpus via
    ``pq_encode(..., codebooks=...)``.
    """
    # infer dim from a small sample of NON-null vectors and demand they
    # agree — a degenerate/wrong-length leading row must fail loudly
    # here, not silently set dim and leave pq_encode omitting every
    # conforming row downstream
    sample = [
        r[0]
        for r in df.select(vec_col).limit(16).collect()
        if r[0] is not None
    ]
    if not sample:
        raise ValueError("pq_train: empty corpus (or all-null vectors)")
    dims = {len(v) for v in sample}
    if len(dims) != 1:
        raise ValueError(
            f"pq_train: inconsistent vector dims in corpus sample: "
            f"{sorted(dims)} — the embedding column must be fixed-dim"
        )
    dim = dims.pop()
    if dim == 0:
        raise ValueError("pq_train: zero-dimensional vectors")
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    from pyspark import StorageLevel

    vq = (
        F.col(vec_col).cast("array<long>")
        if pre_quantized
        else quantized(vec_col)
    )
    q = (
        df.select(F.col(id_col).alias("__id"), vq.alias("__v"))
        .where(F.col("__v").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # kmeans_fit's seed rule: slice-of-non-null == non-null-of-
        # slice, and the id ordering is content-independent, so the k
        # seed ids are the ones every per-subspace run would pick
        init = _md5_seed_rows(q, k)
        if not init:
            # all-null-element corpus: every per-subspace kmeans_fit
            # would return an empty codebook
            return [[] for _ in range(m)], sub_dim
        codebooks = [
            [
                (i, list(r["__v"])[s * sub_dim:(s + 1) * sub_dim])
                for i, r in enumerate(init)
            ]
            for s in range(m)
        ]
        sc = df.sparkSession.sparkContext
        for _ in range(iters):
            bc = _pq_broadcast_all_codebooks(sc, codebooks)
            part = _pq_update_partials_arrow(q, bc, sub_dim)
            # k·m·sub_dim (sub, cid, pos) rows -> per-(sub, cid)
            # position-sorted mean arrays, one dim-sized collect (the
            # kmeans_fit driver round-trip, all m subspaces at once)
            sums = (
                part.groupBy("sub", "cid", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .withColumn("m", F.floor(F.col("s") / F.col("n")).cast("long"))
                .groupBy("sub", "cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda x: x["m"],
                    ).alias("mv")
                )
                .collect()
            )
            bc.unpersist()
            by_sub: dict[int, dict[int, list[int]]] = {}
            for r in sums:
                by_sub.setdefault(r["sub"], {})[r["cid"]] = list(r["mv"])
            codebooks = [
                [
                    (cid, by_sub.get(s, {}).get(cid, old))
                    for cid, old in codebooks[s]
                ]
                for s in range(m)
            ]
        return codebooks, sub_dim
    finally:
        q.unpersist()


def _pq_broadcast_all_codebooks(sc, codebooks):
    """All m subspace centroid matrices in ONE broadcast: per subspace
    (cids, Cf float64 (k×sub_dim, integer-valued), cn2 int64, cmax) —
    the ``_broadcast_centroids`` payload, batched."""
    import numpy as np

    payload = []
    for cb in codebooks:
        cids = np.array([c for c, _ in cb], dtype=np.int64)
        C = np.array([v for _, v in cb], dtype=np.int64)
        payload.append(
            (
                cids,
                C.astype(np.float64),
                (C * C).sum(axis=1),
                float(np.abs(C).max()) if C.size else 0.0,
            )
        )
    return sc.broadcast(payload)


def _pq_update_partials_arrow(q: DataFrame, bc, sub_dim: int) -> DataFrame:
    """One FUSED Lloyd update scan over all m subspaces: per batch,
    for each subspace, the exact ``_update_partials_arrow`` argmin +
    bincount combine over the vector's sub-slice — the shuffle carries
    m·k·sub_dim rows per batch, and the corpus is read once per
    iteration instead of once per (subspace, iteration)."""
    import numpy as np

    def partials(batches):
        import pandas as pd

        payload = bc.value
        m = len(payload)
        dim = m * sub_dim
        for pdf in batches:
            if not len(pdf):
                continue
            keep, V = _finite_rows(np, pdf["__v"].tolist(), dim)
            if not keep:
                continue
            V = V.astype(np.int64)
            subs, cids_o, pos_o, s_o, n_o = [], [], [], [], []
            for s, (cids, Cf, cn2, cmax) in enumerate(payload):
                Vs = V[:, s * sub_dim:(s + 1) * sub_dim]
                cross = _cross_term(np, Vs, Cf, cmax, sub_dim)
                d2 = (Vs * Vs).sum(axis=1)[:, None] - 2 * cross + cn2[None, :]
                j = np.argmin(d2, axis=1)
                kk = Cf.shape[0]
                n_by = np.bincount(j, minlength=kk)
                s_by = np.zeros((kk, sub_dim), dtype=np.int64)
                np.add.at(s_by, j, Vs)
                live = np.flatnonzero(n_by)
                subs.append(
                    np.full(len(live) * sub_dim, s, dtype=np.int64)
                )
                cids_o.append(np.repeat(cids[live], sub_dim))
                pos_o.append(np.tile(np.arange(sub_dim), len(live)))
                s_o.append(s_by[live].ravel())
                n_o.append(np.repeat(n_by[live], sub_dim))
            yield pd.DataFrame(
                {
                    "sub": np.concatenate(subs),
                    "cid": np.concatenate(cids_o),
                    "pos": np.concatenate(pos_o),
                    "s": np.concatenate(s_o),
                    "n": np.concatenate(n_o),
                }
            )

    return q.mapInPandas(
        partials, schema="sub int, cid long, pos int, s long, n long"
    )


def _pq_codebook_broadcast(sc, codebooks, sub_dim: int):
    """(cids, C float64 (k×sub_dim, integer-valued), cn2 int64, cmax)
    per subspace, shipped once per executor."""
    import numpy as np

    payload = []
    for cb in codebooks:
        cb = sorted(cb)  # ascending cid — argmin ties → lowest cid
        C = np.array([v for _, v in cb], dtype=np.int64)
        payload.append(
            (
                np.array([cid for cid, _ in cb], dtype=np.int64),
                C.astype(np.float64),
                (C * C).sum(axis=1),
                float(np.abs(C).max()) if C.size else 0.0,
            )
        )
    return sc.broadcast((payload, sub_dim))


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    codebooks: list | None = None,
    sub_dim: int | None = None,
    pre_quantized: bool = False,
) -> DataFrame:
    """X61 — PQ-encode a corpus: each vector becomes ``m`` codebook
    ids (one per subspace, nearest centroid by exact squared quantized
    distance, ties → lowest cid) plus the total reconstruction error
    ``d2`` — the compressed representation that makes billion-vector
    ANN memory-feasible (64 int8-scale codes instead of 64 floats:
    the reason IVF-PQ is the standard 100 TB index layout).

    Returns (id, code_1..code_m, d2).

    Spark shape: training is m bounded Lloyd runs (``pq_train``); the
    encode itself is ONE fused Arrow scan — all m codebooks ride a
    single broadcast, each batch computes the m argmins as exact
    int64 matmuls (``_cross_term``), ZERO exchanges, no join.  The
    same degenerate-row policy as the IVF/k-means Arrow engines:
    null / wrong-length / non-finite vectors are omitted; embeddings
    are non-null fixed-dim by contract.
    """
    import numpy as np

    from genie_spark.analytics.similarity import QUANT_SCALE

    if codebooks is None:
        codebooks, sub_dim = pq_train(
            df, id_col, vec_col, m=m, k=k, iters=iters,
            pre_quantized=pre_quantized,
        )
    assert sub_dim is not None
    dim = sub_dim * len(codebooks)
    bc = _pq_codebook_broadcast(df.sparkSession.sparkContext, codebooks, sub_dim)
    n_sub = len(codebooks)

    def encode(batches):
        import pandas as pd

        payload, sd = bc.value

        for pdf in batches:
            if not len(pdf):
                continue
            keep, raw = _finite_rows(np, pdf[vec_col].tolist(), dim)
            if not keep:
                continue
            pdf = pdf.iloc[keep]
            if pre_quantized:  # already exact integers (residuals)
                V = raw.astype(np.int64)
            else:
                V = np.floor(raw * float(QUANT_SCALE) + 0.5).astype(np.int64)
            data = {"vid": pdf[id_col].to_numpy()}
            total = np.zeros(len(V), dtype=np.int64)
            for s, (cids, Cf, cn2, cmax) in enumerate(payload):
                Vs = V[:, s * sd:(s + 1) * sd]
                vn2 = (Vs * Vs).sum(axis=1)
                dots = _cross_term(np, Vs, Cf, cmax, sd)
                d2 = vn2[:, None] - 2 * dots + cn2[None, :]
                # first occurrence of the min — rows are ascending-cid,
                # so ties resolve to the lowest cid (the oracle's
                # ORDER BY d2, cid)
                j = np.argmin(d2, axis=1)
                data[f"code_{s + 1}"] = cids[j]
                total += d2[np.arange(len(V)), j]
            data["d2"] = total
            yield pd.DataFrame(data)

    schema = (
        "vid long, "
        + ", ".join(f"code_{s + 1} long" for s in range(n_sub))
        + ", d2 long"
    )
    out = df.select(id_col, vec_col).mapInPandas(encode, schema=schema)
    return out.select(
        F.col("vid").alias(id_col),
        *[f"code_{s + 1}" for s in range(n_sub)],
        "d2",
    )


def pq_topk(
    df: DataFrame,
    query_filter,
    k_neighbors: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    max_queries: int = 10_000,
) -> DataFrame:
    """X61 — asymmetric-distance (ADC) top-k over PQ codes: queries
    stay EXACT vectors, the corpus is its PQ codes, and each
    (query, subspace, codeword) distance is computed once into a
    lookup table — scoring a corpus vector is then ``m`` table adds,
    never a d-dimensional dot product (Jégou et al. 2011 §IV.A, the
    ADC form every IVF-PQ engine serves).

    Returns (query_id, neighbor_id, rank, adc_d2) with the package's
    total order (adc_d2 ASC, neighbor_id ASC); the query row itself is
    excluded.  Approximate BY DESIGN: ranks come from reconstruction-
    level distances — recall vs the exact baseline is a k/m/iters
    sizing question (measured in tests against brute-force cosine
    ordering at the operating point, not asserted equal).

    Spark shape: the LUT is queries × m × k rows (bounded — the query
    side is a benchmark-style set, guarded at ``max_queries``) built
    driver-side from collected query vectors and BROADCAST; the corpus
    codes unpivot narrowly (m rows per vector) and the score is ONE
    (query, vector)-keyed aggregate with map-side partial sums; top-k
    per query is a window over ≤ |Q|·n rows.  No corpus-side
    cross join, no vocabulary-sized shuffle.
    """
    import numpy as np

    from genie_spark.analytics.similarity import QUANT_SCALE

    codebooks, sub_dim = pq_train(df, id_col, vec_col, m=m, k=k, iters=iters)
    codes = pq_encode(
        df, id_col, vec_col, m=m, codebooks=codebooks, sub_dim=sub_dim
    )
    lut, _n_q = _pq_query_lut(
        df, query_filter, codebooks, sub_dim, id_col, vec_col, max_queries
    )
    unpivot = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(
            F.array(*[F.col(f"code_{s + 1}") for s in range(len(codebooks))])
        ).alias("pos", "cid"),
    ).select(
        "neighbor_id", (F.col("pos") + 1).cast("int").alias("s"), "cid"
    )
    scored = (
        unpivot.join(F.broadcast(lut), ["s", "cid"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
    )


def _pq_query_lut(
    df: DataFrame,
    query_filter,
    codebooks: list,
    sub_dim: int,
    id_col: str,
    vec_col: str,
    max_queries: int,
) -> DataFrame:
    """The ADC lookup table: exact squared distance from every query
    SUB-vector to every codeword — queries × m × k rows, built
    driver-side from the (guarded-bounded) collected query set and
    consumed as a broadcast.  Shared by ``pq_topk`` and
    ``ivfpq_topk``.  Returns (lut_df, n_query_rows) — the count comes
    free with the guarded collect, so callers never pay a second
    corpus scan to size the candidate estimate."""
    import numpy as np

    from genie_spark.analytics.similarity import QUANT_SCALE

    # guard BEFORE the full transfer: limit(max+1) bounds the collect,
    # so an out-of-contract corpus-sized query set raises instead of
    # OOMing the driver mid-collect
    q_rows = (
        df.where(query_filter)
        .select(id_col, vec_col)
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq LUT: query set exceeds max_queries={max_queries}; "
            "the LUT side must stay broadcastable"
        )
    lut_rows = []
    for r in q_rows:
        v = r[vec_col]
        if v is None or len(v) != sub_dim * len(codebooks):
            continue
        Vq = np.floor(
            np.array(v, dtype=np.float64) * float(QUANT_SCALE) + 0.5
        ).astype(np.int64)
        for s, cb in enumerate(codebooks):
            qs = Vq[s * sub_dim:(s + 1) * sub_dim]
            for cid, cv in cb:
                cvv = np.array(cv, dtype=np.int64)
                d = qs - cvv
                lut_rows.append(
                    (int(r[id_col]), s + 1, int(cid), int((d * d).sum()))
                )
    return (
        local_rows_df(
            df.sparkSession,
            lut_rows,
            "query_id long, s int, cid long, d2 long",
        ),
        len(q_rows),
    )


def ivfpq_topk(
    df: DataFrame,
    query_filter,
    k_neighbors: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    max_queries: int = 10_000,
    max_candidate_rows: int = 20_000_000,
) -> DataFrame:
    """X62 — IVF-PQ top-k (Jégou et al. 2011 §V: the inverted-file +
    product-quantization composite that IS the standard billion-vector
    index layout, e.g. FAISS IndexIVFPQ): the IVF coarse quantizer
    (X8's deterministic md5-chosen centroid cells) prunes the corpus
    to the query's ``n_probe`` nearest cells, and PQ codes (X61) score
    only those candidates by asymmetric distance — compute shrinks by
    ~n_probe/n_centroids AND memory by dim·4/m bytes per vector, which
    is why this pairing scales where flat indexes cannot.

    This composition uses the package's non-residual PQ form (codes
    are trained on raw vectors, not per-cell residuals — the simpler
    published variant; residual training would couple the codebooks
    to the coarse quantizer).  Coarse pruning is cosine (the X8
    engine, oracle-proven), ADC scoring is exact squared quantized
    distance (the X61 engine): approximate BY DESIGN at both stages.

    Returns (query_id, neighbor_id, rank, adc_d2), ties (adc_d2 ASC,
    neighbor_id ASC), query row excluded.

    Spark shape: centroid matrix + PQ codebooks + the ADC LUT all ride
    broadcasts; cell assignment and PQ encode are zero-shuffle Arrow
    scans; candidate generation is an EQUI-JOIN on the cell id (never
    a cross join); scoring joins the m-row unpivot of candidate codes
    to the broadcast LUT and partial-sums into ONE (query,
    vector)-keyed aggregate.  Every corpus-sized stage is a scan or an
    equi-join — the IVF-PQ shape at any scale.  The candidate-set
    broadcast hint applies only while the measured estimate
    |Q|·n_probe·⌈n/C⌉ ≤ ``max_candidate_rows`` (default 20M rows ≈
    320 MB of two longs); beyond it the join is left unhinted so AQE
    sizes the strategy — an unconditional hint would bypass Spark's
    size threshold and OOM when the caller ignores the √n sizing rule.
    """
    from genie_spark.analytics.similarity import (
        _centroid_rows,
        _ivf_centroid_broadcast,
        _ivf_probes_arrow,
    )

    cent_rows = _centroid_rows(df, id_col, vec_col, n_centroids)
    if not cent_rows:
        return local_rows_df(
            df.sparkSession,
            [], "query_id long, neighbor_id long, rank long, adc_d2 long"
        )
    n_probe = min(n_probe, len(cent_rows))
    bc = _ivf_centroid_broadcast(df, cent_rows)
    cells = _ivf_probes_arrow(
        df, id_col, vec_col, cent_rows, 1, bc=bc
    ).select(F.col("vid").alias("neighbor_id"), F.col("cell"))
    qprobes = _ivf_probes_arrow(
        df.where(query_filter), id_col, vec_col, cent_rows, n_probe, bc=bc
    ).select(F.col("vid").alias("query_id"), F.col("cell"))
    codebooks, sub_dim = pq_train(df, id_col, vec_col, m=m, k=k, iters=iters)
    codes = pq_encode(
        df, id_col, vec_col, m=m, codebooks=codebooks, sub_dim=sub_dim
    )
    lut, n_q = _pq_query_lut(
        df, query_filter, codebooks, sub_dim, id_col, vec_col, max_queries
    )
    # a corpus vector sits in exactly ONE cell (n_probe=1 assignment)
    # and a query's probed cells are distinct, so each (query,
    # neighbor) candidate appears at most once — no dedup needed
    cand = qprobes.join(cells, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id")
    unpivot = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(
            F.array(*[F.col(f"code_{s + 1}") for s in range(len(codebooks))])
        ).alias("pos", "cid"),
    ).select(
        "neighbor_id", (F.col("pos") + 1).cast("int").alias("s"), "cid"
    )
    # the candidate PAIR set is bounded by |Q|·n_probe·(n/C) — with C
    # on the √n sizing rule that is |Q|·n_probe·√n rows of two longs
    # (≈2M rows ≈ 32 MB even at 10⁹ vectors with a 16-query set), so
    # it BROADCASTS and the n·m code unpivot is never shuffled; the
    # first probe of this operator used a sort-merge join here and the
    # full-unpivot sort made the composite SLOWER than flat pq_topk
    # (33.9 s → 198 s per 10× — recorded in BASELINE.md).  But the √n
    # sizing is a CALLER convention, not enforced — so the hint is
    # guarded like the LUT: the estimate is measured (|Q| from the
    # already-bounded LUT query count, n/C from a cheap count), and an
    # over-cap candidate set falls back to a plain equi-join where AQE
    # picks the strategy from the REAL size instead of an unconditional
    # hint blowing past the BroadcastExchange limit.
    n_total = df.select(id_col).count()
    est = n_q * n_probe * max(1, -(-n_total // max(1, len(cent_rows))))
    cand_side = F.broadcast(cand) if est <= max_candidate_rows else cand
    scored = (
        unpivot.join(cand_side, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "cid"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
    )


def ivfpq_residual_topk(
    df: DataFrame,
    query_filter,
    k_neighbors: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    max_queries: int = 10_000,
    max_candidate_rows: int = 20_000_000,
) -> DataFrame:
    """X71 — RESIDUAL IVF-PQ top-k (Jégou et al. 2011 §V eq. 29-33:
    the actual FAISS IndexIVFPQ): PQ codebooks are trained on the
    per-cell residuals r(v) = v − c(cell(v)) instead of raw vectors,
    so the k·m codewords spend their whole budget on the WITHIN-cell
    geometry the coarse quantizer already localized — at a fixed
    (m, k) bit budget this recovers recall the non-residual composite
    (``ivfpq_topk``, X62) leaves on the table.  Measured recall@10 on
    the sf0.01 embeddings (20 queries, against exact squared quantized
    L2): flat PQ 0.145, ``ivfpq_topk`` 0.155, residual 0.16 at m=4,
    k=8; 0.27 / 0.29 / 0.255 at m=8, k=16 — a wash there, because
    those vectors are near-uniform (within-label variance is 98% of
    the total).  The clustered-corpus pytest pins the mechanism.

    Residuals are taken against each cell's MEAN (the paper's coarse
    centroid), not the md5-chosen seed vector that defines the cell:
    the mean minimizes within-cell squared distance (law of total
    variance), which is the entire mechanism of the recall win — a
    first probe of this operator subtracted the raw seed vectors and
    measured recall 0.08 vs X62's 0.155 (cosine-assigned seeds have
    arbitrary magnitude, so ||v − c|| EXCEEDED ||v||); cell means
    fixed it (see BASELINE.md).  Cell means are exact integers via
    the kmeans floor-mean idiom (floor(sum/count) per dimension, one
    dim-sized aggregate), so residuals stay EXACT integer
    subtractions (no float drift), the residual Lloyd runs reuse
    ``kmeans_fit`` with ``pre_quantized=True`` (same seeds, same
    updates), and the ADC lookup table is exact squared integer
    distance between the QUERY's per-probed-cell residual and each
    codeword — per (query, cell) as the paper requires, the one
    structural difference from X62's cell-independent LUT
    (|Q|·n_probe·m·k rows instead of |Q|·m·k — still broadcast-sized).

    Returns (query_id, neighbor_id, rank, adc_d2), ties (adc_d2 ASC,
    neighbor_id ASC), query row excluded.

    Spark shape: ONE carry-vec Arrow probe scan assigns cells and
    ships the quantized vector; residuals are a broadcast dim-table
    zip_with (map-side, zero exchange); training/encode ride the X61
    engines over the persisted residual table; candidates are the
    equi-join on the cell id; scoring joins the m-row code unpivot to
    the (guard-estimated) broadcast candidate set and the broadcast
    per-cell LUT, partial-summing into ONE (query, vector)-keyed
    aggregate — every corpus-sized stage is a scan or an equi-join,
    exactly the X62 shape plus one integer subtraction.
    """
    import numpy as np

    from genie_spark.analytics.dedup import _release_on_gc
    from genie_spark.analytics.similarity import (
        QUANT_SCALE,
        _centroid_rows,
        _ivf_centroid_broadcast,
        _ivf_probes_arrow,
    )

    spark = df.sparkSession
    out_schema = "query_id long, neighbor_id long, rank long, adc_d2 long"
    cent_rows = _centroid_rows(df, id_col, vec_col, n_centroids)
    if not cent_rows:
        return local_rows_df(spark, [], out_schema)
    n_probe = min(n_probe, len(cent_rows))
    bc = _ivf_centroid_broadcast(df, cent_rows)
    dim = len(cent_rows[0]["v"])
    if dim % m != 0:
        raise ValueError(f"ivfpq_residual_topk: dim {dim} % m={m} != 0")

    # ONE carry-vec scan: (vid, cell, v quantized, n2), persisted —
    # it feeds the cell-mean aggregate, the residual table, and the
    # candidate side
    from pyspark import StorageLevel

    cells = _ivf_probes_arrow(
        df, id_col, vec_col, cent_rows, 1, carry_vec=True, bc=bc
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # per-cell MEAN, exact integers (the kmeans floor-mean update
    # idiom — one dim-sized (cell, pos) aggregate with map-side
    # partial combine)
    mean_rows = (
        cells.select("cell", F.posexplode("v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("m", F.floor(F.col("s") / F.col("n")).cast("long"))
        .collect()
    )
    cmeans: dict[int, "np.ndarray"] = {}
    for r in mean_rows:
        cmeans.setdefault(int(r["cell"]), {})[int(r["pos"])] = int(r["m"])
    cmeans = {
        c: np.array([d[p] for p in range(dim)], dtype=np.int64)
        for c, d in cmeans.items()
    }
    cmean_df = local_rows_df(
        spark,
        [(c, [int(x) for x in v]) for c, v in sorted(cmeans.items())],
        "cell long, cv array<long>",
    )
    resid = (
        cells.join(F.broadcast(cmean_df), "cell")
        .select(
            F.col("vid"),
            F.col("cell"),
            F.zip_with("v", "cv", lambda a, b: a - b).alias("rvec"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    codebooks, sub_dim = pq_train(
        resid, "vid", "rvec", m=m, k=k, iters=iters, pre_quantized=True,
    )
    codes = pq_encode(
        resid, "vid", "rvec", m=m, codebooks=codebooks, sub_dim=sub_dim,
        pre_quantized=True,
    )

    # bounded query side: probes (distributed, then collected for the
    # per-cell LUT) + quantized query vectors, both guarded
    qdf = df.where(query_filter)
    q_rows = (
        qdf.select(id_col, vec_col).limit(max_queries + 1).collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivfpq_residual_topk: query set exceeds max_queries="
            f"{max_queries}; the LUT side must stay broadcastable"
        )
    keep, raw = _finite_rows(np, [r[vec_col] for r in q_rows], dim)
    qvecs = {}
    if keep:
        Q = np.floor(raw * float(QUANT_SCALE) + 0.5).astype(np.int64)
        qvecs = {int(q_rows[i][id_col]): v for i, v in zip(keep, Q)}
    qprobes = _ivf_probes_arrow(
        qdf, id_col, vec_col, cent_rows, n_probe, bc=bc
    ).select(F.col("vid").alias("query_id"), F.col("cell"))
    qp_rows = qprobes.collect()  # ≤ |Q|·n_probe — LUT-sized by guard

    # per-(query, probed cell) residual ADC LUT — exact int64
    lut_rows = []
    for r in qp_rows:
        qid, cell = int(r["query_id"]), int(r["cell"])
        qv = qvecs.get(qid)
        if qv is None or cell not in cmeans:
            continue
        rq = qv - cmeans[cell]
        for s, cb in enumerate(codebooks):
            qs = rq[s * sub_dim:(s + 1) * sub_dim]
            for cid, cw in cb:
                d = qs - np.array(cw, dtype=np.int64)
                lut_rows.append(
                    (qid, cell, s + 1, int(cid), int((d * d).sum()))
                )
    lut = local_rows_df(
        spark, lut_rows, "query_id long, cell long, s int, cid long, d2 long"
    )

    cand = (
        qprobes.join(
            cells.select(F.col("vid").alias("neighbor_id"), "cell"), "cell"
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell")
    )
    unpivot = codes.select(
        F.col("vid").alias("neighbor_id"),
        F.posexplode(
            F.array(*[F.col(f"code_{s + 1}") for s in range(len(codebooks))])
        ).alias("pos", "cid"),
    ).select(
        "neighbor_id", (F.col("pos") + 1).cast("int").alias("s"), "cid"
    )
    # the X62 broadcast guard: hint only while the measured estimate
    # |Q|·n_probe·⌈n/C⌉ fits; else leave it to AQE
    n_total = df.select(id_col).count()
    est = (
        len(qvecs) * n_probe
        * max(1, -(-n_total // max(1, len(cent_rows))))
    )
    cand_side = F.broadcast(cand) if est <= max_candidate_rows else cand
    scored = (
        unpivot.join(cand_side, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "cell", "s", "cid"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
    )
    return _release_on_gc(_release_on_gc(out, resid), cells)
