"""Similarity search over an embedding column (array<float>).

Determinism note: cosine over floats is NOT engine-stable (summation
order).  We quantize to integers (round(x*1000)) first — integer dot
products are exact in any order, and the final divide is a single
deterministic IEEE op — so Spark and the DuckDB oracle agree bit-for-bit.

Scale path: ``cosine_topk`` is the brute-force baseline (fine for a
broadcastable query set); ``lsh_cosine_candidates`` buckets vectors by
random-hyperplane signs so candidate generation is an equi-join, the
same banding idea as MinHash — that is the 1000-executor shape.

One engine per centroid operator: IVF cell assignment here, and
k-means and PQ in ``clustering``, each run as ONE Arrow
``mapInPandas`` scan of exact int64 matmuls (``_cross_term``) against
a centroid matrix shipped as a Spark broadcast, so plan size and
per-row cost are independent of the centroid count.  Those scans and
``semantic_decontaminate`` share one degenerate-row screen
(``_finite_rows``): null, wrong-length and non-finite vectors are
omitted, never cast to integer garbage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from genie_spark.session import local_rows_df

QUANT_SCALE = 1000


def quantized(col: str | Column, scale: int = QUANT_SCALE) -> Column:
    """array<float> → array<long>, x → floor(x*scale + 0.5).

    The element is cast to double BEFORE the multiply: float32×int runs
    in single precision (and DuckDB does the same on its side), so
    borderline values would round to different longs across engines.
    double(float32_value) is exact, and the whole expression is then
    identical IEEE-double arithmetic in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c,
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(
            "long"
        ),
    )


def dot(a: Column, b: Column) -> Column:
    """Exact integer dot product via zip_with + aggregate (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cross_term(np, V, Cf, cmax: float, dim: int):
    """Exact int64 ``V @ Cᵀ`` for integer-valued matrices.  When every
    product-sum is provably below 2^53 (inputs are integers, so every
    float64 multiply and add is exact regardless of BLAS ordering or
    FMA), run the matmul in float64 — BLAS-backed, measured ~5× faster
    than numpy's non-BLAS int64 gufunc at k=10⁴ — and round-trip to
    int64 losslessly.  Otherwise fall back to the int64 matmul
    (quantized embeddings are ~|2000| at QUANT_SCALE=1000, so
    dim·vmax·cmax ≈ 3·10⁹ ≪ 2^53; the fallback guards out-of-contract
    magnitudes, not typical data).  ``Cf`` is float64; ``cmax`` its
    max |value|."""
    vmax = float(np.abs(V).max()) if V.size else 0.0
    if float(dim) * vmax * cmax < 2.0**53:
        return (V.astype(np.float64) @ Cf.T).astype(np.int64)
    return V @ Cf.astype(np.int64).T


def _finite_rows(np, vals: list, dim: int):
    """The Arrow engines' one degenerate-row screen: keep only rows
    that are non-null, exactly ``dim`` long AND all-finite.  A null
    ELEMENT surfaces through Arrow as a float NaN, and NaN or ±Inf cast
    to int64 is INT64_MIN garbage that poisons distances and centroid
    sums — so the rows are built as float64 and screened before any
    integer cast (isfinite, not just not-NaN).  Returns (kept row
    indices, float64 matrix of those rows), or ``([], None)`` when no
    row survives; each caller casts or quantizes the matrix itself."""
    keep = [i for i, v in enumerate(vals) if v is not None and len(v) == dim]
    if not keep:
        return [], None
    raw = np.array([vals[i] for i in keep], dtype=np.float64)
    finite = np.isfinite(raw).all(axis=1)
    keep = [i for i, good in zip(keep, finite) if good]
    if not keep:
        return [], None
    return keep, raw[finite]


def _with_norm(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    q = quantized(vec_col)
    return df.select(
        F.col(id_col).alias(prefix),
        q.alias(f"{prefix}_v"),
    ).withColumn(f"{prefix}_n", dot(F.col(f"{prefix}_v"), F.col(f"{prefix}_v")))


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    max_rows: int | None = 50_000,
) -> DataFrame:
    """All pairs with quantized cosine similarity above threshold.
    O(n²) compare — the exact baseline the LSH variant approximates.
    Guarded: raises if the input exceeds ``max_rows`` (50k rows is
    already 1.25B pairs); at corpus scale use ``lsh_bucket_pairs`` /
    ``ivf_topk`` instead, or pass ``max_rows=None`` to force it."""
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_pairs is the O(n²) exact baseline; input has {n} rows "
                f"(> max_rows={max_rows}). Use lsh_bucket_pairs/ivf_topk at "
                "this scale, or pass max_rows=None to override."
            )
    a = _with_norm(df, id_col, vec_col, "a")
    b = _with_norm(df, id_col, vec_col, "b")
    cos = F.try_divide(
        dot(F.col("a_v"), F.col("b_v")), F.sqrt(F.col("a_n")) * F.sqrt(F.col("b_n"))
    )  # zero-norm vector → null similarity, not an ANSI error
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") > threshold)
        .select("a", "b", "cosine")
    )


def cosine_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_filter: Column | None = None,
) -> DataFrame:
    """Brute-force top-k neighbors for each query vector.

    The 100 TB shape: the (small, by contract) query set is collected
    and closed over as a numpy matrix; each corpus partition scores its
    vectors against ALL queries with one int64 matmul (Arrow-batched
    ``mapInPandas``) and emits only its LOCAL top-k per query, so the
    shuffle carries partitions × queries × k rows — never the full
    query × corpus pair set.  A final window takes the global top-k.

    Determinism: quantized int64 dot products are exact; cosine =
    dot / (sqrt(cn)·sqrt(qn)) is the same IEEE op sequence the SQL
    oracle runs; ties rank by neighbor id.
    """
    queries = df.where(query_filter) if query_filter is not None else df
    q_rows = queries.select(F.col(id_col), quantized(vec_col).alias("v")).collect()
    if not q_rows:
        schema = "query_id long, neighbor_id long, rank int, cosine double"
        return local_rows_df(df.sparkSession, [], schema)

    import numpy as np

    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.int64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1).astype("float64"))

    def score_partition(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["__v"]), dtype=np.int64)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1).astype("float64"))
            cos = (c_mat @ q_mat.T) / (c_norm[:, None] * q_norm[None, :])
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                s = cos[idx, j]
                # local top-k, ties by neighbor id ascending
                order = np.lexsort((ids[idx], -s))[:k]
                sel = idx[order]
                out_q.extend([q_ids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_c.extend(cos[sel, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    corpus = df.select(
        F.col(id_col).alias("__id"), quantized(vec_col).alias("__v")
    )
    local = corpus.mapInPandas(
        score_partition, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


N_CENTROIDS = 16
N_PROBE = 4


def _centroid_rows(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list:
    """The deterministic IVF "training" set: the n_centroids vectors
    with the smallest ``(md5(id), id)``, quantized, collected
    driver-side (tiny by contract).  Hash order is content-INDEPENDENT
    — on corpora where id order correlates with content (ingest order,
    sorted shards) the lowest-id rule put every cell centroid in one
    region, skewing cell occupancy and blowing up ``ivf_cell_pairs``'
    within-cell candidate volume (the same failure mode as k-means
    first-k seeding, VERDICT r7 item 5; mirrored in the SQL oracles'
    centroid CTEs).

    The md5 rule picks WHICH vectors are centroids; the returned rows
    are then re-sorted by cid, because the Arrow probe engine breaks
    cosine TIES by stable-argsort column position — equivalent to the
    (cos DESC, cid ASC) rule the SQL oracles apply only when centroid
    columns are in ascending-cid order
    (code-review r8: md5-ordered rows would probe tied cells in md5
    order and diverge on duplicate/zero-norm centroids).

    Seed screen: a null vector or one carrying a null/NaN/Inf ELEMENT
    never seeds a cell — the hash order samples the WHOLE id space,
    so out-of-contract rows that the lowest-id rule happened to skip
    can now be drawn, and an Inf-poisoned centroid would corrupt
    every row's cell assignment.  In-contract embeddings are finite
    fixed-dim, so the screen is a no-op there (and the SQL oracles,
    which only see in-contract data, don't need to mirror it)."""
    e = F.col(vec_col)
    clean = e.isNotNull() & F.forall(
        e,
        lambda x: x.isNotNull()
        & ~F.isnan(x.cast("double"))
        & (F.abs(x.cast("double")) != F.lit(float("inf"))),
    )
    rows = (
        df.where(clean)
        .select(F.col(id_col).alias("cid"), quantized(vec_col).alias("v"))
        .orderBy(F.md5(F.col("cid").cast("string")), F.col("cid"))
        .limit(n_centroids)
        .collect()
    )
    return sorted(rows, key=lambda r: r["cid"])


def _ivf_centroid_broadcast(df: DataFrame, cent_rows: list):
    """Build the (cids, Cf, cn, cmax) centroid broadcast once; callers
    issuing several Arrow probe scans over the same centroids (e.g.
    ``ivf_topk``'s corpus + query sides) share it instead of shipping
    the k·dim payload twice per executor."""
    import numpy as np

    C = np.array([list(r["v"]) for r in cent_rows], dtype=np.int64)
    cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cmax = float(np.abs(C).max()) if C.size else 0.0
    return df.sparkSession.sparkContext.broadcast(
        (cids, C.astype(np.float64), cn, cmax)
    )


def _ivf_probes_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list,
    n_probe: int,
    carry_vec: bool = False,
    bc=None,
) -> DataFrame:
    """Per-vector top-``n_probe`` IVF cells: one float64 cosine matrix
    per batch (exact int64 dot, then the IDENTICAL IEEE op sequence
    ``dot / (sqrt(vn)·sqrt(cn))`` as the SQL oracles) and a stable
    argsort — centroid columns are in ascending-cid order, so stable
    sort on descending cosine reproduces the oracles' (cos desc, cid
    asc) tie-break exactly.  A zero-norm side scores −inf (the
    oracles' null cosine also loses every comparison and falls to the
    lowest-cid tail).  Emits (vid, cell[, v, n2]) with one row per
    probed cell — pure map, no shuffle; per-row cost is one BLAS
    matmul row, which is what lets n_centroids follow its √n sizing
    rule at scale.
    Degenerate rows are omitted (``_finite_rows``); embeddings are
    non-null fixed-dim by contract.

    The centroid matrix rides a Spark BROADCAST variable, not a plan
    literal and not a task-closure capture: at the √n sizing rule the
    matrix is n_centroids·dim values (k≈31k · dim 768 → ~190 MB on
    10⁹ vectors) — as a literal the PLAN itself breaks, and as a
    closure it re-ships with every task; the broadcast ships once per
    executor and is cached by the worker process.
    """
    import numpy as np

    n_probe = min(n_probe, len(cent_rows))
    schema = f"vid long, cell long" + (
        ", v array<long>, n2 long" if carry_vec else ""
    )
    dim = len(cent_rows[0]["v"])
    # float64 centroid matrix: integer-valued, so the BLAS matmul in
    # _cross_term is exact (every product-sum < 2^53) and ~5× faster
    # than numpy's non-BLAS int64 gufunc at corpus-scale k
    if bc is None:
        bc = _ivf_centroid_broadcast(df, cent_rows)

    def probe(batches):
        import pandas as pd

        cids, Cf, cn, cmax = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            keep, raw = _finite_rows(np, pdf[vec_col].tolist(), dim)
            if not keep:
                continue
            pdf = pdf.iloc[keep]
            V = np.floor(raw * float(QUANT_SCALE) + 0.5).astype(np.int64)
            vn2 = (V * V).sum(axis=1)
            den = np.sqrt(vn2.astype(np.float64))[:, None] * cn[None, :]
            d = _cross_term(np, V, Cf, cmax, dim).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den > 0, d / den, -np.inf)
            order = np.argsort(-cos, axis=1, kind="stable")[:, :n_probe]
            data = {
                "vid": np.repeat(pdf[id_col].to_numpy(), n_probe),
                "cell": cids[order].ravel(),
            }
            if carry_vec:
                data["v"] = [
                    v for v in V for _ in range(n_probe)
                ]
                data["n2"] = np.repeat(vn2, n_probe)
            yield pd.DataFrame(data)

    return df.select(id_col, vec_col).mapInPandas(probe, schema=schema)


def ivf_cell_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 32,
    n_probe: int = 8,
) -> DataFrame:
    """IVF cell co-membership candidate pairs — the scale-safe
    candidate generator for embedding near-dup dedup (the same
    candidates→verify shape ``minhash_dedup_pairs`` uses).

    Every vector is assigned its ``n_probe`` nearest of ``n_centroids``
    deterministic centroid cells with a shuffle-free Arrow map (see
    ``_ivf_probes_arrow``); a pair is a candidate iff the two
    vectors share at least one probed cell, which makes candidate
    generation an EQUI-JOIN on the cell id — never a cross join.

    Sizing/recall: expected candidate volume ≈ n²·p²/(2C), so C grows
    with √n at scale (same rule as ``ivf_topk``).  Recall depends on
    how similar the target pairs are: near-identical vectors share
    their top cells almost surely, while weak-similarity thresholds
    (cosine ~0.35) sit in the hard LSH regime (amplification exponent
    ρ = ln(1/p1)/ln(1/p2) ≈ 0.7) where total recall costs a large
    probe budget.  Measured on the sf0.01 embeddings (500 vectors,
    271 pairs > 0.35): C=32/P=8 → recall 271/271 with 92% of all-pairs
    candidate volume at this tiny n; the volume FRACTION shrinks as
    n/C grows — see tools/stress_scale.py for the slope at 10×.
    """
    cent_rows = _centroid_rows(df, id_col, vec_col, n_centroids)
    if not cent_rows:
        return local_rows_df(df.sparkSession, [], "a long, b long")
    probes = _ivf_probes_arrow(df, id_col, vec_col, cent_rows, n_probe)
    a = probes.select(F.col("vid").alias("a"), "cell")
    b = probes.select(F.col("vid").alias("b"), "cell")
    # merge hint: probe-table self-join, both sides corpus-sized — a
    # static-misestimate broadcast here is a corpus-sized driver
    # collect (see dedup.ngram_jaccard_pairs)
    return (
        a.hint("merge").join(b, "cell")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def cosine_verify_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Exact quantized-cosine verification of CANDIDATE pairs only:
    join the (a, b) candidate set back to the vector table twice and
    keep pairs above threshold.  Shuffle volume is candidate-sized,
    not corpus²-sized — the verify half of the candidates→verify
    shape."""
    n = _with_norm(df, id_col, vec_col, "x")
    a = n.select(
        F.col("x").alias("a"), F.col("x_v").alias("a_v"), F.col("x_n").alias("a_n")
    )
    b = n.select(
        F.col("x").alias("b"), F.col("x_v").alias("b_v"), F.col("x_n").alias("b_n")
    )
    cos = F.try_divide(
        dot(F.col("a_v"), F.col("b_v")), F.sqrt(F.col("a_n")) * F.sqrt(F.col("b_n"))
    )
    # merge hints, NOT shuffle_hash: the candidate volume here is set
    # by the CALLER's generator sizing and can be mis-sized (observed:
    # a C=32 IVF at 50k vectors → ~4B candidates, and ShuffledHashJoin
    # hard-fails when a build partition outgrows execution memory —
    # "Can't acquire … bytes to build hash relation" — it does NOT
    # spill during build).  Sort-merge spills and degrades instead.
    # The vector sides still must never broadcast on a static
    # misestimate (corpus-sized driver collect).
    return (
        candidates.join(a.hint("merge"), "a")
        .join(b.hint("merge"), "b")
        .withColumn("cosine", cos)
        .where(F.col("cosine") > threshold)
        .select("a", "b", "cosine")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    k: int = 10,
    query_filter: Column | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: the scale path next to brute-force
    ``cosine_topk``.

    Deterministic "training": the ``n_centroids`` smallest-(md5(id), id) vectors ARE
    the centroids (no RNG — reproducible across engines/rounds).  Each
    corpus vector is assigned to its nearest centroid (cosine argmax,
    ties → lowest centroid id) with a PURE MAP — the centroids are
    collected (tiny) and shipped as one Spark broadcast to an Arrow
    matmul scan (``_ivf_probes_arrow``): zero shuffle over the corpus.
    Queries probe their ``n_probe`` nearest cells through the SAME
    scan (same tie-break order); candidates come from an equi-join on
    the cell id with the (small) probe side broadcast, so the corpus is
    never shuffled at all; only the candidate subset (~n·n_probe/
    n_centroids rows) hits the final top-k window.

    At 100 TB you raise ``n_centroids`` (√n rule): per-row assignment
    cost is one matmul row, independent of the centroid count, and the
    plan carries NO k·dim literal — plan size is independent of k
    (plan-pinned in tests/test_plans.py).
    """
    cent_rows = _centroid_rows(df, id_col, vec_col, n_centroids)
    if not cent_rows:
        return local_rows_df(
            df.sparkSession,
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    queries = df.where(query_filter) if query_filter is not None else df
    shared_bc = _ivf_centroid_broadcast(df, cent_rows)
    corpus = _ivf_probes_arrow(
        df, id_col, vec_col, cent_rows, 1, carry_vec=True, bc=shared_bc
    ).select(
        F.col("vid").alias("neighbor_id"),
        F.col("v").alias("n_v"),
        F.col("n2").alias("n_n"),
        "cell",
    )
    probes = _ivf_probes_arrow(
        queries, id_col, vec_col, cent_rows, n_probe, carry_vec=True,
        bc=shared_bc,
    ).select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("q_v"),
        F.col("n2").alias("q_n"),
        "cell",
    )
    cos = F.try_divide(
        dot(F.col("q_v"), F.col("n_v")), F.sqrt(F.col("q_n")) * F.sqrt(F.col("n_n"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        corpus.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


N_HYPERPLANES = 8


def _hyperplane(dim: int, seed: int) -> list[int]:
    """Deterministic ±1 hyperplane from md5 bits (no RNG API — results
    must be reproducible across engines and rounds; the planes are
    computed once driver-side for both ``sign_signatures`` and the SQL
    oracles).

    History: the first version used an LCG's low bit — whose parity
    strictly alternates, collapsing every plane to ±(+1,-1,+1,…): ONE
    effective bucket bit and n²/4 candidate pairs (caught by
    tools/stress_scale.py at 100k vectors).  md5 bytes have no such
    structure."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"plane_{seed}_{i}".encode()).digest()
        out.append(1 if h[0] & 1 else -1)
    return out


def banded_plane_counts(
    n_rows: int,
    n_tables: int = 4,
    target_occupancy: int = 16,
    min_planes: int = 8,
    max_planes: int = 62,
) -> list[int]:
    """Occupancy-targeted per-table plane counts for banded sign-LSH.

    Uniform ``ceil(log₂(n/B))`` sizing makes expected candidate volume
    (∝ n²·Σ_t 2^(−r_t)) jump by up to ~12.5× at tier boundaries: n²
    grows 100× per decade while 2^r grows in whole-power steps
    (BASELINE.md §5, the embedding_drop_e2e lumpy slope).  Instead,
    split the FRACTIONAL target r* = log₂(n/B) across tables: m tables
    get ⌈r*⌉ and the rest ⌊r*⌋, with m chosen so
    Σ_t 2^(−r_t) ≈ n_tables·2^(−r*) — mean bucket occupancy tracks B
    continuously and candidate volume stays within a constant factor
    of n_tables·n·B/2 at EVERY n, not just at powers of two.

    Per-table recall still amplifies as 1−Π_t(1−p^{r_t}); a ⌊r*⌋
    table is slightly more recall-generous than a ⌈r*⌉ one, so the mix
    is at least as recall-safe as uniform ceil sizing.

    This sizing is OPEN-LOOP (assumes uniform bucket occupancy); on
    skewed corpora the realized volume creeps above the target as n
    grows — use ``measured_plane_counts`` (closed-loop, samples the
    actual occupancy) when the corpus is at hand.
    """
    import math

    r_star = math.log2(max(float(n_rows), 1.0) / float(target_occupancy))
    r_star = min(max(r_star, float(min_planes)), float(max_planes))
    lo = int(math.floor(r_star))
    frac = r_star - lo
    if lo >= max_planes or frac == 0.0:
        return [lo] * n_tables
    # expected volume with m ceil-tables: 2^-lo · (n_tables − m/2);
    # match the fractional target n_tables·2^-(lo+frac)
    m = round(2.0 * n_tables * (1.0 - 2.0 ** (-frac)))
    m = min(max(m, 0), n_tables)
    return [lo + 1] * m + [lo] * (n_tables - m)


def measured_plane_counts(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 4,
    target_occupancy: int = 16,
    n_rows: int | None = None,
    slack: float = 1.25,
    sample_rows: int = 200_000,
    min_planes: int = 8,
    max_planes: int = 62,
    seed_base: int = 1,
) -> list[int]:
    """CLOSED-LOOP per-table plane counts for banded sign-LSH: measure
    each table's actual candidate volume on a sample and pick the
    smallest plane count that keeps it inside ``slack`` × the linear
    n·B/2 per-table target.

    ``banded_plane_counts`` sizes open-loop from n assuming UNIFORM
    bucket occupancy; real corpora concentrate mass in hot buckets
    (correlated dimensions, duplicate-heavy regions), and the measured
    excess GROWS with n — 1.47× the linear target at 100 k, 1.99× at
    1 M on the stress corpus (BASELINE.md round-7 tier), crossing the
    2× envelope at the next decade.  Closing the loop caps the total
    at ``slack`` × n_tables·n·B/2 at EVERY n by construction.

    Mechanics — exact, not analogy: table t's final planes are seeds
    ``seed_base + Σ_{u<t} r_u + p``, and because per-plane bit weights
    are 2^p, the bucket under r planes is ``bucket_R & (2^r − 1)`` of
    the same table's R-plane bucket.  So ONE signature scan per table
    at the max probed count R yields every candidate r's buckets by
    masking, and Σ_buckets c·(c−1)/2 on a Bernoulli sample is an
    UNBIASED estimator of f²·(true pair volume) — each pair survives
    the sample with probability f² (hot buckets, the ones that matter,
    are the best-sampled).  Tables are sized sequentially because
    table t's seed offset is the sum of the final counts before it —
    each table is measured with the exact planes it will run with.

    Cost: one bounded sample materialization + n_tables small
    scan+agg jobs over ≤ ``sample_rows`` rows — a fixed prelude,
    independent of corpus size, amortized against the corpus-sized
    banded join it protects.  Recall: raising r lowers per-table
    recall; the floor stays at the open-loop probe range's bottom and
    banding across ``n_tables`` amplifies as 1−Π(1−p^{r_t}), so the
    closed loop trades BOUNDED recall for BOUNDED cost only where the
    measured data demands it.  The probe window starts at the
    open-loop estimate ±2 and ESCALATES (4 planes per round, one
    bounded scan each) until the budget is met, the volume stops
    improving (exact-duplicate mass — no plane count splits identical
    sign patterns; cap those rows upstream like ``ngram_jaccard``'s
    hot-shingle cap), or ``max_planes`` is reached.
    """
    import math

    n = n_rows if n_rows is not None else df.count()
    if n <= 1:
        return [min_planes] * n_tables
    r_star = math.log2(max(float(n), 2.0) / float(target_occupancy))
    r_star = min(max(r_star, float(min_planes)), float(max_planes))
    lo = max(min_planes, int(math.floor(r_star)) - 2)
    hi = min(max_planes, int(math.ceil(r_star)) + 2)
    lo = min(lo, hi)

    f = min(1.0, float(sample_rows) / float(n))
    s = df.select(id_col, vec_col)
    if f < 1.0:
        s = s.sample(fraction=f, seed=7)
    # one bounded materialization shared by the n_tables probe scans
    s = s.localCheckpoint(eager=True)
    m = s.count()
    if m <= 1:
        return [min(max(int(round(r_star)), min_planes), max_planes)] * n_tables
    f2 = (float(m) / float(n)) ** 2
    budget = slack * float(n) * float(target_occupancy) / 2.0

    def probe_vols(offset: int, r_lo: int, r_hi: int) -> dict[int, int]:
        sig = sign_signatures(
            s, id_col, vec_col, dim, [r_hi], 1, seed_base=seed_base + offset
        )
        masked = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.col("b0").bitwiseAND(F.lit((1 << r) - 1)).alias("mb"),
                    )
                    for r in range(r_lo, r_hi + 1)
                ]
            )
        ).alias("x")
        return {
            row["r"]: int(row["v"])
            for row in (
                sig.select(masked)
                .select("x.r", "x.mb")
                .groupBy("r", "mb")
                .count()
                # c·(c−1) is always even — DIV keeps the sum exact long
                .groupBy("r")
                .agg(F.sum(F.expr("count * (count - 1) DIV 2")).alias("v"))
                .collect()
            )
        }

    counts: list[int] = []
    for _t in range(n_tables):
        offset = sum(counts)
        chosen: int | None = None
        r_lo, r_hi = lo, hi
        prev_floor: int | None = None
        while chosen is None:
            vols = probe_vols(offset, r_lo, r_hi)
            for r in range(r_lo, r_hi + 1):
                if float(vols.get(r, 0)) / f2 <= budget:
                    chosen = r
                    break
            if chosen is not None:
                break
            floor_v = vols.get(r_hi, 0)
            if r_hi >= max_planes or (
                prev_floor is not None and floor_v >= prev_floor
            ):
                # ceiling reached, or more planes stopped helping
                # (exact-duplicate sign patterns never split)
                chosen = r_hi
                break
            prev_floor = floor_v
            r_lo, r_hi = r_hi + 1, min(max_planes, r_hi + 4)
        counts.append(chosen)
    return counts


def sign_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int | list[int],
    n_tables: int,
    seed_base: int = 1,
) -> DataFrame:
    """All ``n_tables`` sign-LSH bucket ids in ONE Arrow scan:
    (id, b0..b{t-1}) via a single int64 matmul against the stacked
    (Σ_t r_t)×dim plane matrix.  Table t's bucket sets bit p (weight
    2^p) when the exact-integer projection of the ``quantized`` vector
    onto the md5 ±1 plane of seed ``seed_base + Σ_{u<t} r_u + p`` is
    positive — the expression the DuckDB oracles mirror.  One bit per
    plane makes assignment O(Σ r_t·dim) per row, independent of how
    many buckets exist, which is what lets the bucket count scale with
    n (unlike centroid IVF, whose per-row assignment is
    O(n_centroids)).  Pure map, no shuffle.  The matmul replaced Σ r_t
    interpreted higher-order-function folds per row: the signature
    stage of ``semantic_dedup`` went from 31 s to ~2 s at 1M vectors.

    ``n_planes`` may be one int (every table identical — the historic
    form, seed-compatible with it) or a per-table list of counts
    (``banded_plane_counts`` occupancy-smoothed sizing).  ``id_col``
    keeps its type.

    Degenerate rows: a null vector, one whose length ≠ ``dim``, or
    one carrying a null/NaN/Inf ELEMENT (Arrow surfaces element nulls
    as NaN) signs to bucket 0 in EVERY table.

    Guard: if the data's observed vector length disagrees with
    ``dim``, EVERY row would sign to bucket 0 and each banded
    self-join silently degenerates to a full within-key self-join —
    an unguarded O(n²) blowup — so a wrong ``dim`` raises up front
    (one single-row job).
    """
    import numpy as np
    from pyspark.sql import types as T

    first = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if first is not None and first[0] is not None and len(first[0]) != dim:
        raise ValueError(
            f"sign_signatures: dim={dim} but the data's {vec_col} vectors "
            f"have length {len(first[0])} — every row would sign to bucket "
            "0 and the banded joins would degenerate to full self-joins; "
            "pass the actual embedding dimensionality"
        )

    counts = (
        [n_planes] * n_tables if isinstance(n_planes, int) else list(n_planes)
    )
    if len(counts) != n_tables:
        raise ValueError(
            f"sign_signatures: {len(counts)} per-table plane counts for "
            f"n_tables={n_tables}"
        )
    if any(c < 1 or c > 62 for c in counts):
        raise ValueError(
            f"sign_signatures: plane counts {counts} outside [1, 62] "
            "(bucket ids are int64 bit-sums)"
        )
    offsets = [sum(counts[:t]) for t in range(n_tables)]
    P = np.array(
        [
            _hyperplane(dim, seed_base + offsets[t] + p)
            for t in range(n_tables)
            for p in range(counts[t])
        ],
        dtype=np.int64,
    )
    w_full = np.concatenate(
        [np.array([2**p for p in range(c)], dtype=np.int64) for c in counts]
    )
    schema = T.StructType(
        [df.schema[id_col]]
        + [T.StructField(f"b{t}", T.LongType()) for t in range(n_tables)]
    )

    def sign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col].tolist()
            # Arrow delivers list<float> cells as float ndarrays
            # (element nulls surface as NaN, not None); null vectors,
            # wrong-length vectors, and NaN-carrying vectors all mask
            # to bucket 0 — the expression form's null propagation
            ok = np.array([v is not None and len(v) == dim for v in vecs])
            out = np.zeros((len(vecs), n_tables), dtype=np.int64)
            if ok.any():
                V = np.array(
                    [v for v, good in zip(vecs, ok) if good], dtype=np.float64
                )
                # isfinite, not just not-NaN: Inf would quantize to
                # int64 garbage before the bucket mask zeroes the row
                finite = np.isfinite(V).all(axis=1)
                V = np.where(np.isfinite(V), V, 0.0)
                # exact mirror of quantized(): double(x)*1000.0+0.5, floor
                Q = np.floor(V * float(QUANT_SCALE) + 0.5).astype(np.int64)
                weighted = ((Q @ P.T) > 0).astype(np.int64) * w_full[None, :]
                buckets = np.empty((len(Q), n_tables), dtype=np.int64)
                for t in range(n_tables):
                    buckets[:, t] = weighted[
                        :, offsets[t]:offsets[t] + counts[t]
                    ].sum(axis=1)
                buckets[~finite] = 0
                out[ok] = buckets
            data = {id_col: pdf[id_col]}
            for t in range(n_tables):
                data[f"b{t}"] = out[:, t]
            yield pd.DataFrame(data)

    return df.select(id_col, vec_col).mapInPandas(sign, schema=schema)


def lsh_banded_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | list[int] = N_HYPERPLANES,
    n_tables: int = 4,
) -> DataFrame:
    """Multi-table (banded) sign-LSH candidate pairs — the near-LINEAR
    candidate generator for embedding near-dup at corpus scale.

    ``n_tables`` independent hyperplane tables of ``n_planes`` planes
    each; a pair is a candidate iff at least one table buckets the two
    vectors together (the same OR-of-bands amplification as the MinHash
    path).  Expected random-collision volume ≈ b·n²/2^r, so choosing
    r ≈ log₂(n/B) holds expected bucket occupancy at a constant B and
    the candidate volume at ~b·n·B/2 — LINEAR in n — while per-row
    assignment stays O(b·r·dim), independent of the bucket count.
    Size ``n_planes`` with ``banded_plane_counts(n)``: the per-table
    ⌊r*⌋/⌈r*⌉ mix tracks the fractional log₂(n/B) target continuously
    instead of jumping at whole-power tier boundaries.
    Recall for a pair with per-plane agreement p is 1-(1-p^r)^b: raise
    ``n_tables`` to buy recall at linear cost.  This is the generator
    to feed ``cosine_verify_pairs`` at 100 TB; the centroid
    ``ivf_cell_pairs`` variant trades this asymptotic for exact
    recall tuning at moderate corpus sizes (see its docstring and the
    measured slopes in BASELINE.md §5).
    """
    # localCheckpoint: 2·n_tables join branches consume the signature
    # table — without it every branch re-runs the Arrow signature scan
    sigs = (
        sign_signatures(df, id_col, vec_col, dim, n_planes, n_tables)
        .withColumnRenamed(id_col, "vid")
        .localCheckpoint(eager=True)
    )
    cands = None
    for t in range(n_tables):
        a = sigs.select(F.col("vid").alias("a"), F.col(f"b{t}").alias("bucket"))
        b = sigs.select(F.col("vid").alias("b"), F.col(f"b{t}").alias("bucket"))
        pairs_t = (
            a.hint("merge").join(b, "bucket")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        cands = pairs_t if cands is None else cands.unionByName(pairs_t)
    return cands.distinct()


def lsh_cosine_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """Random-hyperplane LSH bucketing: sign-bit signature per vector;
    vectors sharing the signature are candidate neighbors.  Turns ANN
    candidate generation into a groupBy/equi-join on the signature —
    the scale path (no cross join).  Signs through
    ``sign_signatures(..., n_tables=1)``, so a ``dim`` that disagrees
    with the data raises instead of bucketing every row to 0.

    Sizing: expected candidate volume ≈ n²/2^n_planes, so n_planes must
    grow with log₂(n) — 8 planes is right for ~10⁴ vectors, use ~16 at
    10⁵, ~30 at 10¹⁰ (or band several shorter signatures with
    ``lsh_banded_pairs`` to keep recall).  Measured in
    tools/stress_scale.py: at 100k vectors, 8 planes → 23.9M pairs,
    16 planes → 170k."""
    sigs = sign_signatures(df, id_col, vec_col, dim, n_planes, 1)
    a = sigs.select(F.col(id_col).alias("a"), F.col("b0").alias("bucket"))
    b = sigs.select(F.col(id_col).alias("b"), F.col("b0").alias("bucket"))
    # merge hint: signature-table self-join (see lsh_banded_pairs)
    return (
        a.hint("merge").join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "bucket")
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_eval_rows: int = 1_000_000,
) -> DataFrame:
    """X57 — embedding-space benchmark decontamination: flag every
    corpus vector whose cosine similarity against ANY eval-set vector
    reaches ``threshold``.  This completes the decontamination ladder —
    exact n-gram overlap (X12) catches verbatim leakage, the Bloom
    variant (X34) makes it fixed-memory, and this semantic form catches
    PARAPHRASED contamination that shares no 8-gram with the benchmark
    (the embedding-similarity decontamination step of open-LLM data
    reports, e.g. the Llama/GPT-3 n-gram+fuzzy dedup appendix family).

    Returns (id, eval_id, max_cosine, is_contaminated): the nearest
    eval vector (ties → lowest eval id), its cosine, and the threshold
    flag — one row per corpus vector, so the drop step is a trivial
    filter and the audit counts (how many dropped, against which eval
    rows) are one aggregation away (the X32 no-silent-drop discipline).

    Determinism: vectors are integer-quantized (``quantized``), dot
    products are exact int64, and the cosine is the IDENTICAL IEEE op
    sequence ``dot / (sqrt(nn_a)·sqrt(nn_b))`` as the IVF/ANN oracles —
    bit-identical between the Arrow matmul and DuckDB.  Zero-norm eval
    vectors are dropped at build (cosine undefined), as are NULL /
    null-element eval embeddings; a zero-norm corpus vector gets
    (NULL eval_id, NULL max_cosine, false).

    Spark shape (the 100 TB one): the eval set is genuinely small by
    contract (benchmark suites are thousands of rows — guarded at
    ``max_eval_rows``) and rides ONE Spark broadcast as a float64
    matrix (integer-valued, so the BLAS matmul in ``_cross_term`` is
    exact below 2^53 — the IVF probe engine); the corpus side is a
    single ``mapInPandas`` scan with ZERO exchanges — no join, no
    shuffle, no corpus-side state — so the pass scales exactly as the
    parquet scan and is embarrassingly parallel across 1000 executors.
    """
    import numpy as np

    # guard BEFORE the full collect (limit(max+1) bounds the driver
    # transfer, so an out-of-contract corpus-sized eval set raises
    # instead of OOMing the driver mid-collect)
    rows = (
        evalset.select(F.col(id_col).alias("cid"), quantized(vec_col).alias("v"))
        .limit(max_eval_rows + 1)
        .collect()
    )
    if len(rows) > max_eval_rows:
        raise ValueError(
            f"semantic_decontaminate: eval set exceeds max_eval_rows="
            f"{max_eval_rows}; the eval side must be broadcastable — "
            "pre-reduce it or raise the guard explicitly"
        )
    # NULL / null-element eval embeddings are omitted like zero-norm
    # ones (cosine undefined) — the same graceful-omit policy the
    # corpus side applies, instead of an opaque TypeError mid-iteration
    rows = sorted(
        (
            r
            for r in rows
            if r["v"] is not None
            and all(x is not None for x in r["v"])
            and any(x != 0 for x in r["v"])
        ),
        key=lambda r: r["cid"],
    )
    if not rows:
        raise ValueError(
            "semantic_decontaminate: eval set is empty (or all zero-norm)"
        )
    dim = len(rows[0]["v"])
    bc = _ivf_centroid_broadcast(corpus, rows)
    thr = float(threshold)

    def probe(batches):
        import pandas as pd

        cids, Cf, cn, cmax = bc.value

        for pdf in batches:
            if not len(pdf):
                continue
            # degenerate rows are omitted; the embedding column is
            # non-null fixed-dim by contract
            keep, raw = _finite_rows(np, pdf[vec_col].tolist(), dim)
            if not keep:
                continue
            pdf = pdf.iloc[keep]
            V = np.floor(raw * float(QUANT_SCALE) + 0.5).astype(np.int64)
            vn2 = (V * V).sum(axis=1)
            valid = vn2 > 0
            den = np.sqrt(vn2.astype(np.float64))[:, None] * cn[None, :]
            d = _cross_term(np, V, Cf, cmax, dim).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den > 0, d / den, -np.inf)
            # argmax takes the FIRST max — columns are ascending-cid,
            # so ties resolve to the lowest eval id (the oracle's
            # ORDER BY cosine DESC, eval_id ASC)
            j = np.argmax(cos, axis=1)
            mx = cos[np.arange(len(V)), j]
            # object columns so a zero-norm row yields SQL NULL (a
            # float NaN would survive as Spark NaN ≠ the oracle's NULL)
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].to_numpy(),
                    "eval_id": [
                        int(cids[jj]) if ok else None
                        for jj, ok in zip(j, valid)
                    ],
                    "max_cosine": [
                        float(m) if ok else None for m, ok in zip(mx, valid)
                    ],
                    "is_contaminated": valid & (mx >= thr),
                }
            )

    out = corpus.select(id_col, vec_col).mapInPandas(
        probe,
        schema=f"vid long, eval_id long, max_cosine double, "
        f"is_contaminated boolean",
    )
    return out.select(
        F.col("vid").alias(id_col), "eval_id", "max_cosine", "is_contaminated"
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 8,
    dim: int = 64,
    seed0: int = 1,
) -> DataFrame:
    """X85 — signed random projection (Achlioptas 2003
    "database-friendly" ±1 projections; the Johnson-Lindenstrauss
    embedding-compression step a retrieval pipeline runs before ANN
    when the native dimension is too wide to index): each output
    coordinate j is the exact integer dot product of the quantized
    vector with a deterministic ±1 plane (the same md5-derived
    ``_hyperplane`` family the sign-LSH uses, seeds ``seed0 + j``), so
    E[<p(u), p(v)>] = out_dim·<u, v> and squared distances are
    preserved within the JL bound — but unlike the LSH signature the
    PROJECTION VALUES are kept, giving a dim-reduced integer embedding
    that downstream exact or ANN search can consume.

    Returns (id_col, rp array<long> of length ``out_dim``) — exact
    integers, reproducible across engines and rounds (no RNG API).

    Spark shape (the 100 TB one): the planes are literals folded into
    the projection expressions — scan → project, zero exchange, zero
    UDF, whole-stage codegen; cost O(out_dim·dim) per row independent
    of corpus size.  Rows whose vector is null or mis-sized project
    to null (zip_with null-pads, aggregate propagates), mirroring the
    LSH family's null contract.
    """
    if out_dim < 1:
        raise ValueError(f"random_projection: out_dim must be >= 1, got {out_dim}")
    q = quantized(vec_col)
    projs = []
    for j in range(out_dim):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, seed0 + j)])
        projs.append(dot(q, plane).cast("long"))
    return df.select(F.col(id_col), F.array(*projs).alias("rp"))


def rrf_fuse(
    lists: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    c: int = 60,
    k: int = 25,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """X86 — reciprocal rank fusion (Cormack, Clarke & Büttcher, SIGIR
    2009): the standard hybrid-retrieval combiner — fuse N ranked
    lists (lexical BM25, dense ANN, ...) by summing reciprocal ranks,
    fused(d) = Σ_lists 1/(c + rank_l(d)), c = 60 in the published
    recipe.  RRF needs no score calibration across lists (only ranks),
    which is what makes it the default fusion in RAG candidate
    selection.

    EXACT-INTEGER scoring (the bm25/tf-idf discipline — no floats, no
    engine drift): per appearance  s = scale div (c + rank), summed
    per id; ties break on (rrf_q DESC, id ASC).  With the default
    scale the integer floor preserves the RRF order for any c + rank
    < ~3·10⁴ (adjacent reciprocals differ by ≳ scale/(c+rank)² ≥ 1),
    far beyond practical fused-list depths.

    Returns the fused top-``k``: (id_col, rrf_q, n_lists, best_rank,
    fused_rank).

    Spark shape: union of dim-sized ranked lists (each already ≤ its
    own k), ONE aggregate, TakeOrderedAndProject, and a bounded rank —
    nothing corpus-sized touches the fusion.
    """
    if not lists:
        raise ValueError("rrf_fuse: need at least one ranked list")
    u = None
    for df in lists:
        part = df.select(
            F.col(id_col), F.col(rank_col).cast("long").alias("__r")
        )
        u = part if u is None else u.unionByName(part)
    per = u.select(
        id_col,
        F.expr(f"CAST({int(scale)} AS BIGINT) div ({int(c)} + __r)").alias(
            "__s"
        ),
        "__r",
    )
    agg = (
        per.groupBy(id_col)
        .agg(
            F.sum("__s").cast("long").alias("rrf_q"),
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.min("__r").cast("long").alias("best_rank"),
        )
        .orderBy(F.desc("rrf_q"), F.asc(id_col))
        .limit(k)
    )
    from genie_spark.functions.ranking import rank_bounded

    return rank_bounded(
        agg, F.desc("rrf_q"), F.asc(id_col),
        rank_col="fused_rank", max_rows=k,
    )


def sq8_minmax(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> tuple[list[int], list[int]]:
    """X89 — per-dimension (min, max) of the QUANTIZED corpus, the
    training step of scalar quantization (the SQ8 codec of the FAISS /
    Milvus / Lucene vector stores: 4× smaller than float32, one byte
    per dimension).  Exact integers end-to-end, so the trained bounds
    are reproducible across engines and appends.

    Spark shape: ONE scan with 2·dim codegen'd min/max aggregates
    (map-side partial → a single dim-sized row on the driver) — the
    artifact is tiny and never data-scaled.  Rows whose vector is
    mis-sized are excluded (the Arrow engines' screen rule)."""
    q = df.select(quantized(vec_col).alias("__v")).where(
        F.size("__v") == dim
    )
    aggs = []
    for i in range(dim):
        e = F.element_at("__v", i + 1)
        aggs.append(F.min(e).alias(f"mn{i}"))
        aggs.append(F.max(e).alias(f"mx{i}"))
    row = q.agg(*aggs).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"sq8_minmax: no vector of dim={dim} to train on"
        )
    return (
        [int(row[f"mn{i}"]) for i in range(dim)],
        [int(row[f"mx{i}"]) for i in range(dim)],
    )


def sq8_codes(
    df: DataFrame,
    mn: list[int],
    mx: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X89 — encode each vector against trained per-dim bounds:
    ``code_i = ((v_i - mn_i) * 255) div max(1, mx_i - mn_i)`` — pure
    integer floor arithmetic (operands nonnegative after the min
    shift, so ``div`` == floor in both engines), codes in 0..255.

    Spark shape: the bounds are LITERAL arrays folded into one
    codegen'd ``transform`` — scan → project, zero exchange, zero UDF
    (the X85 literal-plane pattern).  Mis-sized vectors yield null
    codes (excluded downstream by the search engine's screen)."""
    dim = len(mn)
    if len(mx) != dim:
        raise ValueError("sq8_codes: mn/mx length mismatch")
    mn_lit = "array(" + ",".join(f"{int(v)}L" for v in mn) + ")"
    mx_lit = "array(" + ",".join(f"{int(v)}L" for v in mx) + ")"
    q = quantized(vec_col)
    codes = F.expr(
        f"transform(__q, (x, i) -> "
        f"((x - element_at({mn_lit}, i + 1)) * 255) div "
        f"greatest(1L, element_at({mx_lit}, i + 1) - element_at({mn_lit}, i + 1)))"
    )
    return (
        df.select(F.col(id_col), q.alias("__q"))
        .where(F.size("__q") == dim)
        .select(F.col(id_col), codes.alias("code"))
    )


def sq8_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    query_filter: Column | None = None,
    max_query_rows: int | None = 50_000,
) -> DataFrame:
    """X89 — top-k search over SQ8 codes: each side is DECODED back to
    the exact-integer reconstruction ``d_i = 255·mn_i +
    code_i·(mx_i − mn_i)`` (the dequantize step of the FAISS/Lucene SQ
    codec, scaled by 255 to stay integral) and scored by cosine over
    the reconstructions.  Scoring raw code dot products would be
    WRONG — the per-dim min shift is affine, and an affine shift does
    not preserve inner-product order; decode-then-dot is the standard
    SQ search and is what keeps recall against the exact ranking.
    |d| ≤ 255·(|mn| + |mx − mn|) ≈ 10⁶ here, so the 64-dim dot stays
    ≪ 2^53 and the float64 matmul is exact.  Returns (query_id,
    neighbor_id, rank, qcos), ties by neighbor id.

    The 100 TB shape (the ``cosine_topk`` engine, re-scored): train =
    one min/max aggregate; encode = map-side literal-array transform;
    the (small, by contract — ``max_query_rows`` guards it) query code
    set closes over an Arrow scorer that emits only its partition's
    LOCAL top-k, so the final window sees partitions × queries × k
    rows, never the corpus."""
    mn, mx = sq8_minmax(df, vec_col, dim)
    codes = sq8_codes(df, mn, mx, id_col, vec_col)
    queries = (
        codes.join(
            df.where(query_filter).select(F.col(id_col)), id_col, "semi"
        )
        if query_filter is not None
        else codes
    )
    if max_query_rows is not None:
        n = queries.limit(int(max_query_rows) + 1).count()
        if n > max_query_rows:
            raise ValueError(
                f"sq8_topk: query set exceeds max_query_rows="
                f"{max_query_rows} — the query codes ride a driver "
                "collect + task closure. Batch the queries, or pass "
                "max_query_rows=None to override."
            )
    q_rows = queries.collect()
    if not q_rows:
        return local_rows_df(
            df.sparkSession,
            [], "query_id long, neighbor_id long, rank int, qcos double"
        )

    import numpy as np

    mn_a = np.array(mn, dtype=np.int64)
    span = np.array(mx, dtype=np.int64) - mn_a

    def decode(codes_mat):
        # exact-integer reconstruction, scaled by 255 (scale cancels
        # in the cosine)
        return 255 * mn_a[None, :] + codes_mat * span[None, :]

    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_dec = decode(np.array([r[1] for r in q_rows], dtype=np.int64))
    q_norm = np.sqrt((q_dec * q_dec).sum(axis=1).astype("float64"))

    def score_partition(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            c_dec = decode(np.array(list(pdf["__c"]), dtype=np.int64))
            c_norm = np.sqrt((c_dec * c_dec).sum(axis=1).astype("float64"))
            # integer-valued float64 matmul: exact below 2^53
            qcos = (c_dec.astype(np.float64) @ q_dec.astype(np.float64).T) / (
                c_norm[:, None] * q_norm[None, :]
            )
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                idx = np.nonzero(ids != q_ids[j])[0]
                if idx.size == 0:
                    continue
                order = np.lexsort((ids[idx], -qcos[idx, j]))[:k]
                sel = idx[order]
                out_q.extend([q_ids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_s.extend(qcos[sel, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "qcos": out_s}
            )

    local = codes.select(
        F.col(id_col).alias("__id"), F.col("code").alias("__c")
    ).mapInPandas(
        score_partition, schema="query_id long, neighbor_id long, qcos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "qcos")
    )


def prefix_rerank_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dim: int = 16,
    m: int = 50,
    k: int = 10,
    query_filter: Column | None = None,
    max_query_rows: int | None = 50_000,
) -> DataFrame:
    """X90 — Matryoshka two-stage retrieval (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): stage 1 ranks by the exact
    integer dot product of the first ``prefix_dim`` dimensions (the
    cheap truncated embedding) and keeps the top ``m`` candidates per
    query; stage 2 reranks ONLY those candidates by full-dimension
    cosine and returns the top ``k`` — the standard adaptive-retrieval
    funnel (coarse prefix pass over everything, exact pass over m ≪
    corpus).

    Determinism: both stages are exact integer dots with
    (score DESC, neighbor_id ASC) ties, so the candidate SET — not
    just the final ranking — is engine-reproducible.

    The 100 TB shape: stage 1 is the ``cosine_topk`` local-top-m
    engine over sliced vectors (scan → Arrow matmul → partition-local
    top-m → window over partitions × queries × m rows); stage 2 joins
    the TINY candidate list (queries × m rows, broadcast) back to the
    corpus for full vectors — one hash join that streams the corpus
    once, no pair blow-up — then a bounded window ranks queries × m
    scored rows."""
    if not 1 <= prefix_dim:
        raise ValueError("prefix_rerank_topk: prefix_dim must be >= 1")
    pref = df.select(
        F.col(id_col), F.slice(quantized(vec_col), 1, prefix_dim).alias("pv")
    )
    qset = (
        pref.join(df.where(query_filter).select(id_col), id_col, "semi")
        if query_filter is not None
        else pref
    )
    if max_query_rows is not None:
        n = qset.limit(int(max_query_rows) + 1).count()
        if n > max_query_rows:
            raise ValueError(
                f"prefix_rerank_topk: query set exceeds max_query_rows="
                f"{max_query_rows} — query vectors ride a driver collect "
                "+ literal maps. Batch the queries, or pass "
                "max_query_rows=None to override."
            )
    q_rows = qset.collect()
    if not q_rows:
        return local_rows_df(
            df.sparkSession,
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )

    import numpy as np

    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.int64)

    def stage1(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["__p"]), dtype=np.int64)
            pdot = (
                c_mat.astype(np.float64) @ q_mat.astype(np.float64).T
            ).astype(np.int64)
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                idx = np.nonzero(ids != q_ids[j])[0]
                if idx.size == 0:
                    continue
                order = np.lexsort((ids[idx], -pdot[idx, j]))[:m]
                sel = idx[order]
                out_q.extend([q_ids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_s.extend(pdot[sel, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "pdot": out_s}
            )

    local = pref.select(
        F.col(id_col).alias("__id"), F.col("pv").alias("__p")
    ).mapInPandas(
        stage1, schema="query_id long, neighbor_id long, pdot long"
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("pdot").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        local.withColumn("__r", F.row_number().over(w1))
        .where(F.col("__r") <= m)
        .select("query_id", "neighbor_id")
    )
    # stage 2: all JVM-side broadcast joins — the candidate list and
    # the (guarded, query-sized) query-vector table both broadcast;
    # the corpus streams once for neighbor vectors.  (r15 code-review
    # finding: the first cut re-emitted the collected query vectors as
    # literal map expressions — queries × dim lit() calls, which
    # breaks down long before the max_query_rows contract bound.)
    full = _with_norm(df, id_col, vec_col, "n").select(
        F.col("n").alias("__fid"), "n_v", "n_n"
    )
    qfull = _with_norm(
        df.where(query_filter) if query_filter is not None else df,
        id_col,
        vec_col,
        "q",
    )
    scored = (
        full.join(F.broadcast(cand), full["__fid"] == cand["neighbor_id"])
        .join(F.broadcast(qfull), F.col("query_id") == F.col("q"))
        .withColumn(
            "cosine",
            dot(F.col("q_v"), F.col("n_v"))
            / (F.sqrt(F.col("q_n")) * F.sqrt(F.col("n_n"))),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
