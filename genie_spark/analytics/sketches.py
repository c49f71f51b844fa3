"""Mergeable distinct-count sketches: deterministic K-Minimum-Values.

At 100 TB the value of a sketch is the ARTIFACT, not the first scan:
a KMV sketch summarizes a shard's (or a release's) distinct values as
k longs that merge ASSOCIATIVELY — union the arrays, re-take the k
smallest — so cross-shard / cross-release / rolling-window distinct
counts never re-read data.  The estimator is Beyer et al.'s unbiased
KMV (SIGMOD'07): with h uniform on [0, 1), the k-th smallest hash
h_(k) of D distinct values concentrates around k/D, so
``(k-1) / h_(k)`` estimates D with relative error ~1/sqrt(k-2).

Also here: HyperLogLog register tables (``hll_sketch``, X38) — the
same mergeable-artifact contract with 2^p max-merged registers and a
raw estimator arranged so the harmonic sum is EXACT integer math (the
usual float 2^−M_j sum and ln-based small-range correction are the
engine-portability hazards; see ``hll_estimate``).

Engine determinism (what lets a DuckDB oracle reproduce the estimate
bit-for-bit):

* hash: first 15 md5 hex chars of the stringified value → a 60-bit
  non-negative long — the same md5-uniform family every sampling op in
  ``analytics.corpus`` uses;
* estimate: ``(k-1) * 2^60 / h_k`` — one long→double conversion and
  one IEEE divide, identical op sequence in any engine;
* the sketch itself is a sorted long array — no RNG, no platform salt.

Scale shape: the BUILD is one distinct-style shuffle of (group, hash)
pairs — partial aggregation dedupes repeated values map-side, and only
the 8-byte hash travels, never the value — followed by a per-group
top-k window over hashes.  That is the one unavoidable pass over raw
data; every later question (union across shards, release-over-release
growth) is answered by ``kmv_merge`` over k-row artifacts.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from genie_spark.session import local_rows_df

KMV_BITS = 60
KMV_DENOM = float(1 << KMV_BITS)
DEFAULT_K = 64


def kmv_hash(col: str | Column) -> Column:
    """Deterministic 60-bit uniform hash: first 15 md5 hex chars of the
    stringified value — DELEGATES to ``dedup.shingle_hash`` so the
    engine-parity-critical formula (mirrored in every DuckDB oracle as
    CAST('0x'||substr(md5(s),1,15) AS BIGINT)) lives in exactly one
    place.  60 bits keeps the long positive and the long→double
    conversion identical across engines; collisions at 2^-60 are below
    any estimator's noise floor."""
    from genie_spark.analytics.dedup import shingle_hash

    c = F.col(col) if isinstance(col, str) else col
    return shingle_hash(c.cast("string"))


def _estimate(kmin: Column, n_seen: Column, k: int) -> Column:
    """(k-1)/h_(k) scaled back from the 2^60 hash domain; exact count
    when the group has fewer than k distinct values (the sketch IS the
    value set then)."""
    # try_element_at, not element_at: CASE short-circuits, but ANSI
    # element_at on a short array must never be reachable even under
    # expression reordering
    return F.when(
        n_seen < k, n_seen.cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(KMV_DENOM)
        / F.try_element_at(kmin, F.lit(k)).cast("double")
    )


def kmv_sketch(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "text",
    k: int = DEFAULT_K,
    n_salts: int = 64,
) -> DataFrame:
    """Per-group KMV distinct sketch: (group, kmin array<long>, n_seen,
    est_distinct).  ``kmin`` holds the k smallest distinct hashes
    sorted ascending (fewer if the group is small) — the mergeable
    artifact ``kmv_merge`` consumes.

    Plan: distinct (group, hash) — map-side combine collapses repeats
    before the shuffle, and the shuffle rows are 16 bytes regardless of
    value width — then a SALTED two-phase top-k: a window over
    (group, h % n_salts) keeps each salt bucket's k smallest, the
    final window over (group) ranks only n_salts·k survivors.  A
    single per-group window would funnel every distinct hash of a
    group through ONE reducer — with few, huge groups (20 sources ×
    billions of docs) that task IS the job; salting bounds the final
    task at n_salts·k rows per group.  Deriving the salt from the hash
    itself (not the row) keeps the phase-1 buckets disjoint, so
    phase 2 stays exact."""
    h = kmv_hash(value_col)
    hashes = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), h.alias("h"))
        .distinct()
    )
    w1 = Window.partitionBy("g", "salt").orderBy("h")
    local = (
        hashes.withColumn("salt", F.col("h") % n_salts)
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= k)
    )
    w2 = Window.partitionBy("g").orderBy("h")
    ranked = (
        local.select("g", "h")
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
    )
    sk = ranked.groupBy("g").agg(
        F.sort_array(F.collect_list("h")).alias("kmin"),
        F.count(F.lit(1)).alias("n_seen"),
    )
    return sk.select(
        F.col("g").alias(group_col),
        "kmin",
        "n_seen",
        _estimate(F.col("kmin"), F.col("n_seen"), k).alias("est_distinct"),
    )


def kmv_merge(
    sketches: DataFrame,
    group_col: str = "source",
    k: int = DEFAULT_K,
) -> DataFrame:
    """Merge per-shard sketches (any number of rows per group) into one
    sketch per group: union the hash arrays, dedupe, re-take the k
    smallest.  Associative and idempotent — the property that makes
    the artifact composable across shards, days, and releases without
    touching raw data.  Input needs (group, kmin) columns; output has
    the same schema as ``kmv_sketch``."""
    exploded = sketches.select(
        F.col(group_col).alias("g"), F.explode("kmin").alias("h")
    ).distinct()
    w = Window.partitionBy("g").orderBy("h")
    ranked = exploded.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    sk = ranked.groupBy("g").agg(
        F.sort_array(F.collect_list("h")).alias("kmin"),
        F.count(F.lit(1)).alias("n_seen"),
    )
    return sk.select(
        F.col("g").alias(group_col),
        "kmin",
        "n_seen",
        _estimate(F.col("kmin"), F.col("n_seen"), k).alias("est_distinct"),
    )


def kmv_jaccard_pairs(
    sketches: DataFrame,
    group_col: str = "source",
    k: int = DEFAULT_K,
) -> DataFrame:
    """Pairwise Jaccard / intersection estimates between groups FROM
    THEIR SKETCHES ALONE (Beyer et al. §5): among the k smallest
    hashes of A∪B, count the fraction present in both A and B.  The
    truncated arrays suffice exactly: any hash among the union's k
    smallest is necessarily among its own set's k smallest, so
    membership tests against kminA/kminB are never wrong.

    Input is the SKETCH table (ONE ROW PER GROUP, k longs each — by
    contract a dim-sized frame, e.g. sources, releases, shards), so
    the all-pairs join is groups²-rows tiny; this never touches raw
    data.  est_intersection = jaccard · est(|A∪B|)."""
    a = sketches.select(F.col(group_col).alias("a"), F.col("kmin").alias("ak"))
    b = sketches.select(F.col(group_col).alias("b"), F.col("kmin").alias("bk"))
    pairs = a.crossJoin(b).where(F.col("a") < F.col("b"))
    uk = F.slice(F.array_sort(F.array_union("ak", "bk")), 1, k)
    out = pairs.withColumn("uk", uk).select(
        "a",
        "b",
        F.size(
            F.array_intersect(F.array_intersect("uk", "ak"), "bk")
        ).cast("long").alias("n_common"),
        F.size("uk").cast("long").alias("n_union_k"),
        F.col("uk"),
    )
    jac = F.col("n_common").cast("double") / F.col("n_union_k").cast("double")
    est_union = _estimate(F.col("uk"), F.col("n_union_k"), k)
    return out.select(
        "a",
        "b",
        "n_common",
        "n_union_k",
        jac.alias("jaccard_est"),
        (jac * est_union).alias("est_intersection"),
    )


def kmv_set_ops(
    sketches: DataFrame,
    group_col: str = "source",
    k: int = DEFAULT_K,
) -> DataFrame:
    """X83 — full set-operation estimates between groups from their
    KMV artifacts alone, completing the sketch set algebra the
    Jaccard pair report started: per unordered pair (a < b),
    est_union (the union sketch's own KMV estimate — exact when the
    union holds fewer than k hashes), est_intersection (Jaccard ·
    union, Beyer et al. §5), and the inclusion-exclusion DIFFERENCE
    estimates |A∖B| = max(0, est_A − est_∩) and |B∖A| — the
    release-over-release "how much is NEW / how much was dropped"
    question answered without touching raw data.  Clamping at zero is
    part of the spec (estimator noise can push a near-subset
    negative); every arithmetic step is the same IEEE op sequence in
    the DuckDB oracle.

    Input is the SKETCH table (one row per group — dim-sized by
    contract), so the all-pairs join is groups²-rows tiny."""
    a = sketches.select(
        F.col(group_col).alias("a"),
        F.col("kmin").alias("ak"),
        F.col("est_distinct").alias("est_a"),
    )
    b = sketches.select(
        F.col(group_col).alias("b"),
        F.col("kmin").alias("bk"),
        F.col("est_distinct").alias("est_b"),
    )
    pairs = a.crossJoin(b).where(F.col("a") < F.col("b"))
    uk = F.slice(F.array_sort(F.array_union("ak", "bk")), 1, k)
    staged = pairs.withColumn("uk", uk).select(
        "a",
        "b",
        "est_a",
        "est_b",
        F.size(
            F.array_intersect(F.array_intersect("uk", "ak"), "bk")
        ).cast("long").alias("n_common"),
        F.size("uk").cast("long").alias("n_union_k"),
        "uk",
    )
    jac = F.col("n_common").cast("double") / F.col("n_union_k").cast("double")
    est_union = _estimate(F.col("uk"), F.col("n_union_k"), k)
    est_int = jac * est_union
    return staged.select(
        "a",
        "b",
        "est_a",
        "est_b",
        est_union.alias("est_union"),
        est_int.alias("est_intersection"),
        F.greatest(F.lit(0.0), F.col("est_a") - est_int).alias("est_diff_ab"),
        F.greatest(F.lit(0.0), F.col("est_b") - est_int).alias("est_diff_ba"),
    )


def kmv_union_estimate(
    sketches: DataFrame,
    group_col: str = "source",
    k: int = DEFAULT_K,
) -> DataFrame:
    """Distinct-count estimate of the UNION of all groups — merge every
    group's sketch into one and estimate once.  The cross-release
    question ("how many distinct documents across all releases?")
    answered from k-long artifacts."""
    merged = kmv_merge(
        sketches.select(F.lit("__all__").alias(group_col), "kmin"),
        group_col=group_col,
        k=k,
    )
    return merged.select(
        F.col("n_seen"), F.col("est_distinct")
    )


def sampled_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    sample_bp: int = 10_000,
) -> DataFrame:
    """Per-group quantiles over a DETERMINISTIC md5 sample — the
    reproducible stand-in for t-digest/KLL at scale: the full sort a
    true per-group quantile needs touches every row; here only
    ``sample_bp``/10000 of rows (chosen by content-independent id
    hash, so reruns and engines agree) are sorted per group, and the
    estimate is the sample's EXACT lower quantile
    (rank = floor(q·(n-1)) + 1 — index arithmetic, no interpolation,
    so no float-summation drift between engines).

    Output: (group, q, quantile_value, n_sample).  With
    sample_bp=10000 the "sample" is the whole table and the values are
    the exact per-group quantiles."""
    from genie_spark.analytics.corpus import SAMPLE_DENOM, _uniform_bp

    s = df.where(F.col(value_col).isNotNull())
    if sample_bp < SAMPLE_DENOM:
        s = s.where(_uniform_bp(id_col) < sample_bp)
    w = Window.partitionBy("g").orderBy(F.col("v").asc())
    ranked = s.select(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).withColumn("rn", F.row_number().over(w))
    counts = ranked.groupBy("g").agg(F.max("rn").cast("long").alias("n_sample"))
    qdf = local_rows_df(
        ranked.sparkSession, [(float(q),) for q in qs], "q double"
    )
    targets = (
        counts.select(F.col("g").alias("tg"), "n_sample")
        .crossJoin(F.broadcast(qdf))
        .withColumn(
            "target_rn",
            (F.floor(F.col("q") * (F.col("n_sample") - 1)) + 1).cast("int"),
        )
    )
    return (
        ranked.join(
            targets,
            (F.col("g") == F.col("tg")) & (F.col("rn") == F.col("target_rn")),
        )
        .select(
            F.col("g").alias(group_col),
            "q",
            F.col("v").alias("quantile_value"),
            "n_sample",
        )
    )


CM_WIDTH = 1 << 12
CM_DEPTH = 3


def cm_positions(
    col: Column, width: int = CM_WIDTH, depth: int = CM_DEPTH
) -> Column:
    """The ``depth`` Count-Min bucket positions of one value as an
    array<long>: row i's bucket = the i-th 8-hex-char (32-bit) slice
    of ONE md5(value), mod ``width`` — the same single-digest
    Kirsch–Mitzenmacher construction as ``corpus.bloom_bit_positions``
    (one md5 per value, not depth), and the identical substr
    arithmetic runs in the DuckDB oracle, so every bucket id is
    engine-exact.  128 md5 bits / 32 per slice caps ``depth`` at 4."""
    if not 1 <= depth <= 4:
        raise ValueError(
            f"depth={depth}: one 128-bit md5 yields at most four 32-bit "
            "bucket slices"
        )
    if width > 1 << 32:
        raise ValueError(f"width={width} exceeds the 32-bit slice space")
    digest = F.md5(col.cast("string"))
    return F.array(
        *[
            F.pmod(
                F.conv(F.substring(digest, 1 + 8 * i, 8), 16, 10).cast("long"),
                F.lit(width),
            )
            for i in range(depth)
        ]
    )


def count_min_sketch(
    df: DataFrame,
    value_col: Column | str,
    width: int = CM_WIDTH,
    depth: int = CM_DEPTH,
) -> DataFrame:
    """Count-Min frequency sketch (Cormode & Muthukrishnan 2005) over
    one occurrence per input row of ``value_col``: returns the sketch
    as a DataFrame (row, bucket, cnt) with ≤ depth·width rows — a
    first-class, MERGEABLE artifact (two sketches with the same
    (width, depth) merge by summing cnt per (row, bucket):
    ``count_min_merge``), like the KMV and Bloom artifacts.

    Estimates (``count_min_lookup``) are min-over-rows of the bucket
    counts: an OVERESTIMATE of the true frequency, never an under-
    estimate (property-tested), with error ≤ 2·N/width at probability
    1 − (1/2)^depth per the standard bound.

    Spark shape: one ``posexplode`` of the depth positions (computed
    map-side from a single md5) and ONE groupBy((row, bucket)) —
    partial aggregation collapses each partition to ≤ depth·width
    rows before the shuffle, so shuffle volume is sketch-sized, not
    corpus-sized, at any scale.  No RNG, no platform salt: the same
    corpus always produces the identical artifact, and a DuckDB
    oracle reproduces cnt values bit-for-bit."""
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return (
        df.where(c.isNotNull())
        .select(
            F.posexplode(cm_positions(c, width, depth)).alias("row", "bucket")
        )
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two same-shape Count-Min sketches: sum cnt per
    (row, bucket).  Associative and commutative — shard sketches
    combine into exactly the whole-corpus sketch (tested)."""
    return (
        a.unionByName(b)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def count_min_lookup(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str,
    width: int = CM_WIDTH,
    depth: int = CM_DEPTH,
) -> DataFrame:
    """Frequency estimates for ``queries[value_col]`` against a
    ``count_min_sketch`` artifact: est = min over rows i of
    cnt[i, bucket_i(value)], with a missing (row, bucket) cell read
    as 0 (the value was never seen on that row — the min is then 0,
    the exact answer for an unseen value).

    Spark shape: the query side explodes to depth rows and joins the
    sketch on (row, bucket) — the sketch side is ≤ depth·width rows,
    broadcastable; the corpus is never touched."""
    q = (
        queries.where(F.col(value_col).isNotNull())
        .select(
            F.col(value_col).alias("value"),
            F.posexplode(
                cm_positions(F.col(value_col), width, depth)
            ).alias("row", "bucket"),
        )
    )
    return (
        q.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog registers (X38)
# ---------------------------------------------------------------------------

HLL_P = 10                      # 2^10 = 1024 registers per group
HLL_RHO_BITS = KMV_BITS - HLL_P  # hash bits feeding the rank
HLL_RHO_MAX = HLL_RHO_BITS + 1   # rank of an all-zero rho field


def hll_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = HLL_P,
) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007): per group, a
    mergeable ≤2^p-row artifact (group, reg, rho) where ``reg`` is the
    top ``p`` bits of the 60-bit md5 hash, ``rho`` the 1-based
    position of the highest set bit COUNTED FROM THE TOP of the
    remaining ``60-p`` bits (all-zero field → ``60-p+1``), and the
    register keeps the MAX rho seen — so ``hll_merge`` is a max-union
    and shard/release/rolling-window artifacts combine without
    re-reading data, the same artifact contract as KMV/Bloom/Count-Min.

    vs KMV (``kmv_sketch``): a KMV artifact is k 8-byte hashes with a
    one-divide estimator; HLL packs the same accuracy class into 2^p
    REGISTERS whose merge is idempotent per register (max), which is
    the shape column stores and stream processors exchange.  Both
    build with ONE partial-aggregable shuffle: here repeated (group,
    reg) pairs collapse map-side to a single max-rho row per partition
    before the exchange, so the shuffle carries ≤ partitions·groups·2^p
    rows regardless of corpus size.

    Engine determinism: rho needs floor(log2) — computed as the
    LENGTH OF THE BASE-2 STRING (Spark ``conv(x,10,2)``, DuckDB
    ``bin(x)``, both render without leading zeros), exact integer
    arithmetic with no float log anywhere.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"hll_sketch: p={p} outside [4, 16]")
    rho_bits = KMV_BITS - p
    h = kmv_hash(value_col)
    reg = F.shiftright(h, rho_bits)
    low = h.bitwiseAND(F.lit((1 << rho_bits) - 1))
    msb = F.length(F.conv(low, 10, 2))  # highest-set-bit position
    rho = F.when(low == 0, F.lit(rho_bits + 1)).otherwise(
        F.lit(rho_bits) - msb + 1
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col),
            reg.cast("int").alias("reg"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(group_col, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_col: str) -> DataFrame:
    """Union two register tables: per (group, reg) the max rho — the
    associative, idempotent law that makes the artifact mergeable."""
    return (
        a.unionByName(b)
        .groupBy(group_col, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    sketch: DataFrame, group_col: str, p: int = HLL_P
) -> DataFrame:
    """Distinct-count estimate from a register table: the raw HLL
    estimator ``α_m·m²/Σ_j 2^(−M_j)`` with the harmonic sum computed
    EXACTLY — each register contributes the integer ``2^(rho_max−rho)``
    (never-hit registers contribute ``2^rho_max``), so Σ fits a long
    (≤ 2^(p+rho_max) = 2^61 at p=10) and the only float ops are one
    long→double conversion and one divide by a precomputed literal —
    engine-portable, no transcendental ln/pow (the classic small-range
    linear-counting correction needs ln, whose rounding ISN'T
    IEEE-mandated, so it is deliberately omitted here; for small
    groups prefer ``kmv_sketch``, which is exact below k).

    Returns (group, n_reg, est_distinct); relative error ≈ 1.04/√m.

    Guard: a register id ≥ 2^p means the sketch was BUILT with a
    larger ``p`` than passed — the never-hit-register term would go
    negative and the estimate silently garbage (code-review r8), so
    that mismatch raises up front (one artifact-sized agg job).  The
    converse (sketch built with a SMALLER p) is indistinguishable
    from sparse data — keep the build and estimate p in lockstep.
    """
    m = 1 << p
    max_reg = sketch.agg(F.max("reg")).first()[0]
    if max_reg is not None and max_reg >= m:
        raise ValueError(
            f"hll_estimate: register id {max_reg} ≥ 2^p={m} — the sketch "
            f"was built with a larger p than the {p} passed; estimate "
            "with the build-time p"
        )
    rho_max = KMV_BITS - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << rho_max)
    seen = sketch.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_reg"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({rho_max} - rho AS INT))"
            )
        ).alias("__s_seen"),
    )
    s_total = F.col("__s_seen") + (
        F.lit(m).cast("long") - F.col("n_reg")
    ) * F.lit(1 << rho_max).cast("long")
    return seen.select(
        F.col(group_col),
        F.col("n_reg"),
        (F.lit(numer) / s_total.cast("double")).alias("est_distinct"),
    )


def misra_gries_candidates(
    tokens: DataFrame, token_col: str = "token", m: int = DEFAULT_K
) -> DataFrame:
    """Per-partition Misra–Gries summaries, unioned: every token whose
    partition-local count exceeds N_p/(m+1) survives that partition's
    summary (the classic guarantee), so — by pigeonhole over the
    partition sums — every GLOBAL token with count > N/(m+1) appears
    in the union.  Runs as one narrow Arrow ``mapInPandas`` pass
    (state = one ≤m-entry dict per partition, carried across record
    batches); output is ≤ m·P candidate tokens, never the vocabulary.
    """
    return (
        _misra_gries_summary(tokens, token_col, m)
        .where(F.col(token_col).isNotNull())
        .select(token_col)
        .distinct()
    )


def _misra_gries_summary(
    tokens: DataFrame, token_col: str = "token", m: int = DEFAULT_K
) -> DataFrame:
    """One narrow Arrow ``mapInPandas`` pass emitting, per non-empty
    partition, the ≤m Misra–Gries candidate tokens (``pcount`` 0) PLUS
    one (NULL-token, partition occurrence count) row — so the global
    N = Σ pcount rides along with the candidates and ``heavy_hitters``
    never needs a separate ``count()`` scan of the stream."""
    import pandas as pd

    def part(batches):
        counters: dict = {}
        n = 0
        for pdf in batches:
            for t in pdf[token_col]:
                n += 1
                if t in counters:
                    counters[t] += 1
                elif len(counters) < m:
                    counters[t] = 1
                else:
                    # decrement-all step; m is small by construction
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if n:
            yield pd.DataFrame(
                {
                    token_col: list(counters.keys()) + [None],
                    "pcount": [0] * len(counters) + [n],
                }
            )

    return tokens.select(token_col).mapInPandas(
        part, schema=f"{token_col} string, pcount long"
    )


def heavy_hitters(
    tokens: DataFrame,
    token_col: str = "token",
    m: int = DEFAULT_K,
    min_share_bp: int = 100,
) -> DataFrame:
    """EXACT heavy hitters with bounded memory: all tokens holding at
    least ``min_share_bp`` basis points of total token occurrences,
    found WITHOUT a vocabulary-sized shuffle.

    Two passes over the stream, EXACTLY (Misra & Gries 1982 + the
    standard distributed verify): pass 1 runs per-partition Misra–Gries
    (``_misra_gries_summary``, narrow, ≤ m·P candidate rows) and emits
    the global N alongside — one (NULL-token, partition count) row per
    partition, so N = Σ pcount with NO separate ``count()`` scan (the
    round-8 form read the stream three times; at 100 TB a full extra
    scan is real money).  Pass 2 semi-joins the token stream against
    the broadcast candidate set and aggregates EXACT counts for
    candidates only — the shuffle carries ≤ m·P distinct keys instead
    of the vocabulary, and map-side partial aggregation collapses it
    further; the 1-row total joins in by broadcast, keeping the whole
    threshold inside one declarative plan.  Requires
    ``(m+1) · min_share_bp > 10_000`` so pass 1 is lossless (asserted);
    given that, the result is EXACT and identical for every
    partitioning: pass 1 can only over-generate, and pass 2's integer
    threshold (``cnt · 10_000 ≥ min_share_bp · N``) prunes exactly.
    Returns (token, cnt, share) with share a single IEEE divide of
    exact longs.
    """
    assert (m + 1) * min_share_bp > 10_000, (
        "m too small for the share threshold: need (m+1)*min_share_bp > 10000 "
        "for the Misra-Gries pass to be lossless"
    )
    toks = tokens.where(F.col(token_col) != "")
    # pass 1, materialized once: ≤ (m+1)·P rows pinned via
    # localCheckpoint (same idiom as sketch_count_min's occurrence
    # cache) — both the candidate set and the 1-row total derive from
    # it without re-running the summary scan
    summary = _misra_gries_summary(toks, token_col, m).localCheckpoint(
        eager=True
    )
    cand = (
        summary.where(F.col(token_col).isNotNull())
        .select(token_col)
        .distinct()
    )
    total = summary.groupBy().agg(F.sum("pcount").alias("__total"))
    counts = (
        toks.join(F.broadcast(cand), token_col, "left_semi")
        .groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.join(F.broadcast(total))
        .where(F.col("cnt") * 10_000 >= F.lit(min_share_bp) * F.col("__total"))
        .withColumn("share", F.col("cnt") / F.col("__total").cast("double"))
        .select(token_col, "cnt", "share")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch: deterministic md5 level-sampling (X70)
# ---------------------------------------------------------------------------

QS_TZ_MAX = KMV_BITS  # h == 0 (1-in-2^60) counts as all-60 trailing zeros


def _tz_bits(h: Column) -> Column:
    """Trailing-zero count of a 60-bit hash, EXACT integer: isolate the
    lowest set bit with ``h & -h`` and take floor(log2) via binary
    string length (the round-8 no-libm idiom)."""
    low = h.bitwiseAND(-h)
    return F.when(h == 0, F.lit(QS_TZ_MAX)).otherwise(
        (F.length(F.bin(low)) - F.lit(1))
    ).cast("long")


def _qs_pick_level(hist: dict[int, int], k_max: int) -> tuple[int, int]:
    """(smallest L with |{tz >= L}| <= k_max, total items) from a tz
    histogram — exact driver-side integer arithmetic over <= 61 rows."""
    n_items = sum(hist.values())
    for level in range(QS_TZ_MAX + 1):
        if sum(c for t, c in hist.items() if t >= level) <= k_max:
            return level, n_items
    return QS_TZ_MAX, n_items


def quantile_level_sketch(
    df: DataFrame,
    value_col: str,
    key_col: Column | str,
    k_max: int = 1024,
) -> DataFrame:
    """X70 — mergeable quantile sketch by deterministic md5
    LEVEL-SAMPLING: the missing quantile artifact of the sketch family
    (KMV/Bloom/CMS/HLL are all here; X30's sampled quantiles are
    one-shot, not mergeable).  The published family is the compactor
    ladder of KLL (Karnin-Lang-Liberty, FOCS'16) / Manku-Rajagopalan-
    Lindsay; this is its deterministic hash-priority variant: an item
    survives to level L iff its 60-bit md5 key hash has >= L trailing
    zero bits (P = 2^-L, but CONTENT-DETERMINED — no RNG, no platform
    salt), every kept item at the sketch's level represents weight
    2^L, and the sketch is the smallest level whose survivor set fits
    ``k_max``.  Estimated rank of v = 2^L * |{kept <= v}|, the same
    estimator as a KLL top compactor; rank error is O(N/sqrt(k)) w.h.p.
    (bottom-level sampling / Duffield-Lund-Thorup analysis).

    Why hash-priority instead of the paper's randomized compaction:
    merges become PURE SET ALGEBRA — membership at level L is a
    property of the item itself, so union-then-refilter is EXACTLY the
    sketch of the concatenated stream (``quantile_sketch_merge``; the
    property test pins merge ≡ rebuild), shards sketched independently
    on 1000 executors combine without any rank bookkeeping, and a
    DuckDB oracle reproduces the artifact bit-for-bit.

    Returns the survivor rows ``(v, h60, tz, level, n_items)`` — level
    and n_items constant columns, so the artifact is self-contained
    (<= k_max rows; merge-ready, journal-ready).

    Scale shape: ONE scan+hash pass (the narrow (v, h60, tz)
    projection is persisted MEMORY_AND_DISK for the build's duration:
    the <= 61-row tz histogram with map-side partial combine and the
    survivor filter both read the cached stream, and the persist is
    released synchronously before returning), driver-side exact level
    pick (the dim-sized-collect policy), zero corpus-keyed shuffles,
    no sort.  The <= k_max survivor set is eagerly localCheckpointed,
    so every downstream consumer (estimates, merges, audits) operates
    on the sketch-sized artifact instead of re-running the corpus
    scan+hash subtree per action.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("long").alias("v"),
        F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h60"),
    )
    base = base.withColumn("tz", _tz_bits(F.col("h60"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        hist = {
            r["tz"]: r["c"]
            for r in base.groupBy("tz")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        level, n_items = _qs_pick_level(hist, k_max)
        return (
            base.where(F.col("tz") >= level)
            .withColumns(
                {
                    "level": F.lit(level).cast("long"),
                    "n_items": F.lit(n_items).cast("long"),
                }
            )
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


def quantile_sketch_merge(
    a: DataFrame, b: DataFrame, k_max: int = 1024
) -> DataFrame:
    """Merge two level-sampling quantile sketches: union the survivor
    sets, refilter at the smallest level whose union fits ``k_max``
    (>= both input levels by construction).  Because survival is
    content-determined, the result is EXACTLY the sketch of the
    concatenated input streams — associative and commutative, the
    mergeable-artifact contract of the sketch family."""
    meta = [
        (r["level"], r["n_items"])
        for r in (
            a.select("level", "n_items").limit(1).collect()
            + b.select("level", "n_items").limit(1).collect()
        )
    ]
    n_items = sum(n for _, n in meta)
    both = a.select("v", "h60", "tz").unionByName(b.select("v", "h60", "tz"))
    hist = {
        r["tz"]: r["c"]
        for r in both.groupBy("tz").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    floor_level = max((lv for lv, _ in meta), default=0)
    level, _ = _qs_pick_level(
        {t: c for t, c in hist.items() if t >= floor_level}, k_max
    )
    level = max(level, floor_level)
    return both.where(F.col("tz") >= level).withColumns(
        {
            "level": F.lit(level).cast("long"),
            "n_items": F.lit(n_items).cast("long"),
        }
    )


def quantile_sketch_estimates(
    sketch: DataFrame,
    phis_milli: tuple[int, ...] = (250, 500, 750, 900),
    k_max: int = 1024,
) -> DataFrame:
    """Quantile point estimates from a level-sampling sketch artifact:
    for each target quantile φ (in exact milli-units), target_rank =
    max(1, (φ·N) // 1000) and the estimate is the survivor at scaled
    rank ceil(target_rank / 2^L) in (v, h60) order, clamped to the
    survivor count — pure integer index arithmetic, no interpolation
    (the X30 exact-lower-quantile rule).

    Returns (phi_milli, n_items, level, k_kept, target_rank, est_value).
    Window/sort cost is over <= k_max rows — sketch-sized, never data-
    sized."""
    first = sketch.select("level", "n_items").limit(1).collect()
    if not first:
        return local_rows_df(
            sketch.sparkSession,
            [],
            "phi_milli long, n_items long, level long, k_kept long, "
            "target_rank long, est_value long",
        )
    level, n_items = int(first[0]["level"]), int(first[0]["n_items"])
    weight = 1 << level
    from genie_spark.functions.ranking import rank_bounded

    # sketch-sized frame: rank without WindowExec (one partition is
    # the plan — VERDICT r12 item 7), and k_kept is the survivor
    # count, one cheap action on <= k_max rows
    ranked = rank_bounded(
        sketch.select("v", "h60"),
        F.col("v").asc(),
        F.col("h60").asc(),
        rank_col="rk",
        max_rows=k_max,
    )
    counted = ranked.withColumn(
        "k_kept", F.lit(int(ranked.count())).cast("long")
    )
    phis = local_rows_df(
        sketch.sparkSession, [(int(p),) for p in phis_milli], "phi_milli long"
    )
    # ADVICE r12: pure LONG `div` (operands nonnegative, so trunc ==
    # floor) — `/` + floor routes through float64, which can round a
    # 2^60-weight rank differently than the oracle's integer `//`
    targets = phis.select(
        "phi_milli",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(phi_milli * CAST({n_items} AS BIGINT)) div 1000"
            ).cast("long"),
        ).alias("target_rank"),
    ).withColumn(
        "rk_sel_raw",
        F.expr(
            f"(target_rank + CAST({weight} AS BIGINT) - 1) "
            f"div CAST({weight} AS BIGINT)"
        ).cast("long"),
    )
    return (
        counted.join(
            F.broadcast(targets),
            F.col("rk")
            == F.least(F.col("k_kept"), F.greatest(F.lit(1).cast("long"), F.col("rk_sel_raw"))),
        )
        .select(
            "phi_milli",
            F.lit(n_items).cast("long").alias("n_items"),
            F.lit(level).cast("long").alias("level"),
            "k_kept",
            "target_rank",
            F.col("v").alias("est_value"),
        )
    )


def quantile_level_sketch_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: Column | str,
    k_max: int = 1024,
) -> DataFrame:
    """X75 — PER-GROUP level-sampling quantile sketches: one X70
    artifact per ``group_col`` value (language, domain), each at its
    own level — the grouped form that makes rolling per-slice
    thresholds possible (e.g. CCNet perplexity terciles per language
    answered from a stream store instead of a corpus re-scan).

    Groups are dim-sized by contract (languages/domains, not data);
    the per-group level pick is driver-side exact arithmetic over a
    ≤ groups×61-row histogram, shipped back as a broadcast level
    table.  Survivor rows carry (group, v, h60, tz, level, n_items) —
    level and n_items constant PER GROUP, so per-group artifacts
    merge with the same set algebra as the global form
    (``quantile_sketch_merge`` applied within each group;
    ``_quantile_store_merge_by`` in streaming.windows is the n-ary
    store form).

    Spark shape: ONE scan+hash pass (the narrow projection persisted
    MEMORY_AND_DISK for the build, released synchronously) feeding a
    (group, tz)-keyed dim-sized aggregate (map-side partials) and the
    survivor filter against the broadcast level table — zero corpus
    sorts, zero corpus-keyed shuffles.  The <= groups*k_max survivor
    set is eagerly localCheckpointed so downstream estimate windows
    and merges never re-run the corpus subtree.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    base = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("v"),
        F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h60"),
    )
    base = base.withColumn("tz", _tz_bits(F.col("h60"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        hist_rows = (
            base.groupBy("g", "tz").agg(F.count(F.lit(1)).alias("c")).collect()
        )
        hists: dict[str, dict[int, int]] = {}
        for r in hist_rows:
            hists.setdefault(r["g"], {})[r["tz"]] = r["c"]
        meta = []
        for g, hist in sorted(hists.items()):
            level, n_items = _qs_pick_level(hist, k_max)
            meta.append((g, level, n_items))
        if not meta:
            return local_rows_df(
                base.sparkSession,
                [],
                "g string, v long, h60 long, tz long, level long, n_items long",
            )
        levels = local_rows_df(
            base.sparkSession, meta, "g string, level long, n_items long"
        )
        return (
            base.join(F.broadcast(levels), "g")
            .where(F.col("tz") >= F.col("level"))
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


def quantile_sketch_estimates_by(
    sketch: DataFrame,
    phis_milli: tuple[int, ...] = (250, 500, 750, 900),
) -> DataFrame:
    """Per-group quantile point estimates from grouped X75 artifacts:
    the X70 index-arithmetic estimator applied within each group —
    windows run over ≤ groups×k_max survivor rows (sketch-sized,
    never data-sized).

    Returns (g, phi_milli, n_items, level, k_kept, target_rank,
    est_value)."""
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("h60").asc())
    ranked = sketch.select("g", "v", "h60", "level", "n_items").withColumn(
        "rk", F.row_number().over(w).cast("long")
    )
    counted = ranked.withColumn(
        "k_kept", F.max("rk").over(Window.partitionBy("g"))
    )
    phis = local_rows_df(
        sketch.sparkSession, [(int(p),) for p in phis_milli], "phi_milli long"
    )
    targets = counted.select("g", "level", "n_items", "k_kept").distinct()
    targets = (
        targets.crossJoin(F.broadcast(phis))
        .withColumn(
            "target_rank",
            F.greatest(
                F.lit(1).cast("long"),
                # long `div`, never float `/` + floor (ADVICE r12)
                F.expr("(phi_milli * n_items) div 1000").cast("long"),
            ),
        )
        .withColumn(
            "__w", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(level AS INT))")
        )
        .withColumn(
            "rk_sel",
            F.least(
                F.col("k_kept"),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(
                        "(target_rank + __w - 1) div __w"
                    ).cast("long"),
                ),
            ),
        )
    )
    return (
        counted.join(
            targets.select(
                F.col("g").alias("tg"), "phi_milli", "target_rank", "rk_sel"
            ),
            (F.col("g") == F.col("tg")) & (F.col("rk") == F.col("rk_sel")),
        )
        .select(
            "g",
            "phi_milli",
            "n_items",
            "level",
            "k_kept",
            "target_rank",
            F.col("v").alias("est_value"),
        )
    )


def moments_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """X77 — mergeable MOMENTS artifact per group: (n, Σx, Σx², min,
    max) as exact BIGINTs — the classic parallel-variance decomposition
    (Chan, Golub & LeVeque 1979: component-wise sums/min/max merge
    associatively with zero error, unlike streaming Welford floats)
    and the moments member of the sketch-artifact ladder (distinct =
    KMV/HLL, frequency = CMS/Misra-Gries, quantiles = X70/X75,
    moments = here): per-shard artifacts answer cross-shard /
    release-over-release mean/variance questions without re-reading
    data.

    Exactness bound (documented, checked nowhere cheaper than the
    caller): Σx² must stay inside int64 — |x| ≤ 1e6 over 1e6 rows is
    safe; wider domains pre-scale or aggregate per shard.  Derived
    stats (``moments_stats``) run all intermediates in DECIMAL(38,0)
    with pmod-based exact floor division, so they are exact for every
    artifact whose components fit int64 (see its docstring).

    Spark shape: ONE group-keyed aggregate with map-side partial
    combine — the artifact is dim-sized.  Returns (g, n, s1, s2,
    min_v, max_v).
    """
    v = F.col(value_col).cast("long")
    return (
        df.where(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).cast("string").alias("g"), v.alias("__v"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__v").cast("long").alias("s1"),
            F.sum(F.col("__v") * F.col("__v")).cast("long").alias("s2"),
            F.min("__v").cast("long").alias("min_v"),
            F.max("__v").cast("long").alias("max_v"),
        )
    )


def moments_merge(*sketches: DataFrame) -> DataFrame:
    """Merge moments artifacts: component-wise sums / min / max per
    group — associative, commutative, exact (the merge law the
    streaming store reduce reuses)."""
    if not sketches:
        raise ValueError("moments_merge: need at least one sketch")
    allofthem = sketches[0]
    for s in sketches[1:]:
        allofthem = allofthem.unionByName(
            s.select("g", "n", "s1", "s2", "min_v", "max_v")
        )
    return allofthem.groupBy("g").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s1").cast("long").alias("s1"),
        F.sum("s2").cast("long").alias("s2"),
        F.min("min_v").cast("long").alias("min_v"),
        F.max("max_v").cast("long").alias("max_v"),
    )


# past this n the var_milli decomposition's r1·1000 intermediate
# (r1 < n²) can leave DECIMAL(38,0) — see moments_stats
MOMENTS_STATS_MAX_N = 180_000_000_000_000_000


def moments_stats(sketch: DataFrame) -> DataFrame:
    """Derived statistics off a moments artifact, exact integer milli
    units: mean_milli = floor(1000·Σx / n) and var_milli =
    floor(1000·(n·Σx² − (Σx)²) / n²) (the population variance).

    Exactness (ADVICE r12): n·Σx² and (Σx)² do NOT generally fit
    int64 — at the artifact's own safe bound (|x| ≤ 1e6 over 1e6
    rows) n·Σx² ≈ 1e24, and Spark's non-ANSI long multiply would wrap
    SILENTLY.  All intermediates therefore run in DECIMAL(38,0):
    D = n·s2 − s1² ≤ ~8.5e37 < 10³⁸ whenever n, s1, s2 each fit
    int64, so D is exact for EVERY representable artifact.  Division
    never rounds: floor(A/B) is computed as (A − pmod(A,B))/B — the
    numerator is an exact multiple of B, so Spark's scale-6 decimal
    division is exact (plain `/` would HALF_UP-round the true
    quotient at scale 6 and could mis-floor).  var_milli is split as
    q·1000 + floor(1000·r/n²) so the ×1000 never meets D (exact for
    n ≤ ~1.8e17, where 1000·n² < 10³⁸); outputs must fit int64 (i.e.
    1000·variance < 2⁶³), which bounds the value domain, not the
    arithmetic.  The DuckDB oracle mirrors the same decomposition in
    HUGEINT (int128) — both engines exact, no silent divergence.

    Runtime bound guard (ADVICE r14): past n > ``MOMENTS_STATS_MAX_N``
    the r1·1000 intermediate can exceed DECIMAL(38,0), where non-ANSI
    decimal overflow yields silent NULLs — such rows now raise loudly
    instead (expression-level ``raise_error`` inside the var_milli
    branch, so the guard can't be pruned away and costs one long
    comparison per dim-sized artifact row).
    """
    dec = "decimal(19,0)"
    n, s1, s2 = (F.col(c).cast(dec) for c in ("n", "s1", "s2"))
    a = s1 * 1000
    rm = F.pmod(a, n)
    mean_milli = ((a - rm) / n).cast("long")
    d = n * s2 - s1 * s1
    n2 = n * n
    r1 = F.pmod(d, n2)
    q1 = ((d - r1) / n2).cast("long")
    b = r1 * 1000
    r2 = F.pmod(b, n2)
    q2 = ((b - r2) / n2).cast("long")
    guarded_var = F.when(
        F.col("n").cast("long") > F.lit(MOMENTS_STATS_MAX_N),
        F.raise_error(
            F.concat(
                F.lit(
                    "moments_stats: n exceeds the exact-decimal bound "
                    f"({MOMENTS_STATS_MAX_N}) for group "
                ),
                F.col("g"),
            )
        ).cast("long"),
    ).otherwise((q1 * 1000 + q2).cast("long"))
    return sketch.select(
        "g",
        "n",
        "s1",
        "s2",
        "min_v",
        "max_v",
        mean_milli.alias("mean_milli"),
        guarded_var.alias("var_milli"),
    )


def kmv_containment_pairs(
    sketches: DataFrame,
    group_col: str = "source",
    k: int = DEFAULT_K,
) -> DataFrame:
    """X83 rung (r14) — DIRECTIONAL containment estimates from KMV
    artifacts: cont_ab = |A∩B| / |A| (Broder 1997's containment, vs
    the symmetric resemblance) — the decontamination question proper
    ("what fraction of eval set A leaked into corpus B?"), which
    Jaccard understates whenever |B| >> |A|.

    Derived entirely from ``kmv_set_ops``'s estimates with the same
    IEEE division both engines run; a zero denominator (an empty
    side's estimate) yields NULL rather than a fake 0 or Inf.
    Clamped at 1 from above — estimator noise on a true subset can
    push the ratio past 1, and containment is a fraction by
    definition.

    Returns (a, b, est_a, est_b, est_intersection, cont_ab, cont_ba).
    Input is the dim-sized sketch table; the join is groups²-tiny.
    """
    ops = kmv_set_ops(sketches, group_col, k)

    def cont(num: Column, den: Column) -> Column:
        return F.when(
            den > F.lit(0.0), F.least(F.lit(1.0), num / den)
        )

    return ops.select(
        "a",
        "b",
        "est_a",
        "est_b",
        "est_intersection",
        cont(F.col("est_intersection"), F.col("est_a")).alias("cont_ab"),
        cont(F.col("est_intersection"), F.col("est_b")).alias("cont_ba"),
    )
