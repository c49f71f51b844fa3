"""Corpus-level training-data pipeline operators: benchmark
decontamination, stratified deterministic sampling, and sequence
packing.

These are the pipeline stages a pretraining data build runs AFTER
dedup/quality filtering (``analytics.dedup`` / ``analytics.text``):
drop eval-set contamination, downsample strata to a target mixture,
and pack the survivors into fixed-token training sequences.

Determinism rules match the rest of the package (workload.py): every
hash is md5-derived, every ratio is an int/int divide, every
tie-break is total — so the DuckDB oracles hash-match bit-for-bit.

All pure ``pyspark.sql.functions`` column expressions — no Python
UDFs, no driver-side loops; each operator is one declarative plan
Catalyst can push down and AQE can re-plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from genie_spark.session import local_rows_df

from genie_spark.analytics.text import tokens

# sampling granularity: basis points of 1/10_000 on a md5-uniform
SAMPLE_DENOM = 10_000

# token_budget_select's per-bin rollup broadcast is capped at this many
# rows (groups × 2^n_bin_bits ≈ 4M rows ≈ low hundreds of MB worst
# case) — bin bits shrink to fit, and a group count alone above it is
# a caller error (doc-level column passed as the domain column)
_BUDGET_BROADCAST_MAX = 1 << 22


def token_ngrams(text_col: str | Column, n: int) -> Column:
    """Contiguous token ``n``-grams (space-joined, order-preserving,
    NON-distinct) of the whitespace tokenization.  Documents shorter
    than ``n`` tokens yield an empty array (Spark's ``sequence`` with
    start > stop raises, so the short side is gated explicitly).

    The tokenization is bound ONCE per row as a higher-order-function
    lambda variable (1-element array → ``transform`` → ``[0]``): a
    naive ``slice(tokens(text), i, n)`` closes over the split+filter
    EXPRESSION, and because higher-order functions run interpreted
    (no whole-stage codegen, no subexpression elimination) the regex
    split re-ran for every n-gram position — O(tokens²) per document.
    Round-8's intermittent 30–55 s bench stall was exactly this: one
    scan task re-splitting each doc ~50×, amplified late-session when
    the interpreted ``Expression.eval`` call sites go megamorphic and
    the JIT stops inlining.  With the lambda binding, ``split`` runs
    once per row and every gram is a bounded-cost array slice."""
    return F.transform(
        F.array(tokens(text_col)),
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]


def decontaminate_ngram(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    flag_threshold_bp: int = 500,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct token ``n``-grams also appear in the benchmark (eval) set.

    The standard held-out-eval hygiene step for pretraining corpora
    (GPT-3 appendix C / Llama-style 8-gram overlap): a training
    document sharing long n-grams with an eval benchmark leaks the
    benchmark into training.

    Spark shape — the 100 TB one: the benchmark n-gram set is tiny
    relative to the corpus (eval suites are MBs, the corpus is TBs),
    so it is DISTINCT-ed and **broadcast**; the corpus side explodes
    its n-grams map-side, inner-joins the broadcast set with NO corpus
    shuffle, and aggregates hits per document (partial map-side
    combine).  Total shuffle = one count-agg keyed by doc_id.

    Returns one row per corpus doc with ≥1 distinct n-gram:
    (doc_id, n_ngrams, n_contaminated, contamination_bp,
    is_contaminated) where contamination_bp is basis points
    (``n_contaminated * 10_000 // n_ngrams``, exact integer) and
    ``is_contaminated`` applies ``flag_threshold_bp`` — OR any hit at
    all, matching the usual "any 8-gram collision flags" policy when
    ``flag_threshold_bp`` is 0.
    """
    grams = F.explode(F.array_distinct(token_ngrams(text_col, n))).alias("ngram")
    corpus_grams = corpus.select(F.col(id_col), grams)
    bench_grams = (
        benchmark.select(grams).distinct()
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "ngram", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    # pre-filter on size(tokens) >= n — equivalent to n_ngrams > 0 but
    # the pushed-down Filter predicate costs one split, not a rebuild
    # of the whole gram pipeline (Catalyst substitutes aliases when it
    # pushes a filter through a Project)
    per_doc = corpus.where(F.size(tokens(text_col)) >= n).select(
        F.col(id_col),
        F.size(F.array_distinct(token_ngrams(text_col, n))).alias("n_ngrams"),
    )
    out = per_doc.join(hits, id_col, "left").withColumn(
        "n_contaminated", F.coalesce("n_contaminated", F.lit(0))
    )
    bp = (F.col("n_contaminated") * SAMPLE_DENOM).cast("long") / F.col("n_ngrams")
    bp = F.floor(bp).cast("long")
    return out.select(
        id_col,
        "n_ngrams",
        "n_contaminated",
        bp.alias("contamination_bp"),
        (
            (F.col("n_contaminated") > 0)
            & (bp >= F.lit(flag_threshold_bp))
        ).alias("is_contaminated"),
    )


BLOOM_M_BITS = 1 << 20
BLOOM_K_HASHES = 3


def bloom_size(
    expected_ngrams: int, target_fp_rate: float
) -> tuple[int, int]:
    """Size a Bloom artifact from (expected distinct benchmark
    n-grams, target false-positive rate): the textbook optimum
    m = ⌈−n·ln p / ln²2⌉ bits, k = round(m/n · ln 2) hashes, with k
    clamped to [1, 4] (``bloom_bit_positions`` derives positions from
    one md5, four 32-bit slices max) and m re-inflated when the clamp
    binds so the PREDICTED rate (``bloom_fp_rate``) still meets the
    target: at fixed k, (1−e^(−k·n/m))^k ≤ p ⟺ m ≥ k·n / −ln(1−p^(1/k)).
    Returns (m_bits, k_hashes) ready to pass to ``bloom_build`` /
    ``bloom_decontaminate`` / ``streaming.bloom_stream``."""
    import math

    if expected_ngrams < 1:
        raise ValueError(f"expected_ngrams={expected_ngrams} must be ≥ 1")
    if not 0.0 < target_fp_rate < 1.0:
        raise ValueError(f"target_fp_rate={target_fp_rate} must be in (0, 1)")
    n, p = float(expected_ngrams), float(target_fp_rate)
    m = math.ceil(-n * math.log(p) / (math.log(2.0) ** 2))
    k = min(4, max(1, round(m / n * math.log(2.0))))
    # if k was clamped below the optimum, the optimal-m formula no
    # longer meets p — solve m for the CLAMPED k instead
    m = max(m, math.ceil(k * n / -math.log(1.0 - p ** (1.0 / k))))
    if m > 1 << 32:
        raise ValueError(
            f"sized m_bits={m} exceeds the 32-bit position space; "
            "shard the benchmark and merge the (mergeable) artifacts"
        )
    return m, k


def bloom_fp_rate(m_bits: int, k_hashes: int, n_ngrams: int) -> float:
    """Predicted false-positive rate of an (m, k) filter holding n
    distinct n-grams: (1 − e^(−k·n/m))^k."""
    import math

    return (1.0 - math.exp(-k_hashes * n_ngrams / float(m_bits))) ** k_hashes


def bloom_bit_positions(
    col: Column, m_bits: int = BLOOM_M_BITS, k_hashes: int = BLOOM_K_HASHES
) -> Column:
    """The ``k_hashes`` Bloom bit positions of one n-gram as an
    array<long>: position_i = the i-th 8-hex-char (32-bit) slice of
    ONE md5(s), mod m_bits — the Kirsch–Mitzenmacher-style trick of
    deriving every hash from a single digest, so each n-gram pays one
    md5 instead of k (measured ~20% off the whole decontaminate pass
    at 1 M docs).  128 md5 bits / 32 per slice caps ``k_hashes`` at 4
    and ``m_bits`` at 2³²; the identical substr arithmetic runs in
    the DuckDB oracle, so every position is engine-exact."""
    if not 1 <= k_hashes <= 4:
        raise ValueError(
            f"k_hashes={k_hashes}: one 128-bit md5 yields at most four "
            "32-bit position slices"
        )
    if m_bits > 1 << 32:
        raise ValueError(f"m_bits={m_bits} exceeds the 32-bit slice space")
    digest = F.md5(col)
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(digest, 1 + 8 * i, 8), 16, 10
                ).cast("long"),
                F.lit(m_bits),
            )
            for i in range(k_hashes)
        ]
    )


def bloom_build(
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k_hashes: int = BLOOM_K_HASHES,
) -> DataFrame:
    """Build the benchmark-side Bloom artifact: the DISTINCT set of
    set bit positions (one ``pos`` long per row, ≤ ``m_bits`` rows
    total) over all token ``n``-grams of the benchmark.

    This is the fixed-memory alternative to ``decontaminate_ngram``'s
    exact broadcast n-gram set: the artifact is BOUNDED at ``m_bits``
    rows no matter how many n-grams the benchmark holds (billions of
    eval n-grams at 100 TB still produce ≤ m_bits longs), and it is
    trivially MERGEABLE — union + distinct combines artifacts from
    independent benchmark shards, exactly like the KMV sketches.  The
    position-set representation (instead of packed words) keeps it a
    first-class DataFrame: broadcastable, unionable, and mirrored
    bit-for-bit by a SQL oracle.
    """
    grams = F.explode(F.array_distinct(token_ngrams(text_col, n))).alias(
        "ngram"
    )
    return (
        benchmark.select(grams)
        .select(
            F.explode(
                bloom_bit_positions(F.col("ngram"), m_bits, k_hashes)
            ).alias("pos")
        )
        .distinct()
    )


def bloom_decontaminate(
    corpus: DataFrame,
    bloom_pos: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k_hashes: int = BLOOM_K_HASHES,
    flag_threshold_bp: int = 500,
) -> DataFrame:
    """Benchmark decontamination against a ``bloom_build`` artifact:
    an n-gram is POSSIBLY contaminated iff every one of its (distinct)
    bit positions is set — zero false negatives, false positives at
    the standard Bloom rate (1 − e^(−k·N/m))^k, tuned by ``m_bits`` /
    ``k_hashes``.  Use when the benchmark n-gram set outgrows an exact
    broadcast (``decontaminate_ngram``); flagged documents can be
    re-checked exactly or dropped outright (the usual conservative
    policy — FPs only ever over-drop).

    Spark shape (r15: ZERO corpus shuffle — the textbook Bloom
    deployment, guide-§3.2 style): the ≤ m_bits-row position set is
    packed ONCE into a dense ``m_bits/64``-word bitmask (one 1-row
    aggregate over the artifact, m_bits/8 bytes ≤ 512 MB at the
    2³²-bit cap, 128 KB at the default 2²⁰), cross-joined broadcast
    to the corpus, and every per-gram membership probe is a pure
    JVM bit test — the whole report is one narrow scan→project pass
    with NO exchange, no join of corpus-sized sides, and no second
    tokenize.  (The earlier form exploded a (doc, hash, position)
    probe stream through an anti join plus two aggregates, re-scanned
    the corpus for per-doc gram counts, and its final doc-keyed join
    static-misestimate-BROADCAST the corpus-sized clean table — the
    ngram_jaccard_pairs lesson.)

    Per document: ``n_ngrams`` counts distinct gram strings; a gram
    is definitely clean iff ANY of its bit positions is unset, and
    ``n_clean`` counts distinct clean 60-bit gram hashes
    (``dedup.shingle_hash``) — both exactly the set semantics of the
    probe-stream form, hash collisions included (a hash bucket is
    clean iff any member gram is clean ⇔ its hash appears among the
    clean grams' hashes).

    Returns (id, n_ngrams, n_flagged, flagged_bp, is_flagged) — the
    ``decontaminate_ngram`` report shape with "maybe" semantics.
    """
    from genie_spark.analytics.dedup import shingle_hash

    n_words = (m_bits + 63) // 64
    words = bloom_pos.groupBy(F.expr("pos div 64").alias("__w")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
        ).alias("__m")
    )
    mask = words.agg(
        F.map_from_arrays(
            F.collect_list("__w"), F.collect_list("__m")
        ).alias("__mm")
    ).select(
        F.expr(
            f"transform(sequence(0, {n_words - 1}), "
            "i -> coalesce(try_element_at(__mm, CAST(i AS BIGINT)), "
            "CAST(0 AS BIGINT)))"
        ).alias("__mask")
    )
    # bit i as a long (bit 63 via the sign bit — same AND semantics)
    pow2 = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )

    def _unset(p):
        word = F.element_at(
            F.col("__mask"), F.shiftright(p, 6).cast("int") + F.lit(1)
        )
        bit = F.element_at(pow2, F.pmod(p, F.lit(64)).cast("int") + F.lit(1))
        return word.bitwiseAND(bit) == F.lit(0)

    clean_gram = lambda g: F.exists(  # noqa: E731
        bloom_bit_positions(g, m_bits, k_hashes), _unset
    )
    out = (
        corpus.select(
            F.col(id_col),
            F.array_distinct(token_ngrams(text_col, n)).alias("__gs"),
        )
        .where(F.size("__gs") > 0)
        .crossJoin(F.broadcast(mask))
        .select(
            id_col,
            F.size("__gs").alias("n_ngrams"),
            F.size(
                F.array_distinct(
                    F.transform(
                        F.filter(F.col("__gs"), clean_gram),
                        lambda g: shingle_hash(g),
                    )
                )
            ).alias("__n_clean"),
        )
        .withColumn("n_flagged", F.col("n_ngrams") - F.col("__n_clean"))
    )
    bp = F.floor(
        (F.col("n_flagged") * SAMPLE_DENOM).cast("long") / F.col("n_ngrams")
    ).cast("long")
    return out.select(
        id_col,
        "n_ngrams",
        "n_flagged",
        bp.alias("flagged_bp"),
        ((F.col("n_flagged") > 0) & (bp >= F.lit(flag_threshold_bp))).alias(
            "is_flagged"
        ),
    )


def _uniform_bp(id_col: str | Column) -> Column:
    """Deterministic uniform in [0, 10_000): first 8 md5 hex chars of
    the stringified id, mod 10_000.  Engine-portable (DuckDB computes
    the identical value) and stable across runs/partitionings — the
    property that makes the sample reproducible and incrementally
    consistent (re-running over a grown corpus keeps prior decisions).
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return h % SAMPLE_DENOM


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    fractions_bp: dict[str, int] | None = None,
    default_bp: int = 2_500,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling: keep a per-stratum fraction
    of rows, chosen by a content-independent md5 hash of the id — the
    mixture-weighting step of a data pipeline (e.g. upweight
    high-quality sources, downsample boilerplate-heavy ones).

    ``fractions_bp`` maps stratum value → keep-fraction in basis
    points (5_000 = 50%); strata not listed use ``default_bp``.

    Scale shape: a NARROW per-row filter — no shuffle, no sampling
    state, no ``df.sample`` nondeterminism (Spark's ``sample`` is
    partition-layout dependent; this is not).  Pushdown-friendly: the
    md5 filter evaluates right on top of the scan.
    """
    fractions_bp = fractions_bp or {}
    u = _uniform_bp(id_col)
    thresh: Column = F.lit(default_bp)
    for value, bp in sorted(fractions_bp.items()):
        thresh = F.when(F.col(strata_col) == value, F.lit(bp)).otherwise(thresh)
    return (
        df.withColumn("sample_bucket", u)
        .withColumn("keep_bp", thresh.cast("long"))
        .where(F.col("sample_bucket") < F.col("keep_bp"))
    )


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens: int | None = None,
    delimiter: str | None = None,
) -> DataFrame:
    """Passage-level exact dedup (the CCNet/Dolma paragraph-dedup
    shape): split every document into passages, keep only the FIRST
    corpus-wide occurrence of each distinct passage (ordered by
    (doc_id, position)), and reassemble each document from its kept
    passages.

    Passages are either ``delimiter``-split (real corpora:
    ``"\\n\\n"`` paragraphs, ``"\\n"`` lines) or fixed ``n_tokens``
    windows of the whitespace tokenization (corpora without structural
    delimiters).  Exactly one of the two must be given.

    Spark shape — scale-safe by construction: passages explode
    map-side; the global first-occurrence winner per passage is a
    ``min(struct(doc_id, pos))`` GROUP BY on the passage hash — a
    PARTIAL-aggregable shuffle (hot passages collapse map-side, so a
    boilerplate string repeated 10⁹ times costs one row per input
    partition, never a skewed window sort); winners join back on
    (hash, doc_id, pos) and each document re-assembles with one
    groupBy(doc_id).  Two passage-keyed shuffles total, both
    skew-immune.

    Returns (id, n_passages, n_kept, cleaned_text) — cleaned_text is
    the kept passages in original order; a document whose every
    passage already appeared earlier keeps an empty string.
    """
    if (n_tokens is None) == (delimiter is None):
        raise ValueError("pass exactly one of n_tokens / delimiter")
    if delimiter is not None:
        import re

        parts = F.split(F.col(text_col), re.escape(delimiter), -1)
    else:
        t = tokens(text_col)
        n_chunks = F.ceil(F.size(t) / n_tokens).cast("int")
        parts = F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice(t, i * n_tokens + 1, n_tokens)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        F.col(id_col), F.posexplode(parts).alias("pos", "passage")
    ).withColumn("__h", F.md5("passage"))
    first = exploded.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
            "__first"
        )
    )
    # merge hint: `first` is the distinct-passage table — CORPUS-sized,
    # so Catalyst's static estimate after the aggregate must not
    # broadcast it (the BASELINE.md §5 1M-doc lesson: a driver-side
    # collect of a data-sized side).  As a sort-merge join on __h the
    # winner join REUSES the aggregate's existing sort order on __h —
    # no extra exchange, no re-sort of the aggregated side.  (The
    # min(struct) itself plans as a partial SortAggregate — struct
    # buffers aren't hash-aggregable — which is fine: the slim
    # (hash, id, pos) rows sort cheaply and hot passages still collapse
    # map-side.)
    kept = exploded.join(first.hint("merge"), "__h").withColumn(
        "__keep",
        (F.col(id_col) == F.col("__first")["i"])
        & (F.col("pos") == F.col("__first")["p"]),
    )
    sep = delimiter if delimiter is not None else " "
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("pos"), F.col("passage")),
                        )
                    )
                ),
                lambda s: s["passage"],
            ),
            sep,
        ).alias("cleaned_text"),
    )


# train/val/test cut points in basis points of the md5-uniform
SPLIT_BOUNDS_BP = {"train": 9_000, "val": 9_500}  # rest = test


def train_split_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    bounds_bp: dict[str, int] | None = None,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic train/val/test split + epoch shuffle order — the
    last step before a training job reads the corpus.

    * split: the ``_uniform_bp`` md5 hash of the id against
      ``bounds_bp`` cut points (default 90/5/5).  Content-independent
      and stable, so a grown corpus keeps every prior assignment (no
      train/val leakage across rebuilds).
    * shuffle: a SECOND independent md5 hash orders documents within
      each (split, shard); ``shard`` is a third hash mod ``n_shards``.
      Global training order is shard-major — the scale-correct layout:
      rank is a window per (split, shard), so no single global sort
      partition ever exists, and a 1000-executor job writes/reads
      ``n_shards`` independent streams.  Raise ``n_shards`` with the
      corpus (shards ≈ executors) — the plan shape is unchanged.

    Returns (id, split, shard, shuffle_rank) with shuffle_rank
    1-based within (split, shard).
    """
    return _ranked_split(df, id_col, bounds_bp, n_shards).select(
        id_col, "split", "shard", "shuffle_rank"
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    bounds_bp: dict[str, int] | None = None,
    components: DataFrame | None = None,
) -> DataFrame:
    """X80 — dedup-aware (leakage-safe) train/val/test split: a
    near-duplicate COMPONENT is assigned as a UNIT, so a near-copy of
    a validation document can never land in train — the published
    eval-contamination failure mode that per-document hashing
    (``train_split_shuffle``) cannot prevent (GPT-3's train/test
    overlap appendix; Dodge et al. 2021 C4 contamination).

    The split is the same content-independent md5 rule as
    ``train_split_shuffle`` applied to the component REPRESENTATIVE
    (the min member id from ``connected_components`` over ``pairs``;
    a document in no pair represents itself) — so assignments stay
    stable as the corpus grows, every prior decision is kept, and two
    documents in one component always share a split by construction.

    Returns (id, rep_id, split).

    Pass exactly one of ``pairs`` (components computed here) or
    ``components`` (a precomputed (node, cluster_id) table — e.g. the
    X82 streaming components store's answer, so a rolling ingest can
    assign splits without re-running the pair scan).

    Spark shape: components run on the PAIR graph only (pair-touched
    documents — a small fraction of the corpus), the corpus takes ONE
    left equi-join against that component table, and the split is a
    narrow expression on the representative; no corpus-keyed shuffle
    beyond the one join.
    """
    from genie_spark.analytics.dedup import connected_components

    bounds_bp = bounds_bp or SPLIT_BOUNDS_BP
    if (pairs is None) == (components is None):
        raise ValueError(
            "leakage_safe_split: pass exactly one of pairs / components"
        )
    comp = (
        components.select("node", "cluster_id")
        if components is not None
        else connected_components(pairs, a_col, b_col)
    )
    joined = df.select(id_col).join(
        comp, F.col(id_col) == F.col("node"), "left"
    )
    rep = F.coalesce(F.col("cluster_id"), F.col(id_col))
    u = _uniform_bp(rep)
    cuts = sorted(bounds_bp.items(), key=lambda kv: kv[1])
    split: Column = F.lit("test")
    for name, bound in reversed(cuts):
        split = F.when(u < bound, F.lit(name)).otherwise(split)
    return joined.select(
        id_col,
        rep.cast("long").alias("rep_id"),
        split.alias("split"),
    )


def _ranked_split(
    df: DataFrame,
    id_col: str,
    bounds_bp: dict[str, int] | None,
    n_shards: int,
) -> DataFrame:
    """``df`` + (split, shard, shuffle_rank) columns, payload columns
    carried through — the shared core of ``train_split_shuffle`` (slim
    projection) and ``write_training_shards`` (which must keep the
    payload in the SAME plan: a separate rank table would force a
    corpus-wide re-join)."""
    bounds_bp = bounds_bp or SPLIT_BOUNDS_BP
    u = _uniform_bp(id_col)
    cuts = sorted(bounds_bp.items(), key=lambda kv: kv[1])
    split: Column = F.lit("test")
    for name, bound in reversed(cuts):
        split = F.when(u < bound, F.lit(name)).otherwise(split)
    c = F.col(id_col).cast("string")
    shard = (
        F.conv(F.substring(F.md5(F.concat(c, F.lit("|shard"))), 1, 8), 16, 10)
        .cast("long")
        % n_shards
    )
    shuffle_key = F.md5(F.concat(c, F.lit("|shuffle")))
    w = Window.partitionBy("split", "shard").orderBy("shuffle_key", id_col)
    return (
        df.withColumn("split", split)
        .withColumn("shard", shard)
        .withColumn("shuffle_key", shuffle_key)
        .withColumn("shuffle_rank", F.row_number().over(w).cast("long"))
        .drop("shuffle_key")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay the documents of each
    group end-to-end in ``id_col`` order and cut the token stream into
    fixed-``budget`` training sequences — the GPT-style packing that
    wastes zero pad tokens (documents may straddle a chunk boundary;
    ``straddles`` marks those, for pipelines that mask cross-document
    attention or drop stragglers).

    Per document: its start offset in the group's token stream, the
    chunk (``bin_id``) its first token lands in, its position within
    that chunk's document list, and the straddle flag.

    Spark shape: ONE window over (``group_col`` order by ``id_col``)
    — a single hash-partition shuffle by group; the running sum is
    computed stream-wise inside each partition.  Groups are
    independent, so at 100 TB parallelism = number of groups
    (sources/shards); a pipeline wanting finer parallelism salts the
    group key into (group, shard) first — same plan shape.
    """
    n_tok = F.size(tokens(text_col))
    w = Window.partitionBy(group_col).orderBy(id_col)
    before = Window.partitionBy(group_col).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.coalesce(F.sum(n_tok).over(before), F.lit(0)).cast("long")
    end = start + n_tok - 1
    bin_id = F.floor(start / budget).cast("long")
    end_bin = F.floor(end / budget).cast("long")
    return df.select(
        F.col(id_col),
        F.col(group_col),
        n_tok.cast("long").alias("n_tokens"),
        start.alias("start_offset"),
        bin_id.alias("bin_id"),
        F.row_number().over(w).cast("long").alias("pos_in_group"),
        (end_bin != bin_id).alias("straddles"),
    )


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    bounds_bp: dict[str, int] | None = None,
    n_shards: int = 8,
) -> None:
    """Materialize ``train_split_shuffle`` the way a training job reads
    it: parquet partitioned by (split, shard), each shard written as
    ONE file whose rows are in shuffle order — so an epoch is "read
    shards in any order, rows in file order", with no sort at read
    time.

    Scale shape: the payload carries THROUGH the ranking window
    (``_ranked_split`` — no separate rank table, so no corpus-wide
    re-join); ``repartition(split, shard)`` then reuses the window's
    hash partitioning, ``sortWithinPartitions`` orders rows inside
    each shard (no global sort), and the partitionBy layout gives the
    trainer ``split=train/shard=3/part-*.parquet`` paths to schedule.
    Shards ≈ executors; raise ``n_shards`` with the corpus, never the
    file count per shard.
    """
    payload = _ranked_split(df, id_col, bounds_bp, n_shards)
    (
        payload.repartition("split", "shard")
        .sortWithinPartitions("shuffle_rank")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(out_dir)
    )


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bounds_bp: dict[str, int] | None = None,
    n_shards: int = 8,
    suffix: str = "txt",
) -> None:
    """X87 — WebDataset tar-shard sink (the webdataset spec:
    sequential POSIX tar archives whose member basenames before the
    first dot are the sample key — the standard packaging for
    large-scale multimodal/text training loaders): each (split, shard)
    becomes ONE tar ``{split}-{shard:05d}.tar`` whose members are
    ``{rank:09d}-{id}.{suffix}`` in shuffle order, so an epoch is
    "read shards in any order, stream members sequentially" with no
    random access — the I/O pattern tar exists for.

    Deterministic bytes: the same md5 split/shard/shuffle rule as
    ``write_training_shards`` (``_ranked_split``), zero-padded rank
    prefixes make member order the shuffle order, and tar metadata is
    pinned (mtime 0, uid/gid 0, mode 0644) so re-running the sink
    reproduces byte-identical archives (the S13 float-strip sink's
    rerun-stability discipline).

    Scale shape: ``repartition(split, shard)`` co-locates each
    shard's rows on one task; ``sortWithinPartitions`` orders members
    without a global sort; each task streams its groups straight into
    tar files (temp + atomic rename), so memory is O(row), never
    O(shard).  ``out_dir`` must be a filesystem every executor can
    write (POSIX/NFS or local staging; object-store deployments stage
    locally and upload, the standard webdataset practice).
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    payload = _ranked_split(
        df.select(id_col, text_col), id_col, bounds_bp, n_shards
    )
    rows = (
        payload.select(
            "split",
            "shard",
            "shuffle_rank",
            F.col(id_col).cast("string").alias("__id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
        )
        .repartition("split", "shard")
        .sortWithinPartitions("split", "shard", "shuffle_rank")
    )
    sfx = str(suffix)

    def write_partition(it):
        import io
        import tarfile

        cur = None
        tf = None
        tmp = final = None

        def close_current():
            nonlocal tf
            if tf is not None:
                tf.close()
                os.replace(tmp, final)
                tf = None

        for r in it:
            key = (r["split"], int(r["shard"]))
            if key != cur:
                close_current()
                cur = key
                final = os.path.join(
                    out_dir, f"{key[0]}-{key[1]:05d}.tar"
                )
                tmp = final + ".tmp"
                tf = tarfile.open(tmp, "w")
            data = r["__text"].encode("utf-8")
            info = tarfile.TarInfo(
                name=f"{int(r['shuffle_rank']):09d}-{r['__id']}.{sfx}"
            )
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            info.mode = 0o644
            tf.addfile(info, io.BytesIO(data))
        close_current()

    rows.foreachPartition(write_partition)


def read_webdataset(
    spark,
    in_dir: str,
    suffix: str = "txt",
) -> DataFrame:
    """X87 reader — stream WebDataset tar shards back into a DataFrame:
    (split, shard, shuffle_rank, key, text), one row per tar member,
    exactly inverting ``write_webdataset_shards``'s layout (shard
    identity from the archive name, rank + key from the member name).

    Spark shape: ``binaryFile`` scan of the ``*.tar`` files — one task
    per shard archive, which is the webdataset contract (a shard is
    the unit of parallelism) — then an Arrow ``mapInPandas`` that
    walks each tar SEQUENTIALLY with the stdlib ``tarfile`` (streaming
    reads; tar has no random access to exploit anyway).  No Python in
    the per-byte path beyond the member decode.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("split", T.StringType(), False),
            T.StructField("shard", T.LongType(), False),
            T.StructField("shuffle_rank", T.LongType(), False),
            T.StructField("key", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    dot_sfx = "." + str(suffix)

    def decode(batches):
        import io
        import os
        import tarfile

        import pandas as pd

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                base = os.path.basename(path)
                if not base.endswith(".tar"):
                    continue
                split, shard_s = base[: -len(".tar")].rsplit("-", 1)
                rows = {
                    "split": [], "shard": [], "shuffle_rank": [],
                    "key": [], "text": [],
                }
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                    for m in tf:
                        if not m.isfile() or not m.name.endswith(dot_sfx):
                            continue
                        stem = m.name[: -len(dot_sfx)]
                        rank_s, key = stem.split("-", 1)
                        rows["split"].append(split)
                        rows["shard"].append(int(shard_s))
                        rows["shuffle_rank"].append(int(rank_s))
                        rows["key"].append(key)
                        rows["text"].append(
                            tf.extractfile(m).read().decode("utf-8")
                        )
                if rows["key"]:
                    yield pd.DataFrame(rows)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(in_dir)
        .select("path", "content")
    )
    return files.mapInPandas(decode, out_schema)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking with overlap — the retrieval/long-doc
    training primitive ``pack_sequences`` does NOT cover (packing
    concatenates across docs with no overlap; chunking splits within a
    doc, each chunk re-reading ``window - stride`` tokens of context).

    Per doc: token offsets 0, stride, 2·stride, … < n_tokens, each
    yielding the next ``window`` tokens (the final chunk is shorter).
    Pure narrow plan — tokenize, one ``explode`` of the offset
    sequence, ``slice``/``array_join`` — ZERO shuffles, so it scales
    as the scan does; chunk_id is the offset index (deterministic,
    rerun-stable).

    Output: (id, chunk_id, chunk_start, chunk_text, n_tokens).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    from genie_spark.analytics.text import tokens

    toks = df.select(
        F.col(id_col),
        tokens(text_col).alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    offs = toks.where(F.col("__n") > 0).select(
        id_col,
        "__toks",
        F.explode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
        ).alias("chunk_start"),
    )
    chunk = F.slice("__toks", F.col("chunk_start") + 1, window)
    return offs.select(
        F.col(id_col),
        (F.col("chunk_start") / stride).cast("long").alias("chunk_id"),
        F.col("chunk_start").cast("long"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


def corpus_keep_list(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    allowed_langs: tuple[str, ...] = ("en",),
    surprisal_centibits: int = 500,
) -> DataFrame:
    """The composed pre-training filter chain — what a pipeline
    actually runs over raw documents: heuristic quality
    (``text.quality_score``), language-ID against an allowlist
    (``text.lang_id``), Gopher repetition flags
    (``text.repetition_stats``), and unigram-LM surprisal outliers
    (``text.lm_surprisal``), joined into ONE verdict per document with
    per-stage reason flags (the removal-report shape: every drop is
    attributable to the stage that caused it).

    Scale shape: the three narrow signal ops add zero shuffles; the
    LM pass adds its token-keyed merge join; the final assembly is
    id-keyed equi-joins of same-cardinality frames — at 100 TB each
    stage stays the scan-shaped plan it is standalone.  Filters are
    evaluated on EVERY doc (not short-circuited) so the report counts
    all reasons per doc, not just the first.
    """
    from genie_spark.analytics.text import (
        lang_id,
        lm_surprisal,
        quality_score,
        repetition_stats,
    )

    q = quality_score(df, id_col, text_col).select(id_col, "passes_quality")
    l = lang_id(df, id_col, text_col).select(id_col, "pred_lang")
    r = repetition_stats(df, id_col, text_col).select(
        id_col, F.col("flagged").alias("repetition_flagged")
    )
    s = lm_surprisal(df, id_col, text_col, surprisal_centibits).select(
        id_col, "is_outlier"
    )
    lang_ok = F.col("pred_lang").isin(*allowed_langs)
    out = (
        df.select(id_col)
        .join(q, id_col, "left")
        .join(l, id_col, "left")
        .join(r, id_col, "left")
        .join(s, id_col, "left")
    )
    return out.select(
        id_col,
        F.coalesce("passes_quality", F.lit(False)).alias("quality_ok"),
        F.coalesce(lang_ok, F.lit(False)).alias("lang_ok"),
        (~F.coalesce("repetition_flagged", F.lit(False))).alias("repetition_ok"),
        (~F.coalesce("is_outlier", F.lit(True))).alias("surprisal_ok"),
    ).withColumn(
        "keep",
        F.col("quality_ok")
        & F.col("lang_ok")
        & F.col("repetition_ok")
        & F.col("surprisal_ok"),
    )


EPOCH_WEIGHTS_MILLI = (1000, 700, 500, 300)


def epoch_allocation(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    text_col: str = "text",
    epoch_weights_milli: tuple[int, ...] = EPOCH_WEIGHTS_MILLI,
) -> DataFrame:
    """X81 — repeat-aware epoch budgeting under data-constrained
    scaling (Muennighoff et al. 2023, arXiv 2305.16264: repeated
    tokens are worth progressively less, ~worthless past 4 epochs;
    the "how many epochs of each domain fit my token budget"
    planning step every data-constrained run does by hand).

    Greedy water-filling in EXACT integer milli-utility: candidates
    are (domain, epoch k) pairs costing the domain's unique tokens
    U_d and yielding utility ``epoch_weights_milli[k-1]·U_d``;
    admitted in (weight DESC, U_d ASC, domain ASC) order — strictly
    decreasing weights (guarded) make every admitted epoch k imply
    k-1 admitted earlier, so allocations are proper prefixes — under
    the X36 greedy-prefix rule: admit iff the cumulative token cost
    BEFORE the candidate is < ``budget_tokens`` (the straddling
    candidate is admitted whole; overshoot < one epoch of one
    domain).

    Returns (domain, unique_tokens, epochs, tokens_used,
    utility_milli) — epochs 0 rows kept (the report says which
    domains did NOT fit).

    Scale shape: ONE map-side-partial domain aggregate (the only
    corpus-sized work); candidates are a domains×epochs dim table
    whose cumulative sums run as a triangular self-join (dims² tiny,
    no unpartitioned window); the result is the plan artifact a
    driver feeds to ``token_budget_select`` — the corpus itself is
    never re-scanned.
    """
    if budget_tokens < 0:
        raise ValueError("epoch_allocation: negative budget")
    ws = [int(w) for w in epoch_weights_milli]
    if not ws or any(
        ws[i] <= ws[i + 1] for i in range(len(ws) - 1)
    ):
        raise ValueError(
            "epoch_allocation: epoch weights must be strictly decreasing"
        )
    spark = df.sparkSession
    toks = F.size(tokens(text_col)).cast("long")
    domains = (
        df.where(F.col(group_col).isNotNull() & F.col(text_col).isNotNull())
        .select(F.col(group_col).cast("string").alias("domain"), toks.alias("__t"))
        .groupBy("domain")
        .agg(F.sum("__t").alias("unique_tokens"))
    )
    weights = local_rows_df(
        spark, [(k + 1, w) for k, w in enumerate(ws)], "epoch int, w_milli long"
    )
    cand = domains.crossJoin(F.broadcast(weights)).select(
        "domain",
        "unique_tokens",
        "epoch",
        "w_milli",
    )
    a = cand.alias("a")
    b = cand.alias("b")
    # candidates BEFORE a in (w DESC, U ASC, domain ASC) order
    before = (
        (F.col("b.w_milli") > F.col("a.w_milli"))
        | (
            (F.col("b.w_milli") == F.col("a.w_milli"))
            & (F.col("b.unique_tokens") < F.col("a.unique_tokens"))
        )
        | (
            (F.col("b.w_milli") == F.col("a.w_milli"))
            & (F.col("b.unique_tokens") == F.col("a.unique_tokens"))
            & (F.col("b.domain") < F.col("a.domain"))
        )
    )
    cum = (
        a.join(b, before, "left")
        .groupBy(
            F.col("a.domain").alias("domain"),
            F.col("a.unique_tokens").alias("unique_tokens"),
            F.col("a.epoch").alias("epoch"),
            F.col("a.w_milli").alias("w_milli"),
        )
        .agg(
            F.coalesce(F.sum("b.unique_tokens"), F.lit(0))
            .cast("long")
            .alias("cum_before")
        )
    )
    admitted = cum.withColumn(
        "admit", F.col("cum_before") < F.lit(int(budget_tokens))
    )
    return (
        admitted.groupBy("domain", "unique_tokens")
        .agg(
            F.sum(F.when(F.col("admit"), 1).otherwise(0))
            .cast("long")
            .alias("epochs"),
            (
                F.sum(F.when(F.col("admit"), 1).otherwise(0))
                * F.first("unique_tokens")
            )
            .cast("long")
            .alias("tokens_used"),
            F.sum(
                F.when(
                    F.col("admit"),
                    F.col("w_milli") * F.col("unique_tokens"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("utility_milli"),
        )
    )


def token_budget_select(
    df: DataFrame,
    budget: int | dict[str, int],
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bin_bits: int = 12,
    default_budget: int = 0,
) -> DataFrame:
    """Token-budgeted corpus selection: per group, keep documents in a
    deterministic shuffled order until the group's token budget is
    reached — the data-mixing primitive that turns per-domain weight
    targets ("20 B tokens of code, 5 B of forums") into a concrete
    document set.  ``budget`` is one int for every group, or a
    {group: budget} dict for true mixture targets (groups absent from
    the dict get ``default_budget`` — 0 drops them, the usual "only
    the listed domains" policy).  A document is kept iff the tokens
    BEFORE it in the order are < its group's budget (greedy fill; the
    straddling document is included, so every non-empty group with
    budget ≥ 1 yields at least one document).  The order is
    (md5-60bit(id), id) — the same content-independent hash family as
    every sampling op, so reruns, shards, and engines agree.

    Scale shape (the reason this is not ONE window over the corpus):
    a global per-group cumulative sum would sort every group's
    documents.  Instead docs are binned by the hash's top
    ``n_bin_bits`` bits (bins partition the order into contiguous
    ranges), per-bin token sums roll up to a groups×2^n_bin_bits
    artifact whose cumulative sums locate each group's cutoff bin —
    bins strictly before it are kept map-side with NO sort, bins
    after are dropped map-side, and only the ONE straddling bin per
    group pays the exact within-bin window (≈1/2^n_bin_bits of the
    data).  The kept SET is identical to the naive global window
    (same total order), which is exactly what the SQL oracle runs.

    Returns (id, group, n_tokens) for the kept documents.
    """
    from pyspark.sql import Window

    from genie_spark.analytics.dedup import shingle_hash
    from genie_spark.analytics.text import tokens

    if isinstance(budget, dict):
        if default_budget < 0 or any(b < 0 for b in budget.values()):
            raise ValueError("budgets must be ≥ 0")
        # group-keyed budget literal: a CASE over the dict (dim-sized
        # by contract — domains, not data), evaluated map-side
        b_col = F.lit(default_budget).cast("long")
        for g, b in sorted(budget.items()):
            b_col = F.when(F.col(group_col) == g, F.lit(b).cast("long")).otherwise(b_col)
    else:
        if budget < 0:
            raise ValueError(f"budget={budget} must be ≥ 0")
        b_col = F.lit(budget).cast("long")
    base = df.where(
        F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(id_col),
        F.col(group_col),
        shingle_hash(F.col(id_col).cast("string")).alias("__h"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    # the bins_cum broadcast below is groups × 2^n_bin_bits rows —
    # dim-sized ONLY while group_col is a domain column.  A doc-level
    # group_col (an easy caller mistake) would broadcast a multi-GB
    # artifact and OOM the driver (ADVICE r7), so: estimate the group
    # count (one partial-agg job, no wide shuffle), shrink the bin
    # bits so the artifact stays ≤ _BUDGET_BROADCAST_MAX rows (the
    # kept SET is n_bin_bits-independent — binning is pure execution
    # strategy), and refuse outright when the groups ALONE blow the
    # cap.  The 1.1 factor absorbs approx_count_distinct's rsd.
    n_groups = int(
        (base.agg(F.approx_count_distinct(group_col)).first()[0] or 0) * 1.1
    ) or 1
    if n_groups > _BUDGET_BROADCAST_MAX:
        raise ValueError(
            f"token_budget_select: group_col={group_col!r} has ~{n_groups:,} "
            "distinct values — groups are domains (dim-sized by contract); "
            "a document-level group column would broadcast a "
            "groups-sized artifact. Pass the domain/mixture column."
        )
    while n_bin_bits > 0 and n_groups << n_bin_bits > _BUDGET_BROADCAST_MAX:
        n_bin_bits -= 1
    shift = 60 - n_bin_bits
    binned = base.withColumn("__bin", F.expr(f"shiftright(__h, {shift})"))
    per_bin = binned.groupBy(group_col, "__bin").agg(
        F.sum("n_tokens").alias("__bin_tok")
    )
    wb = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__bin").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bins_cum = (
        per_bin.withColumn("__cum_end", F.sum("__bin_tok").over(wb))
        .withColumn("__cum_before", F.col("__cum_end") - F.col("__bin_tok"))
    )
    # groups × 2^n_bin_bits rows — dim-sized by construction
    tagged = binned.join(F.broadcast(bins_cum), [group_col, "__bin"]).withColumn(
        "__budget", b_col
    )
    # strict cum_end < budget for the sort-free path: in a bin with
    # cum_end == budget, a ZERO-token document at the exact end has
    # tokens_before == budget and the naive rule drops it — such bins
    # must go through the exact per-doc filter (a <= here kept those
    # rows and diverged from the oracle at budget 0 / exact-boundary
    # corpora)
    whole_bins = tagged.where(F.col("__cum_end") < F.col("__budget"))
    straddle = tagged.where(
        (F.col("__cum_before") < F.col("__budget"))
        & (F.col("__cum_end") >= F.col("__budget"))
    )
    ws = (
        Window.partitionBy(group_col, "__bin")
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    straddle_kept = straddle.withColumn(
        "__cum", F.col("__cum_before") + F.sum("n_tokens").over(ws)
    ).where(F.col("__cum") - F.col("n_tokens") < F.col("__budget"))
    cols = [id_col, group_col, "n_tokens"]
    return whole_bins.select(*cols).unionByName(straddle_kept.select(*cols))


def priority_sample(
    df: DataFrame,
    group_col: str = "source",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Deterministic weighted sampling without replacement per group:
    priority sampling (Duffield, Lund & Thorup, JACM 2007).

    Each row gets priority ``q = w / u`` with a content-independent
    uniform ``u = (h+1) / 2^32`` (``h`` = first 8 md5 hex digits of
    the stringified id, the corpus-wide sampling idiom of
    ``_uniform_bp``); the k largest priorities per group are the
    sample.  Rows with large weights are near-certain picks, small
    weights enter with probability ∝ w — the data-mixing primitive
    for "sample n docs per source, longer docs proportionally more
    often" without replacement and without a full per-group pass.

    ``est_weight = max(w, τ)`` (τ = the (k+1)-th priority, 0 when the
    group has ≤ k rows) makes the sample a subset-sum estimator:
    E[Σ est_weight over the sample] equals the group's true Σw, so
    downstream token-count accounting stays unbiased.

    Engine portability: q is computed as the single IEEE divide
    ``w/(h+1)`` (both operands exactly representable as doubles)
    scaled by 2^32 (exact exponent shift) — one correctly-rounded
    operation, bit-identical in any IEEE engine, so ordering, τ and
    est_weight reproduce exactly.  Shape at scale: ONE shuffle (the
    per-group window); rank and τ come from two Window nodes over the
    same partitioning, a single exchange.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    q = (F.col("weight").cast("double") / (h + F.lit(1))) * F.lit(float(2**32))
    wr = Window.partitionBy(group_col).orderBy(F.col("priority").desc(), id_col)
    wg = Window.partitionBy(group_col)
    ranked = (
        df.select(group_col, id_col, F.col(weight_col).alias("weight"))
        .withColumn("priority", q)
        .withColumn("rk", F.row_number().over(wr))
        .withColumn(
            "tau",
            F.max(F.when(F.col("rk") == k + 1, F.col("priority"))).over(wg),
        )
    )
    return (
        ranked.where(F.col("rk") <= k)
        .withColumn(
            "est_weight",
            F.greatest(F.col("weight").cast("double"), F.coalesce("tau", F.lit(0.0))),
        )
        .select(group_col, id_col, "weight", "priority", "est_weight")
    )


def _ilog2(x: Column) -> Column:
    """Exact integer floor(log2(x)) for x >= 1: binary-string length
    minus one (Spark ``bin`` == DuckDB ``bin``, both unpadded) — no
    libm, so the oracle agrees bit-for-bit (the lm_surprisal idiom)."""
    return (F.length(F.bin(x)) - F.lit(1)).cast("long")


def _dsir_features(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """Hashed n-gram feature stream for DSIR: one row per unigram AND
    bigram occurrence, bucketed by the 60-bit md5 hash mod
    ``n_buckets`` (the hashing trick of Xie et al. 2023 §3; same
    feature family as ``hashed_linear_classify``).  Narrow: explode of
    a per-row array, no shuffle."""
    from genie_spark.analytics.dedup import shingle_hash

    grams = F.concat(tokens(text_col), token_ngrams(text_col, 2))
    return df.select(
        id_col, F.explode(grams).alias("__g")
    ).select(
        id_col,
        (shingle_hash(F.col("__g")) % n_buckets).alias("__b"),
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int = 100,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X51 — DSIR data selection by importance resampling (Xie et al.
    2023, arXiv 2302.03169): score every raw document by how much more
    likely its hashed n-gram features are under the TARGET corpus's
    bag-of-ngrams model than under the raw corpus's own, then keep the
    ``k`` highest-importance documents — the published recipe for
    "select pretraining data that looks like the target domain".

    Scoring is the paper's log likelihood ratio with add-1 smoothing,
    at EXACT INTEGER bit resolution (the package's no-libm rule —
    ``floor(log2)`` via binary-string length, the lm_surprisal idiom):

        lam[b]     = ilog2(cnt_target[b] + 1) - ilog2(cnt_raw[b] + 1)
        score(doc) = sum over feature occurrences of lam[bucket]
                     + n_features(doc) * (ilog2(T_raw + B) - ilog2(T_target + B))

    which is ``sum log p_target(f) - log p_raw(f)`` with both
    normalizers exact.  The resample is the paper's threshold variant
    made deterministic: rank by (score DESC, md5(id), id) — the
    md5 key breaks threshold-score ties uniformly, so the selection is
    reproducible across runs and engines (the priority_sample /
    _uniform_bp discipline).  Documents with zero features (empty
    text) are not scored, mirroring ``bm25_topk``.

    Returns (id, score_bits, n_features, rank), rank 1..k.

    Spark shape (the 100 TB one): the feature stream is a narrow
    explode; both model aggregates are groupBy(bucket) with MAP-SIDE
    partial combine, so each shuffle carries at most ``n_buckets``
    rows per task regardless of corpus size; the lambda table is
    <= ``n_buckets`` rows and is explicitly ``broadcast()`` (aggregate-
    derived size estimates are untrustworthy — the ngram_jaccard_pairs
    lesson); scoring is ONE doc-keyed exchange (the groupBy(id)); the
    top-k plans as TakeOrderedAndProject, never a corpus sort.  T_p /
    T_q are two 1-row aggregates embedded as literals (the kmeans /
    lm_surprisal constants contract).
    """
    from pyspark import StorageLevel

    from genie_spark.analytics.dedup import _release_on_gc

    # feats_raw feeds BOTH the raw model count and the scoring join —
    # persist it so the raw corpus is tokenized+exploded ONCE per
    # invocation instead of twice (r15; the published DSIR pipeline
    # materializes the hashed features for the same reason).  Token-
    # level rows of two longs — MEMORY_AND_DISK spills rather than
    # recomputes at corpus scale.
    feats_raw = _dsir_features(raw, id_col, text_col, n_buckets).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    feats_tgt = _dsir_features(target, id_col, text_col, n_buckets)
    # the model tables are <= n_buckets rows: persist them and derive
    # the totals from THEM (1-row aggs over B rows), so each corpus's
    # feature stream is scanned once for the model
    cq = feats_raw.groupBy("__b").agg(F.count(F.lit(1)).alias("__q")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cp = feats_tgt.groupBy("__b").agg(F.count(F.lit(1)).alias("__p")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    t_q = cq.agg(F.sum("__q")).first()[0] or 0
    t_p = cp.agg(F.sum("__p")).first()[0] or 0
    lam = cq.join(cp, "__b", "left").select(
        "__b",
        (
            _ilog2(F.coalesce(F.col("__p"), F.lit(0)) + F.lit(1))
            - _ilog2(F.col("__q") + F.lit(1))
        ).alias("__lam"),
    )
    # global length-normalizer constant: exact ints on the driver
    c_norm = (int(t_q + n_buckets).bit_length() - 1) - (
        int(t_p + n_buckets).bit_length() - 1
    )
    scored = (
        feats_raw.join(F.broadcast(lam), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum("__lam").alias("__s"),
        )
        .select(
            id_col,
            (F.col("__s") + F.col("n_features") * F.lit(c_norm))
            .cast("long")
            .alias("score_bits"),
            "n_features",
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    ranked = scored.withColumn("__h", h).orderBy(
        F.desc("score_bits"), F.asc("__h"), F.asc(id_col)
    ).limit(k)
    from genie_spark.functions.ranking import rank_bounded

    out = rank_bounded(
        ranked, F.desc("score_bits"), F.asc("__h"), F.asc(id_col),
        max_rows=k,
    ).drop("__h")
    return _release_on_gc(
        _release_on_gc(_release_on_gc(out, cq), cp), feats_raw
    )


def domain_cap(
    df: DataFrame,
    group_col: str = "source",
    max_per_group: int = 100,
    order_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """X56 — per-domain frequency capping (the RefinedWeb/C4 "limit
    documents per domain" step: a handful of template-heavy domains
    otherwise dominate a web corpus): keep at most ``max_per_group``
    documents per ``group_col``, preferring higher ``order_col`` (a
    quality score / length), ties and the unordered case broken by
    (md5(id), id) — deterministic across runs and engines (the
    priority_sample discipline).

    Returns the kept rows plus their ``domain_rank`` (1-based within
    the group).

    Spark shape: ONE window shuffle keyed by the group; Spark 4 plans
    the row_number-≤-k filter as a Partial WindowGroupLimit BELOW the
    exchange (the w2 latest-per-key pin), so each map task ships at
    most ``max_per_group`` rows per domain instead of the whole
    corpus — the cap is enforced map-side at 100 TB.  Hot domains are
    exactly the point (one domain = millions of pages); the group
    limit bounds the reduce-side rows per key, so no salting is
    needed.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    order = (
        [F.desc(order_col)] if order_col is not None else []
    ) + [h.asc(), F.col(id_col).asc()]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("domain_rank", F.row_number().over(w).cast("long"))
        .where(F.col("domain_rank") <= max_per_group)
    )


def soft_dedup(
    df: DataFrame,
    n: int = 3,
    k: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X57 — SoftDeDup frequency-weighted reweighting (He et al., ACL
    2024 "SoftDedup"): instead of HARD-removing near-duplicates, score
    every document's "data commonness" — how probable its n-grams are
    under the corpus's own n-gram distribution — and resample with
    weight inversely related to commonness, so template-heavy
    boilerplate is downsampled smoothly while rare text is near-certain
    to survive.  This is the soft counterpart to the hard dedup family
    (X1–X5, X47): it preserves mixture coverage where hard dedup would
    delete.

    Commonness is scored at EXACT INTEGER bit resolution (the
    lm_surprisal / DSIR idiom — ``floor(log2)`` via binary-string
    length, no libm): per n-gram occurrence the surprisal is
    ``ilog2(T) - ilog2(c(g))`` bits (T = total n-gram occurrences,
    c(g) = the gram's corpus count >= 1), a document's
    ``rarity_bits`` is the sum over its occurrences, and
    ``mean_rarity_mbits = rarity_bits*1000 // n_ngrams`` is the
    per-gram mean in millibits — high mean = rare text, low mean =
    boilerplate.  The resample weight is ``mean_rarity_mbits + 1``
    (positive by construction) and selection is deterministic priority
    sampling (Duffield-Lund-Thorup, the X42 idiom): priority
    ``q = weight/(h+1) * 2^32`` with the md5-uniform ``h``, keep the
    global top ``k`` — every arithmetic step is either exact integer
    or a single correctly-rounded IEEE op, so the DuckDB oracle
    hash-matches bit-for-bit.

    Documents with fewer than ``n`` tokens have no n-grams and are not
    scored (the bm25/DSIR empty-feature contract).

    Returns (id, n_ngrams, rarity_bits, mean_rarity_mbits, weight,
    priority, rank), rank 1..k by priority.

    Spark shape (the 100 TB one): the gram stream is a narrow explode;
    the count "model" is groupBy(gram) with MAP-SIDE partial combine
    and is persisted so T comes from a 1-row agg over the vocab-sized
    table, not a second corpus scan; the scoring join is gram-keyed
    and MERGE-hinted (the vocabulary is corpus-derived and Zipf-long —
    never a broadcast estimate; hot grams are AQE's skew-split case);
    scoring is ONE doc-keyed exchange; the top-k plans as
    TakeOrderedAndProject, never a corpus sort.
    """
    from pyspark import StorageLevel

    from genie_spark.analytics.dedup import _release_on_gc

    occ = df.select(
        F.col(id_col), F.explode(token_ngrams(text_col, n)).alias("__g")
    )
    counts = occ.groupBy("__g").agg(F.count(F.lit(1)).alias("__c")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    total = counts.agg(F.sum("__c")).first()[0] or 0
    t_bits = max(int(total).bit_length() - 1, 0)
    bits = (
        F.lit(t_bits) - (F.length(F.bin(F.col("__c"))) - F.lit(1))
    ).cast("long")
    scored = (
        occ.join(counts.hint("merge"), "__g")
        .withColumn("__bits", bits)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum("__bits").cast("long").alias("rarity_bits"),
        )
        .withColumn(
            "mean_rarity_mbits",
            F.floor((F.col("rarity_bits") * 1000) / F.col("n_ngrams")).cast(
                "long"
            ),
        )
        .withColumn("weight", (F.col("mean_rarity_mbits") + F.lit(1)))
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    # single correctly-rounded IEEE divide scaled by an exact power of
    # two — bit-identical in any IEEE engine (the priority_sample rule)
    q = (F.col("weight").cast("double") / (h + F.lit(1))) * F.lit(float(2**32))
    ranked = (
        scored.withColumn("priority", q)
        .orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k)
    )
    from genie_spark.functions.ranking import rank_bounded

    out = rank_bounded(
        ranked, F.desc("priority"), F.asc(id_col), max_rows=k
    )
    return _release_on_gc(out, counts)


def temperature_mix(
    df: DataFrame,
    n_target: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha_halvings: int = 1,
) -> DataFrame:
    """X69 — temperature-based mixture reweighting: the published
    data-mixing rung between hard budgets (X36/X56/X68) and raw
    proportions — per-domain sampling weights p_i^α / Σ p_j^α
    (XLM-R's temperature sampling, Conneau et al. 2020 §3.1; the same
    exponent-smoothing GPT-3 used for its corpus mixture), so
    low-resource domains are UPsampled relative to their share and
    head domains are flattened, without the cliff of a fixed cap.

    Exactness: α is expressed as repeated INTEGER square roots —
    ``alpha_halvings`` a applies ``s_g = isqrt^a(n_g)`` (a=0 → α=1
    proportional, a=1 → α=1/2 i.e. temperature T=2, a=2 → α=1/4) —
    because ``floor(sqrt(bigint))`` is exact in any IEEE engine below
    2^50 (sqrt is correctly rounded and the gap to the next integer
    square dwarfs the ulp), while a general ``pow(p, 0.3)`` is a libm
    call with no cross-engine rounding contract (the float-aggregate
    oracle rule).  Everything downstream is exact integer arithmetic:

    * weight_ppm  = (s_g * 1_000_000) // S            with S = Σ s_g
    * target_g    = (n_target * s_g) // S             docs to draw
    * admit_ppm   = min(1_000_000, (target_g * 1_000_000) // n_g)
    * keep iff md5-ppm(id) < admit_ppm                (``_uniform_bp``
      idiom at ppm resolution — content-independent, so reruns,
      shards, and engines agree; re-running over a grown corpus keeps
      prior admissions)

    Returns the admitted rows plus (n_docs, s_alpha, weight_ppm,
    admit_ppm) — the audit columns that make the realized mixture
    one aggregation away (the X32 no-silent-drop discipline).

    Spark shape (the 100 TB one): ONE domain-keyed aggregate (dim-
    sized result, map-side partial combine) PERSISTED so Σ s_g comes
    from a 1-row agg over the dim table — never a second corpus scan
    (the soft_dedup model-table idiom) — the weight table BROADCAST
    back onto the corpus, and admission a NARROW map-side filter — no
    window, no corpus sort, no corpus-keyed shuffle at all.
    """
    from pyspark import StorageLevel

    from genie_spark.analytics.dedup import _release_on_gc

    if n_target < 0:
        raise ValueError(f"n_target={n_target} must be >= 0")
    if alpha_halvings < 0:
        raise ValueError(f"alpha_halvings={alpha_halvings} must be >= 0")
    base = df.where(F.col(group_col).isNotNull())
    s: Column = F.col("n_docs")
    for _ in range(alpha_halvings):
        s = F.floor(F.sqrt(s.cast("double"))).cast("long")
    counts = (
        base.groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("s_alpha", s)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = int(counts.agg(F.sum("s_alpha")).first()[0] or 0)
    if total == 0:
        return local_rows_df(
            base.sparkSession,
            [],
            base.withColumns(
                {
                    "n_docs": F.lit(0).cast("long"),
                    "s_alpha": F.lit(0).cast("long"),
                    "weight_ppm": F.lit(0).cast("long"),
                    "admit_ppm": F.lit(0).cast("long"),
                }
            ).schema,
        )
    weights = (
        counts.withColumn(
            "weight_ppm",
            F.floor((F.col("s_alpha") * 1_000_000) / F.lit(total)).cast(
                "long"
            ),
        )
        .withColumn(
            "__target",
            F.floor(
                (F.lit(n_target) * F.col("s_alpha")) / F.lit(total)
            ).cast("long"),
        )
        .withColumn(
            "admit_ppm",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.floor(
                    (F.col("__target") * 1_000_000) / F.col("n_docs")
                ).cast("long"),
            ),
        )
        .select(group_col, "n_docs", "s_alpha", "weight_ppm", "admit_ppm")
    )
    u_ppm = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 1_000_000
    )
    out = (
        base.join(F.broadcast(weights), group_col)
        .withColumn("__u", u_ppm)
        .where(F.col("__u") < F.col("admit_ppm"))
        .drop("__u")
    )
    return _release_on_gc(out, counts)
