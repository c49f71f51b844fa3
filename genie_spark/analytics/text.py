"""Text analysis over a document table: tokenization stats, quality
scoring, language identification, fingerprinting.

All pure ``pyspark.sql.functions`` expressions (codegen'd) except
``normalize_text``, the module's one documented Arrow escape (Spark
SQL has no Unicode normalizer; a VECTORIZED pandas_udf, never a
row-wise Python UDF).  Ratios are computed as int/int divisions —
deterministic across engines, so the DuckDB oracle hash-matches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from genie_spark.session import local_rows_df
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# tokens: maximal runs of non-whitespace (empty strings filtered — Java
# split keeps trailing empties, DuckDB differs; the filter normalizes)
def tokens(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

# marker words per language for the n-gram/stopword language-ID
# heuristic; priority order breaks ties deterministically
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "se"),
    "fr": ("le", "la", "de", "et", "les", "des", "une"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
}


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token counts: whitespace tokenization + a BPE-ish
    subword estimate (4 chars ≈ 1 token, the common LLM heuristic)."""
    t = tokens(text_col)
    return df.select(
        id_col,
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_uniq_tokens"),
        F.length(F.trim(F.col(text_col))).alias("n_chars_trim"),
        (F.floor(F.length(F.col(text_col)) / 4)).cast("long").alias("n_subword_est"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality signals (length / punctuation / stopword
    ratios) of the kind used to filter LLM pretraining corpora."""
    text = F.col(text_col)
    # tokenize ONCE into a named column — n_tokens and the stopword
    # filter both read it; as separate expressions the regexp split
    # would run twice per row
    df = df.withColumn("__toks", tokens(text_col))
    t = F.col("__toks")
    n_tok = F.size(t)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, F.lower(x))))
    # char-class counts via translate (delete the class, diff lengths) —
    # one table-driven pass per class instead of a regex engine run;
    # ~3× cheaper on long documents, same counts as the oracle's
    # regexp_replace formulation
    import string

    n_chars = F.length(text)

    def class_count(chars: str) -> F.Column:
        return n_chars - F.length(F.translate(text, chars, ""))

    n_alpha = class_count(string.ascii_letters)
    n_digit = class_count(string.digits)
    n_punct = class_count(".,!?;:")
    return df.select(
        id_col,
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        # int/int division → bitwise-identical across engines
        (n_stop / F.greatest(n_tok, F.lit(1))).alias("stop_ratio"),
        (n_alpha / F.greatest(n_chars, F.lit(1))).alias("alpha_ratio"),
        (n_digit / F.greatest(n_chars, F.lit(1))).alias("digit_ratio"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (
            (n_tok >= 10)
            & ((n_stop / F.greatest(n_tok, F.lit(1))) > 0.01)
            & ((n_alpha / F.greatest(n_chars, F.lit(1))) > 0.5)
        ).alias("passes_quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word language ID: count per-language marker hits over the
    token set; fixed priority order (en, es, fr, de) breaks ties; zero
    hits everywhere → 'unknown'."""
    t = tokens(text_col)

    def _hit(arr):
        # single-arg lambda factory: a default-arg closure would make
        # Spark treat it as the two-arg (element, index) filter form
        return lambda x: F.array_contains(arr, F.lower(x))

    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(t, _hit(arr)))
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):  # build when-chain so earlier langs win ties
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return df.select(
        id_col,
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def tfidf_topk(
    df: DataFrame, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf·idf rank —
    the keyword-extraction / topic-signal step of a corpus analysis.

    Scoring is the exact integer ``tf * 1_000_000 // df``: with the
    corpus size N fixed, ranking by tf/df is identical to ranking by
    the float tf·idf = tf·ln(N/df) for any given tf — and the integer
    form is bit-reproducible across engines (no libm log).  Total
    order: (score DESC, term ASC) row_number.

    Spark shape: one explode + two hash aggregations (doc-term tf,
    then term df) + one shuffle join on term + one per-doc window.
    The term-df table is vocabulary-sized — it stays a shuffle join
    here rather than assuming broadcastability (vocabularies at 100 TB
    are billions of n-grams); AQE converts it to broadcast when the
    runtime stats say it fits.
    """
    term = F.explode(tokens(text_col)).alias("term")
    tf = (
        df.select(F.col(id_col), term)
        .withColumn("term", F.lower("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = tf.join(dfreq, "term").withColumn(
        "score",
        F.floor((F.col("tf") * 1_000_000).cast("long") / F.col("doc_freq")).cast(
            "long"
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "doc_freq", "score", "rank")
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    repetition filters): fraction of duplicate 5-grams and the mass of
    the single most frequent 2-gram.  Boilerplate, templated spam, and
    decoding loops all light these up.

    Ratios are int/int divides; ``flagged`` applies the documented
    thresholds (top-2-gram mass > 8% OR duplicate-5-gram fraction
    > 30%).

    Spark shape — fully NARROW, zero shuffles: the mode count of the
    2-grams is the longest equal-run of the per-row SORTED 2-gram
    array, folded with one ``F.aggregate`` pass (JVM higher-order
    function); the 5-gram side needs only array sizes.  The first cut
    of this operator exploded the 2-grams into a (doc, gram) groupBy
    + join — measured 5.8× wall per 10× docs (string-heavy shuffle);
    this form is embarrassingly parallel and scan-bound.
    """
    from genie_spark.analytics.corpus import token_ngrams

    # staged projections: each n-gram array is BUILT once (a projected
    # column referenced twice downstream is one attribute, evaluated
    # once) — as inline expressions the 59-strings-per-doc concat ran
    # once per consumer
    staged = df.select(
        F.col(id_col),
        token_ngrams(text_col, 5).alias("__g5"),
        F.array_sort(token_ngrams(text_col, 2)).alias("__g2s"),
    )
    g5 = F.col("__g5")
    g2_sorted = F.col("__g2s")
    # fold state: (prev gram, current run length, best run length);
    # x == null prev is NULL, so the when() falls to the reset branch
    # on the first element
    run = F.aggregate(
        g2_sorted,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    out = staged.select(
        F.col(id_col),
        F.size(g2_sorted).cast("long").alias("n_2grams"),
        run.alias("top_2gram_count"),
        F.size(g5).cast("long").alias("n_5grams"),
        F.size(F.array_distinct(g5)).cast("long").alias("n_uniq_5grams"),
    )
    top2_frac = F.col("top_2gram_count") / F.greatest("n_2grams", F.lit(1))
    dup5_frac = (F.col("n_5grams") - F.col("n_uniq_5grams")) / F.greatest(
        "n_5grams", F.lit(1)
    )
    return out.select(
        id_col,
        "n_2grams",
        "top_2gram_count",
        top2_frac.alias("top2_frac"),
        "n_5grams",
        "n_uniq_5grams",
        dup5_frac.alias("dup5_frac"),
        ((top2_frac > 0.08) | (dup5_frac > 0.30)).alias("flagged"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: md5 over lowercased,
    whitespace-collapsed text (a cheap rolling-hash stand-in usable as
    a dedup key at any scale)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.select(
        id_col,
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


def lm_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    outlier_centibits: int = 500,
) -> DataFrame:
    """Corpus-trained unigram LM surprisal per document — the
    perplexity-filter family (CCNet's KenLM bucket filter): documents
    whose tokens are collectively improbable under a language model of
    the corpus itself are outliers (OCR noise, wrong language,
    boilerplate soup).

    The "model" is the corpus's own unigram counts; per-token
    surprisal is the INTEGER bit-length log, ``ilog2(T) - ilog2(c(w))``
    (floor(log2) computed exactly as ``length(bin(x)) - 1`` — no libm,
    so Spark and the SQL oracle agree bit-for-bit, keeping the
    package's no-float-aggregation rule).  Returns per doc:
    (id, n_tokens, total_bits, bpt_centibits, is_outlier) where
    ``bpt_centibits`` is mean bits/token ×100 as an exact integer.

    Spark shape: one token explode; the count "training" pass is a
    partial-aggregable groupBy(token); the scoring join is
    token-keyed, merge-hinted (the vocabulary is corpus-derived and
    Zipf-long at 100 TB — never trust a static broadcast estimate),
    and skew on hot tokens ("the") is AQE's SMJ skew-split case; the
    total-token count is ONE scalar collected driver-side and embedded
    as a literal (same contract as kmeans' centroids).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = tok.count()
    t_bits = max(int(total).bit_length() - 1, 0)
    bits = (F.lit(t_bits) - (F.length(F.bin(F.col("c"))) - F.lit(1))).cast("long")
    scored = tok.join(counts.hint("merge"), "tok").withColumn("bits", bits)
    bpt = F.floor((F.sum("bits") * 100) / F.count(F.lit(1))).cast("long")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").alias("total_bits"),
        bpt.alias("bpt_centibits"),
        (bpt >= F.lit(outlier_centibits)).alias("is_outlier"),
    )


# PII scrub patterns, applied IN ORDER (emails first so their digit
# runs never re-match as phones/numbers).  Conservative regex subset —
# no lookaround, no alternation-precedence tricks — so Java (Spark)
# and RE2 (the DuckDB oracle) match identically.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("longnum", r"\b\d{13,19}\b", "<NUM>"),
)


def scrub_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level PII scrubbing — the training-data counterpart of
    the clinical ``redact_phi`` (which handles age/date policy): mask
    emails, IPv4s, xxx-xxx-xxxx phones, and card-length digit runs
    with typed placeholders, and count each category on the
    PROGRESSIVELY-scrubbed text (count-then-replace per stage), so
    every count equals the number of placeholders that stage actually
    inserted — overlapping matches (a card-length digit run inside an
    email's local part, a phone-shaped string already masked as
    <EMAIL>) are not double-counted, and Σ n_* == total placeholders
    in ``scrubbed`` (the audit trail a removal report needs).

    Pure per-row column expressions (regexp_count + chained
    regexp_replace) — narrow plan, zero shuffles, scales as the scan.
    The staged counts re-evaluate the replace-chain prefix per
    category (O(k²) regex passes for k=4 patterns — constant per row).
    Returns (id, scrubbed, n_email, n_ip, n_phone, n_longnum).
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(F.col(id_col), cur.alias("scrubbed"), *counts)


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents for a term query under BM25 ranking
    (Robertson-Spärck Jones, k1 = 1.2, b = 0.75) — the retrieval-
    scoring primitive of corpus search / RAG candidate selection.

    EXACT-INTEGER scoring (the tf·idf/priority-sample discipline: no
    libm, engine-bit-reproducible): per (doc, term)

        idf_s   = 1_000_000 * N // df_t                (monotone in ln(N/df))
        score_t = (idf_s * 22 * tf * T) div (10*T*tf + 3*T + 9*dl*N)

    which is BM25's  idf · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))  with
    avgdl = T/N cross-multiplied to integers (k1 = 12/10, b = 3/4) and
    a floored division — per-term scores and their per-doc sums are
    identical integers in Spark (`div`) and DuckDB (`//`).  Exact while
    idf_s·22·tf·T < 2⁶³ (≈ corpora of 10¹² total tokens at typical tf;
    shrink the 10⁶ idf scale for more headroom).  Ranking ties break
    on ascending id.

    Spark shape: the token explode filters to the ≤|query| literal
    terms BEFORE aggregating (narrow, predicate-pushed), so the tf
    table is |docs with a hit| × |query| at most; df_t is a ≤|query|-
    row broadcast; dl joins id-keyed (merge-hinted, corpus-sized); the
    global top-k is orderBy+limit = TakeOrdered, never a full sort.
    N and T are two corpus constants fetched by ONE 1-row aggregate.
    Only documents with ≥1 query-term hit are ranked.
    """
    terms = [t.lower() for t in query_terms]
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__toks")).where(
        F.size("__toks") > 0
    )
    const = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("__toks")).alias("t"),
    ).first()
    if const is None or const["n"] == 0 or const["t"] is None:
        # empty (or all-empty-text) corpus: F.sum over zero rows is
        # null — return the empty result instead of a TypeError
        spark = df.sparkSession
        return local_rows_df(
            spark,
            [],
            f"{id_col} {dict(df.dtypes)[id_col]}, score bigint, "
            "n_terms_hit bigint, rank bigint",
        )
    n_docs, total = int(const["n"]), int(const["t"])
    term_arr = F.array(*[F.lit(t) for t in terms])
    tf = (
        base.select(
            id_col,
            F.size("__toks").alias("dl"),
            F.explode(
                F.filter(
                    F.transform("__toks", lambda x: F.lower(x)),
                    lambda x: F.array_contains(term_arr, x),
                )
            ).alias("term"),
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "idf_s",
        F.expr(f"(1000000 * CAST({n_docs} AS BIGINT)) div doc_freq"),
    )
    # `div` = exact long division in Spark, `//` in the DuckDB oracle —
    # no double rounding at any operand magnitude
    per_term = scored.withColumn(
        "score_t",
        F.expr(
            f"CAST((idf_s * 22 * tf * CAST({total} AS BIGINT)) div "
            f"(10 * CAST({total} AS BIGINT) * tf"
            f" + 3 * CAST({total} AS BIGINT)"
            f" + 9 * dl * CAST({n_docs} AS BIGINT)) AS BIGINT)"
        ),
    )
    ranked = (
        per_term.groupBy(id_col)
        .agg(
            F.sum("score_t").cast("long").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
    from genie_spark.functions.ranking import rank_bounded

    return rank_bounded(
        ranked, F.desc("score"), F.asc(id_col), max_rows=k
    )


def hashed_linear_classify(
    df: DataFrame,
    n_buckets: int = 1 << 16,
    weights: dict[int, int] | None = None,
    bias_milli: int = 0,
    threshold_milli: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick linear text classifier — the fastText-style
    quality filter real pretraining pipelines run (CCNet scores every
    paragraph with a linear model over hashed bag-of-words features;
    Gopher/Llama filter on similar learned scores).  Inference only:
    training happens offline; the model ships as (bucket → weight).

    Each lowercased token hashes to one of ``n_buckets`` feature
    buckets (60-bit md5 mod n_buckets — the engine-portable hash used
    everywhere here); the document score is

        score_milli = bias + Σ_tokens weight[bucket(token)]

    with INTEGER milli-unit weights, so the cross-token sum is exact
    and engine-identical (float weights would make the score depend on
    Spark's aggregation order).  ``weights`` maps bucket → weight_milli
    (sparse; missing buckets weigh 0).  When ``weights`` is None, a
    deterministic md5-derived fixture model is used (weight_milli =
    (bucket-hash mod 2001) − 1000 — uniform in [−1000, 1000]), which
    gives tests and the DuckDB oracle a reproducible model without
    shipping a binary.

    Spark shape, 100 TB posture: the model is dim-sized (≤ n_buckets
    rows) and BROADCAST; the corpus side is one explode → hash →
    broadcast-join → per-doc sum (partial map-side combine) — one
    doc-keyed exchange total, no UDF, no vocabulary-sized shuffle.

    Returns (id, n_tokens, score_milli, keep) — ``keep`` applies the
    threshold, the usual filter consumer.
    """
    toks = tokens(text_col)
    exploded = df.select(
        F.col(id_col), F.size(toks).alias("__nt"), F.explode(toks).alias("__t")
    ).select(
        id_col,
        "__nt",
        F.pmod(
            F.conv(F.substring(F.md5(F.lower(F.col("__t"))), 1, 15), 16, 10)
            .cast("long"),
            F.lit(n_buckets),
        ).alias("__b"),
    )
    if weights is None:
        # md5-derived fixture weights, computed as an EXPRESSION on
        # the corpus side — no model table needed at all
        wcol = (
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("__b").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(2001),
            )
            - F.lit(1000)
        ).alias("__w")
        scored = exploded.select(id_col, "__nt", wcol)
    else:
        spark = df.sparkSession
        model = local_rows_df(
            spark,
            [(int(b), int(w)) for b, w in weights.items()],
            "__b long, __w long",
        )
        scored = exploded.join(F.broadcast(model), "__b", "left").select(
            id_col, "__nt", F.coalesce("__w", F.lit(0)).alias("__w")
        )
    out = (
        scored.groupBy(id_col)
        .agg(
            F.first("__nt").cast("long").alias("n_tokens"),
            (F.sum("__w") + F.lit(bias_milli)).cast("long").alias(
                "score_milli"
            ),
        )
    )
    return out.withColumn(
        "keep", F.col("score_milli") >= F.lit(threshold_milli)
    )


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    """One BPE iteration's weighted adjacent-pair counts over the
    vocabulary state table — a narrow split+posexplode and one
    groupBy(pair) with map-side partial sums (plan-pinned by
    tests/test_plans.py); the winner is TakeOrdered, never a sort."""
    arr = F.split(F.ltrim(F.col("__s")), " ")
    return (
        state.where(F.size(arr) >= 2)
        .select(
            F.posexplode(F.slice(arr, 1, F.size(arr) - 1)).alias(
                "__i", "__l"
            ),
            F.element_at(arr, F.col("__i") + 2).alias("__r"),
            "__f",
        )
        .groupBy("__l", "__r")
        .agg(F.sum("__f").alias("__c"))
    )


BPE_TRAIN_HISTOGRAM_THRESHOLD = 256


def _bpe_train_histogram(
    words: list[tuple[str, int]], n_merges: int
) -> list[tuple]:
    """``bpe_train``'s driver-side merge loop over a collected word
    histogram — BYTE-identical semantics to the vocabulary-table loop
    (``_bpe_train_table``): per-word state is the space-prefixed
    symbol string, pair counts come from split-adjacency, and each
    merge is a leftmost non-overlapping
    ``str.replace`` of ``" l r"`` with ``" lr"`` (including the
    encoding's documented phantom-match corner where the pattern
    matches across a symbol whose spelling extends the rhs, e.g.
    ``" a ab"`` under merge (a, a) — count and replace disagree there
    in both loops, consistently).  Winner selection is a lazy
    max-heap in the pinned (count DESC, lhs, rhs) order; each merge
    rescans the word list for the pattern (O(V) substring checks —
    fine for the ≤ ``max_vocab_rows`` histograms this path accepts;
    an occurrence index cannot be keyed on adjacency pairs because of
    the phantom corner)."""
    import heapq
    from collections import Counter

    states = [" " + " ".join(w) for w, _ in words]
    freqs = [f for _, f in words]
    pc: Counter = Counter()
    for s, f in zip(states, freqs):
        syms = s.strip().split(" ")
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += f
    heap = [(-c, l, r) for (l, r), c in pc.items()]
    heapq.heapify(heap)
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        while heap:
            negc, l, r = heap[0]
            if pc.get((l, r), 0) == -negc:
                break
            heapq.heappop(heap)  # stale entry
        if not heap:
            break
        cnt, (l, r) = -heap[0][0], (heap[0][1], heap[0][2])
        merges.append((step, l, r, l + r, cnt))
        pat, rep = f" {l} {r}", f" {l}{r}"
        touched: set = set()
        for i, s in enumerate(states):
            if pat not in s:
                continue
            new = s.replace(pat, rep)
            f = freqs[i]
            old_syms = s.strip().split(" ")
            for a, b in zip(old_syms, old_syms[1:]):
                pc[(a, b)] -= f
                if pc[(a, b)] <= 0:
                    del pc[(a, b)]
                touched.add((a, b))
            new_syms = new.strip().split(" ")
            for a, b in zip(new_syms, new_syms[1:]):
                pc[(a, b)] += f
                touched.add((a, b))
            states[i] = new
        for p in touched:
            c = pc.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0], p[1]))
    return merges


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(__w, __f) word frequencies — the trainers' ONE corpus-sized
    operation: a groupBy with map-side partial combine (a word in a
    billion documents is one reduced row)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__f"))
    )


def _collect_histogram(
    words: DataFrame, max_vocab_rows: int, who: str
) -> list[tuple[str, int]]:
    """The word histogram a driver-side merge loop runs over, collected
    in one query of at most ``max_vocab_rows + 1`` rows: a larger
    vocabulary fails loudly instead of OOMing the driver."""
    rows = words.limit(max_vocab_rows + 1).collect()
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"{who}: more than max_vocab_rows={max_vocab_rows} distinct "
            f"words for the driver-side loop (n_merges > "
            f"{BPE_TRAIN_HISTOGRAM_THRESHOLD}); raise the cap"
        )
    return [(r["__w"], int(r["__f"])) for r in rows]


def _symbols(word: Column, sep: str = " ") -> Column:
    """``sep`` before every character of ``word`` — the trainers'
    per-word symbol state.  ``(?s)``: Java's plain ``.`` skips U+0085,
    U+2028 and U+2029, which ``tokens()`` keeps inside words (its
    ``\\s`` is ASCII); the driver-side loops, the encoder and the
    DuckDB oracle (RE2 ``.``) split every character into a symbol."""
    return F.regexp_replace(word, "(?s)(.)", sep + "$1")


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_vocab_rows: int = 5_000_000,
) -> DataFrame:
    """X52 — distributed BPE-merge vocabulary training (Sennrich,
    Haddow & Birch 2016, arXiv 1508.07909): the tokenizer-training
    primitive every pretraining pipeline runs.  Iteratively count
    adjacent symbol pairs across the corpus (weighted by word
    frequency), merge the most frequent pair everywhere (greedy
    LEFTMOST non-overlapping, the reference implementation's regex
    semantics), repeat ``n_merges`` times.

    Returns the learned merge table: (step, lhs, rhs, merged,
    pair_count), step 1..n_merges (fewer if the corpus runs out of
    pairs).  Ties break on (pair_count DESC, lhs ASC, rhs ASC) — a
    documented total order (Sennrich's dict-order tie is
    nondeterministic; a distributed trainer must pin one).

    The only corpus-sized operation is the word-frequency groupBy
    (``_word_counts``).  The merge loop then runs in one of two
    places, routed by ``n_merges`` — both byte-identical (pytest
    calls each loop directly):

    * ``n_merges <= BPE_TRAIN_HISTOGRAM_THRESHOLD`` — the
      vocabulary-table loop (``_bpe_train_table``), distributed over
      the word table;
    * above it — the driver-side loop (``_bpe_train_histogram``) over
      the collected word histogram, the published production practice
      (Sennrich's learn_bpe, the GPT-2 tokenizer).  A vocabulary over
      ``max_vocab_rows`` distinct words raises instead of OOMing the
      driver.

    Which loop is faster follows the VOCABULARY size, not
    ``n_merges`` (interleaved A/B, identical outputs): at sf0.01 the
    histogram loop won (n=6: 0.54 s against 1.85 s for the table
    loop; n=64: 0.27 s against 14.8 s); on the all-unique-words
    stress corpus (``tools/stress_scale.synth_docs``, ~30 words per
    doc) the table loop won at 100k docs (n=5: 20-22 s against 34 s)
    and the two were mixed at 10k.  The threshold routing is kept
    until a benchmark workload sits on each side of it.
    """
    words = _word_counts(df, text_col)
    if n_merges > BPE_TRAIN_HISTOGRAM_THRESHOLD:
        merges = _bpe_train_histogram(
            _collect_histogram(words, max_vocab_rows, "bpe_train"), n_merges
        )
    else:
        merges = _bpe_train_table(words, n_merges)
    return local_rows_df(
        df.sparkSession,
        merges,
        "step bigint, lhs string, rhs string, merged string, "
        "pair_count bigint",
    )


def _bpe_train_table(
    words: DataFrame, n_merges: int, batch_k: int = 64
) -> list[tuple]:
    """``bpe_train``'s vocabulary-table merge loop over the
    ``_word_counts`` frame.  Every iteration runs on the VOCABULARY
    table: symbols live as a space-prefixed string (" l o w"), so

    * pair counting is a narrow split+posexplode over vocab rows
      followed by a groupBy(pair) with map-side partial sums — the X47
      count idiom, never a corpus re-scan;
    * the winning pairs are ONE TakeOrdered row set collected to the
      driver (the kmeans centroid contract);
    * merge application is a map-side literal ``F.replace`` of
      " lhs rhs" with " lhsrhs" — leftmost non-overlapping in both the
      JVM and the DuckDB oracle, which is exactly BPE's greedy merge
      order, and the space-PREFIX encoding keeps runs adjacent
      (" a a a a" -> " aa aa", not " aa a a").

    State is localCheckpointed eagerly per pass so pass k never
    replays the k-1 replace chain.

    Batched passes: instead of one Spark round-trip per merge, each
    pass collects the top ``batch_k`` candidate pairs and accepts the
    longest PREFIX that is provably sequential-equivalent, applying
    them as one fused replace chain + one localCheckpoint.  Acceptance
    rule (all parts required; first violation falls back to the
    merges accepted so far, worst case the classic single merge):

    * **prefix-free symbols** — no PREFIX RELATION (equality, or
      either direction of proper spelling-prefix) between any of
      candidate j's {lhs, rhs, merged-spelling} and any earlier
      accepted merge's; plain disjointness is NOT enough because a
      replace pattern " l r" phantom-matches " l S…" whenever symbol
      S spelling-EXTENDS r (merging (a,b) eats " a bq…", changing
      (bq,d)'s count), and the symbols a phantom can touch are exactly
      the spelling-extensions of an accepted rhs/merged symbol.  Under
      prefix-freeness the fused chain commutes and every accepted
      pair's own count is invariant;
    * **no phantom-capable adjacency** — each accepted merge (l, r)
      must itself have no adjacency (l, S) at count >= the weakest
      candidate where S properly spelling-extends r: such a phantom
      match would destroy/create pairs whose magnitudes the
      symbol-level analysis cannot bound, so the prefix stops at the
      first phantom-capable acceptance (lower-count phantoms only
      perturb pairs whose symbols are prefix-related to an accepted
      symbol, which the prefix-free rule already excludes);
    * **no outranking risk pair** — the pairs merge i can CREATE are
      exactly (x, m_i) (from an (x, l_i) adjacency, count-capped by
      it) and (m_i, y) (from (r_i, y)); candidate j is accepted only
      if no such risk pair could rank above it at its sequential
      step under (count DESC, lhs, rhs) — a cap above c_j cannot
      occur (that adjacency would already sit in the walked prefix
      and break it on the shared symbol), so the live check is a cap
      EQUAL to c_j whose created spelling wins the lex tie.  If a
      candidate's merged spelling already participates in existing
      pairs (a grown-pair cap would need a second fetch), the prefix
      simply stops there.  Any ORIGINAL pair outranking candidate j
      would sit in the accepted prefix already (top-k is sorted), and
      shared-symbol pairs break the prefix first — hence batched ≡
      sequential, pinned by pytest including overlap/tie/created-pair
      adversaries.

    Acceptance is tie-limited on count plateaus: the mean accepted
    batch measured 3.2 (100 merges in 31 passes on a 400-doc,
    62-symbol corpus), and each pass is ~3 vocab-sized jobs, so the
    loop's wall stays roughly linear in |merges|.
    """
    state = words.select(_symbols("__w").alias("__s"), "__f").localCheckpoint(
        eager=True
    )
    merges: list[tuple] = []
    step = 1
    while step <= n_merges:
        k = max(1, min(int(batch_k), n_merges - step + 1))
        counts = _bpe_pair_counts(state).persist()
        cands = (
            counts.orderBy(F.desc("__c"), F.asc("__l"), F.asc("__r"))
            .limit(k)
            .collect()
        )
        if not cands:
            counts.unpersist()
            break
        accepted = [cands[0]]
        if len(cands) > 1:
            # Risk analysis for batching: the only pairs a later
            # sequential step could see APPEAR or GROW because of an
            # accepted merge i are (x, m_i) — created from an
            # (x, l_i) adjacency, count-capped by it — and (m_i, y)
            # from (r_i, y); plus any EXISTING pair spelled with m_i
            # gaining those occurrences.  Fetch, in ONE job off the
            # persisted count table: (a) pairs adjacent to any
            # candidate symbol at count >= the weakest candidate
            # (weaker ones can never outrank an accepted candidate),
            # (b) pairs involving any candidate's merged SPELLING at
            # any count (normally none — m_i is a new symbol).
            lset = [r["__l"] for r in cands]
            rset = [r["__r"] for r in cands]
            mset = [r["__l"] + r["__r"] for r in cands]
            min_c = int(cands[-1]["__c"])
            adj_cap = 4096
            adj = (
                counts.where(
                    (
                        (
                            F.col("__r").isin(lset)
                            | F.col("__l").isin(rset)
                            # (l, S) adjacencies feed the phantom-
                            # capability check below
                            | F.col("__l").isin(lset)
                        )
                        & (F.col("__c") >= min_c)
                    )
                    | F.col("__l").isin(mset)
                    | F.col("__r").isin(mset)
                )
                .limit(adj_cap + 1)
                .collect()
            )
            if len(adj) <= adj_cap:
                by_rhs: dict[str, list] = {}
                by_lhs: dict[str, list] = {}
                spelled = set()
                for a in adj:
                    by_rhs.setdefault(a["__r"], []).append(a)
                    by_lhs.setdefault(a["__l"], []).append(a)
                    if a["__l"] in mset or a["__r"] in mset:
                        spelled.add(a["__l"])
                        spelled.add(a["__r"])

                def risks_of(l: str, r: str) -> list | None:
                    """Created-pair risks of merging (l, r): [(cap,
                    lhs, rhs)].  None = the merged spelling already
                    participates in pairs (grown-pair caps would need
                    a second fetch) OR the merge is phantom-capable —
                    an adjacency (l, S) with S properly spelling-
                    extending r at count >= min_c, whose phantom
                    replace destroys/creates pairs the symbol-level
                    caps can't bound — caller stops the prefix."""
                    m = l + r
                    if m in spelled:
                        return None
                    for a in by_lhs.get(l, ()):  # (l, S), S extends r
                        s = a["__r"]
                        if (
                            int(a["__c"]) >= min_c
                            and len(s) > len(r)
                            and s.startswith(r)
                        ):
                            return None
                    out = []
                    for a in by_rhs.get(l, ()):  # (x, l) -> (x, m)
                        out.append((int(a["__c"]), a["__l"], m))
                    for a in by_lhs.get(r, ()):  # (r, y) -> (m, y)
                        out.append((int(a["__c"]), m, a["__r"]))
                    return out

                def prefix_related(sym: str, against: set) -> bool:
                    """Any prefix relation (equality or either-
                    direction proper prefix) between sym and a used
                    symbol — the set of symbols an accepted merge's
                    replace (incl. its phantom matches) can touch."""
                    return any(
                        sym.startswith(u) or u.startswith(sym)
                        for u in against
                    )

                used = {
                    cands[0]["__l"],
                    cands[0]["__r"],
                    cands[0]["__l"] + cands[0]["__r"],
                }
                risks = risks_of(cands[0]["__l"], cands[0]["__r"])
                for c in cands[1:]:
                    if risks is None:
                        break
                    l, r, cc = c["__l"], c["__r"], int(c["__c"])
                    # prefix-only acceptance, all conditions required
                    # for the sequential-equivalence proof: (1) no
                    # prefix relation between candidate symbols incl.
                    # the produced spelling and any used symbol (fused
                    # replaces then commute, phantom matches of earlier
                    # merges cannot touch this candidate's occurrences,
                    # and accepted counts are invariant); (2) no risk
                    # pair can outrank this candidate at its sequential
                    # step — a cap above cc cannot occur here (such a
                    # pair would rank inside the already-walked
                    # prefix), so the live case is a cap EQUAL to cc
                    # whose created pair wins the (count DESC, lhs,
                    # rhs) tie; (3) the candidate itself is not
                    # phantom-capable (risks_of returns None)
                    if any(
                        prefix_related(s, used) for s in (l, r, l + r)
                    ):
                        break
                    if any(
                        cap > cc or (cap == cc and (rl, rr) < (l, r))
                        for cap, rl, rr in risks
                    ):
                        break
                    more = risks_of(l, r)
                    if more is None:
                        break
                    used |= {l, r, l + r}
                    risks.extend(more)
                    accepted.append(c)
        counts.unpersist()
        new_s = F.col("__s")
        for c in accepted:
            lhs, rhs, cnt = c["__l"], c["__r"], int(c["__c"])
            merges.append((step, lhs, rhs, lhs + rhs, cnt))
            step += 1
            new_s = F.replace(
                new_s, F.lit(f" {lhs} {rhs}"), F.lit(f" {lhs}{rhs}")
            )
        state = state.select(new_s.alias("__s"), "__f").localCheckpoint(
            eager=True
        )
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X53 — apply a learned BPE merge table to a corpus (the encode
    side of ``bpe_train``; Sennrich et al. 2016 apply_bpe): each
    word's symbol string replays the merges IN LEARNED ORDER, each as
    a greedy leftmost non-overlapping literal replace — exactly the
    trainer's semantics, so encoding the training corpus reproduces
    the trainer's final state.

    Returns (id, bpe_tokens array<string>, n_tokens, n_subwords):
    per-document subword sequence (document order preserved),
    whitespace-token and subword counts; ``id_col`` keeps its type.
    Null text gives null in the last three columns.

    One encoder, ``_bpe_encode_arrow`` (shared with ``bpe_fertility``):
    a ``mapInArrow`` batch encoder whose plan is flat in |merges|.  A
    chain of one ``F.replace`` per merge builds a |merges|-deep
    Catalyst tree instead: a 1000-entry table failed planning with
    ``java.lang.StackOverflowError``, while this encoder ran it at
    sf0.1 in 0.93 s (4-core host).  At sf0.1 the chain measured
    0.64 s against 0.70 s here at 6 merges, and 0.79 s against 0.54 s
    at 64 (medians of 6 interleaved process pairs).
    """
    return _bpe_encode_arrow(df, merges, id_col, text_col)


def _bpe_encode_arrow(
    df: DataFrame,
    merges: list[tuple[str, str]],
    key_col: str,
    text_col: str,
) -> DataFrame:
    """(key_col, bpe_tokens, n_tokens, n_subwords) per row, ``key_col``
    carried through as the same Arrow column.  Tokenization stays in
    Spark (the narrow ``tokens()`` projection feeds the batch).  Per
    Arrow batch the DISTINCT words are joined with ``\\n`` into one string,
    each in the trainer's space-prefixed symbol encoding, and the
    merge replay runs as |merges| C-speed ``str.replace`` passes over
    it — O(|merges| · unique chars) per batch.  Python ``str.replace``
    is the same leftmost non-overlapping rule as ``F.replace``, and no
    pattern can match across words: ``tokens()`` splits on ``\\s``, so
    no word holds ``\\n``, and a merge whose symbols hold ``\\n`` can
    never match inside a word, so it is dropped.  Each token then takes
    its word's subwords by index (``take``), and rows are rebuilt from
    offsets — no per-token Python."""
    from pyspark.sql import types as T

    merge_list = [
        (str(l), str(r)) for l, r in merges if "\n" not in f"{l}{r}"
    ]
    key_field = df.schema[key_col]
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_field.dataType, key_field.nullable),
            # containsNull=False: subword elements are never null
            T.StructField(
                "bpe_tokens", T.ArrayType(T.StringType(), False), True
            ),
            T.StructField("n_tokens", T.LongType(), True),
            T.StructField("n_subwords", T.LongType(), True),
        ]
    )

    def encode(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            toks = batch.column(1)
            # distinct words across the batch — Zipf repetition means
            # the replay touches far fewer strings than tokens
            flat = toks.flatten()  # skips null rows' slots
            uniq = pc.unique(flat)
            words = uniq.to_pylist()
            blob = "\n".join("".join(" " + ch for ch in w) for w in words)
            for l, r in merge_list:
                blob = blob.replace(f" {l} {r}", f" {l}{r}")
            per_word = pa.array(
                [s.lstrip(" ").split(" ") for s in blob.split("\n")],
                pa.list_(pa.string()),
            )
            per_tok = per_word.take(pc.index_in(flat, value_set=uniq))
            # a row's subwords are its tokens' subwords, in order; a
            # null token array (null text) gives null outputs
            n_tok = pc.list_value_length(toks)
            tok_off = np.concatenate([[0], n_tok.fill_null(0)]).cumsum()
            sub_off = np.concatenate(
                [[0], pc.list_value_length(per_tok)]
            ).cumsum()[tok_off]
            subs = pa.ListArray.from_arrays(
                pa.array(sub_off, pa.int32()),
                per_tok.flatten(),
                mask=toks.is_null(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    subs,
                    pc.cast(n_tok, pa.int64()),
                    pc.cast(pc.list_value_length(subs), pa.int64()),
                ],
                names=[key_col, "bpe_tokens", "n_tokens", "n_subwords"],
            )

    prepared = df.select(key_col, tokens(text_col).alias("__toks"))
    return prepared.mapInArrow(encode, out_schema)


def bpe_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]],
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """X59 — tokenizer fertility / compression-ratio report per corpus
    slice: apply a learned BPE merge table (the X52 trainer / X53
    encoder) and aggregate the two standard tokenizer-quality signals —
    FERTILITY (subwords emitted per whitespace word; Ács' fertility
    metric, the number multilingual tokenizer reports lead with) and
    CHARS-PER-SUBWORD (compression ratio; a tokenizer that can't
    compress a language inflates its training cost and effective
    context).  Slicing by language/domain is how a pipeline decides a
    vocabulary under-serves a corpus slice before committing 100 TB of
    preprocessing to it.

    Exact integers throughout (the package's no-float-aggregation
    rule): ``fertility_milli = n_subwords*1000 // n_tokens`` and
    ``chars_per_subword_milli = n_token_chars*1000 // n_subwords``
    (NULL for an empty slice via integer-div guard), where
    ``n_token_chars`` counts characters inside tokens (whitespace
    excluded; merges preserve characters, so it is summed over the
    subwords).

    Returns one row per ``group_col`` value, ordered by it:
    (group, n_docs, n_tokens, n_subwords, n_token_chars,
    fertility_milli, chars_per_subword_milli).

    Spark shape: the encode is ENTIRELY map-side (``bpe_encode``'s
    batch encoder, carrying the slice column instead of an id — no
    join back, no shuffle), followed by ONE group-keyed aggregate with
    map-side partial combine whose reduce side is |groups| rows — the
    report scales as the scan at any corpus size.
    """
    per_doc = _bpe_encode_arrow(df, merges, group_col, text_col).select(
        F.col(group_col).alias("grp"),
        F.col("n_tokens").alias("__nt"),
        F.col("n_subwords").alias("__ns"),
        F.aggregate(
            F.transform("bpe_tokens", lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__nc"),
    )
    agg = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("n_tokens"),
        F.sum("__ns").cast("long").alias("n_subwords"),
        F.sum("__nc").cast("long").alias("n_token_chars"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_tokens",
        "n_subwords",
        "n_token_chars",
        F.when(
            F.col("n_tokens") > 0,
            F.floor((F.col("n_subwords") * 1000) / F.col("n_tokens")),
        ).cast("long").alias("fertility_milli"),
        F.when(
            F.col("n_subwords") > 0,
            F.floor((F.col("n_token_chars") * 1000) / F.col("n_subwords")),
        ).cast("long").alias("chars_per_subword_milli"),
    ).orderBy(group_col)


def normalize_text(
    df: DataFrame,
    form: str = "NFC",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X54 — Unicode normalization of a text corpus (NFC default;
    NFD/NFKC/NFKD accepted): the canonicalization step every
    hash-based dedup/decontamination pipeline needs FIRST — "café"
    composed and decomposed are different byte strings, so without it
    exact dedup (X1), shingle hashing (X3), and n-gram
    decontamination (X12) silently miss equal texts that differ only
    in codepoint composition (CCNet/Dolma normalize before hashing
    for exactly this reason).

    Returns (id, text_norm, changed, n_chars, n_chars_norm):
    normalized text plus the audit columns a cleaning report needs
    (the X32 audit-count discipline — how many docs the pass touched
    is one aggregation away, never silent).

    Spark shape: there is no JVM-side Unicode normalizer in Spark
    SQL, so this is one of the package's few Arrow escapes — a
    VECTORIZED pandas_udf (Arrow batch transfer, ``unicodedata``'s
    C implementation per batch; never a row-at-a-time Python UDF).
    Narrow plan: no shuffle, scales as the scan.  The DuckDB oracle
    is ``nfc_normalize`` (utf8proc) — both implement canonical
    Unicode normalization, verified equal on composition,
    compatibility, and combining-mark cases.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"normalize_text: unknown form {form!r}")
    from pyspark.sql.functions import pandas_udf

    def _norm_batches(s):  # pd.Series -> pd.Series (hints omitted:
        # postponed-annotation strings don't resolve for pandas_udf
        # under `from __future__ import annotations`)
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    _norm = pandas_udf(_norm_batches, "string")

    t = F.col(text_col)
    # bind the UDF result to a NAMED column first: three inline
    # `_norm(t)` expressions would risk three Arrow evaluations per
    # row (Python UDFs are opaque to common-subexpression elimination)
    return df.withColumn("text_norm", _norm(t)).select(
        id_col,
        "text_norm",
        (~(F.col("text_norm") == t)).alias("changed"),
        F.length(t).cast("long").alias("n_chars"),
        F.length("text_norm").cast("long").alias("n_chars_norm"),
    )


def token_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """X55 — token-distribution drift report between two corpora: the
    top-``k`` tokens whose occurrence RATE differs most between A and
    B — the distribution-shift diagnostic a data-mixing pipeline runs
    when a new source lands or a filter changes (which vocabulary did
    the change add or remove?).  The classic report behind
    domain-shift dashboards (cf. DSIR's importance diagnostics and
    data-mixture ablations).

    Rates are EXACT integer parts-per-million (``1e6 * c // T`` — the
    tf·idf integer-ratio discipline, engine-bit-identical); drift =
    |ppm_a − ppm_b|, ties broken on token ASC.  Returns
    (token, c_a, c_b, ppm_a, ppm_b, drift_ppm, rank).  Tokens absent
    from one side count 0 there (the drift of appearing at all).

    Spark shape: two token-count aggregates with MAP-SIDE partial
    combine (vocabulary-sized outputs), one FULL OUTER merge join on
    the token key (vocabulary-sized both sides — never assumed
    broadcastable; AQE may demote), two 1-row total aggregates
    embedded as literals (the kmeans constants contract), and a
    TakeOrdered top-k — the corpus is scanned once per side and never
    sorted.
    """
    def counts(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col)).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    ca = counts(df_a)
    cb = counts(df_b)
    t_a = ca.agg(F.sum("c")).first()[0] or 0
    t_b = cb.agg(F.sum("c")).first()[0] or 0
    # guard the divide-by-zero of an EMPTY side explicitly: with T=0
    # the side has no tokens, every rate is 0
    ppm = lambda c, t: (  # noqa: E731
        (c * F.lit(1_000_000)).cast("long") / F.lit(int(t))
        if t
        else F.lit(0)
    )
    merged = (
        ca.withColumnRenamed("c", "c_a")
        .join(cb.withColumnRenamed("c", "c_b").hint("merge"), "tok", "full_outer")
        .select(
            F.col("tok").alias("token"),
            F.coalesce("c_a", F.lit(0)).cast("long").alias("c_a"),
            F.coalesce("c_b", F.lit(0)).cast("long").alias("c_b"),
        )
        .select(
            "token",
            "c_a",
            "c_b",
            F.floor(ppm(F.col("c_a"), t_a)).cast("long").alias("ppm_a"),
            F.floor(ppm(F.col("c_b"), t_b)).cast("long").alias("ppm_b"),
        )
        .withColumn(
            "drift_ppm", F.abs(F.col("ppm_a") - F.col("ppm_b")).cast("long")
        )
    )
    ranked = merged.orderBy(
        F.desc("drift_ppm"), F.asc("token")
    ).limit(k)
    from genie_spark.functions.ranking import rank_bounded

    return rank_bounded(
        ranked, F.desc("drift_ppm"), F.asc("token"), max_rows=k
    )


# Gopher rule battery (Rae et al. 2021, arXiv 2112.11446 Table A1) —
# the published operating points; callers can override any bound.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """X60 — the FULL Gopher/MassiveText quality-rule battery (Rae et
    al. 2021, Table A1), the de-facto standard pre-filter every open
    pretraining pipeline starts from (Gopher, RefinedWeb, Dolma,
    FineWeb all apply this list or a superset).  X11
    (``repetition_stats``) carries the repetition section of that
    table; this operator carries the rest, fused into ONE projection:

      - ``r_word_count``      — word count within [50, 100k]
      - ``r_mean_word_len``   — mean word length within [3, 10]
      - ``r_symbol_ratio``    — (# of '#' + '...' occurrences) /
                                words <= 0.1
      - ``r_bullet_lines``    — <= 90% of lines start with a bullet
                                ('-', '*', '•')
      - ``r_ellipsis_lines``  — <= 30% of lines end with an ellipsis
                                ('...' or '…')
      - ``r_alpha_words``     — >= 80% of words contain an alphabetic
                                character
      - ``r_stop_words``      — document contains >= 2 distinct Gopher
                                stop words (the/be/to/of/and/that/
                                have/with)

    plus the metric columns behind each rule (exact integer counts;
    ratios are single int/int IEEE divides, bitwise-identical across
    engines — the quality_score discipline) and ``keep`` = AND of all
    rules.  Per-rule booleans rather than a bare verdict: a cleaning
    report needs to know WHICH rule fired (the X32 audit discipline),
    and re-thresholding a single rule must not re-scan the corpus.

    Spark shape: fully NARROW, zero shuffles, no UDF — the token array
    and line array are each materialized once per row and every rule
    folds over them JVM-side; the battery is embarrassingly parallel
    and scan-bound at any corpus size (the X9/X11 posture).
    """
    text = F.col(text_col)
    df = df.withColumn("__toks", tokens(text_col)).withColumn(
        "__lines", F.split(text, "\n")
    )
    t, lines = F.col("__toks"), F.col("__lines")
    n_words = F.size(t).cast("long")
    word_chars = F.aggregate(
        F.transform(t, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # '#' count via translate-diff (one table pass); '...' occurrences
    # via replace-diff ÷ 3 (leftmost non-overlapping in both engines);
    # '…' is one char
    n_hash = F.length(text) - F.length(F.translate(text, "#", ""))
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
        + (F.length(text) - F.length(F.translate(text, "…", "")))
    ).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.ltrim(ln).rlike("^[-*•]"),
        )
    ).cast("long")
    n_ellipsis_end = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).rlike("(\\.\\.\\.|…)$"),
        )
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(t, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop_hits = F.size(
        F.filter(
            stop_arr,
            lambda s: F.exists(t, lambda w: F.lower(w) == s),
        )
    ).cast("long")
    wc = F.greatest(n_words, F.lit(1))
    mean_wl_milli = F.floor((word_chars * 1000) / wc).cast("long")
    per = df.select(
        id_col,
        n_words.alias("n_words"),
        mean_wl_milli.alias("mean_word_len_milli"),
        ((n_hash + n_ellipsis) / wc).alias("symbol_word_ratio"),
        (n_bullet / n_lines).alias("bullet_line_frac"),
        (n_ellipsis_end / n_lines).alias("ellipsis_line_frac"),
        (n_alpha_words / wc).alias("alpha_word_frac"),
        n_stop_hits.alias("n_stop_hits"),
    )
    r_word_count = (F.col("n_words") >= min_words) & (
        F.col("n_words") <= max_words
    )
    r_mean_word_len = (
        F.col("mean_word_len_milli") >= min_mean_word_len * 1000
    ) & (F.col("mean_word_len_milli") <= max_mean_word_len * 1000)
    r_symbol = F.col("symbol_word_ratio") <= max_symbol_word_ratio
    r_bullet = F.col("bullet_line_frac") <= max_bullet_line_frac
    r_ellipsis = F.col("ellipsis_line_frac") <= max_ellipsis_line_frac
    r_alpha = F.col("alpha_word_frac") >= min_alpha_word_frac
    r_stop = F.col("n_stop_hits") >= min_stop_hits
    return per.select(
        "*",
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_symbol.alias("r_symbol_ratio"),
        r_bullet.alias("r_bullet_lines"),
        r_ellipsis.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stop_words"),
        (
            r_word_count & r_mean_word_len & r_symbol & r_bullet
            & r_ellipsis & r_alpha & r_stop
        ).alias("keep"),
    )


BIGRAM_BACKOFF_BITS = 4


def lm_surprisal_bigram(
    df: DataFrame,
    model_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff_bits: int = BIGRAM_BACKOFF_BITS,
    outlier_centibits: int = 800,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """X63 — bigram backoff LM surprisal: score a corpus under a
    CONDITIONAL language model trained on ``model_df`` — the
    perplexity-filter family one order up from X24's unigram form
    (CCNet's KenLM filter trains on a reference corpus and scores the
    target; a 5-gram with Kneser-Ney there, the bigram-with-backoff
    form here, same pipeline role and the same "train on A, score B"
    shape — scoring a corpus under its OWN bigrams would never back
    off).

    Per bigram occurrence (w_prev, w), at EXACT INTEGER bit resolution
    (the lm_surprisal no-libm idiom):

      seen   (c2(w_prev, w) >= 1):  ilog2(c1(w_prev)) - ilog2(c2)
                                     ~ -log2 p(w | w_prev)
      unseen (backoff):              backoff_bits + ilog2(T)
                                     - ilog2(c1(w) + 1)
                                     ~ alpha - log2 p_unigram(w),
                                     +1 smoothing handles OOV

    Documents with fewer than 2 tokens have no bigrams and are not
    scored (the soft_dedup/bm25 empty-feature contract).  Returns
    (id, n_bigrams, n_backoff, total_bits, bpt_centibits, is_outlier)
    — mean conditional bits/bigram ×100 exact, outliers above the
    threshold (gibberish, wrong-domain, boilerplate soup).

    Spark shape: the model is two groupBy counts with MAP-SIDE partial
    combine (unigram + bigram tables, persisted; T from a 1-row agg
    over the unigram table); the scoring stream is a narrow per-row
    bigram explode joined to the bigram table and both unigram sides
    — all three joins are vocabulary-keyed and MERGE-hinted (Zipf-long
    at 100 TB, never a static broadcast; hot heads are AQE's
    skew-split case) — then ONE doc-keyed aggregate.
    """
    from pyspark import StorageLevel

    from genie_spark.analytics.dedup import _release_on_gc

    mtok = model_df.select(F.explode(tokens(text_col)).alias("w"))
    c1 = mtok.groupBy("w").agg(F.count(F.lit(1)).alias("__c1")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    total = c1.agg(F.sum("__c1")).first()[0] or 0
    t_bits = max(int(total).bit_length() - 1, 0)

    def bigrams(text_column: str) -> Column:
        return F.transform(
            F.array(tokens(text_column)),
            lambda t: F.when(
                F.size(t) >= 2,
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.struct(a.alias("wp"), b.alias("w")),
                ),
            ).otherwise(
                F.array().cast("array<struct<wp:string,w:string>>")
            ),
        )[0]

    c2 = (
        model_df.select(F.explode(bigrams(text_col)).alias("__b"))
        .select(F.col("__b.wp").alias("wp"), F.col("__b.w").alias("w"))
        .groupBy("wp", "w")
        .agg(F.count(F.lit(1)).alias("__c2"))
    )
    # carry_cols: per-doc-constant columns (e.g. lang) ride the
    # occurrence stream and come back via min() in the one doc-keyed
    # aggregate — zero extra joins/exchanges for the caller
    reserved = {"n_bigrams", "n_backoff", "total_bits", "bpt_centibits",
                "is_outlier", "wp", "w"}
    bad_carry = [c for c in carry_cols if c in reserved or c == id_col]
    if bad_carry:
        raise ValueError(f"carry_cols collide with outputs: {bad_carry}")
    occ = df.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.explode(bigrams(text_col)).alias("__b"),
    ).select(
        id_col, *carry_cols,
        F.col("__b.wp").alias("wp"), F.col("__b.w").alias("w"),
    )
    ilog = lambda c: (F.length(F.bin(c)) - F.lit(1)).cast("long")  # noqa: E731
    # fold ALL bit arithmetic into the model tables (vocab-scale
    # joins) so the corpus-scale occurrence stream joins only TWICE:
    # the first cut joined it three times (c2, c1-on-wp, c1-on-w) and
    # the extra sort of the 250k-bigram stream showed in the sf0.1
    # wall (9.85 s → see BASELINE.md)
    b_bits = (
        c2.join(
            c1.select(F.col("w").alias("wp"), F.col("__c1").alias("__cp")),
            "wp",
        )
        .select(
            "wp", "w", (ilog(F.col("__cp")) - ilog(F.col("__c2"))).alias("__sbits")
        )
    )
    u_bits = c1.select(
        "w",
        (
            F.lit(backoff_bits) + F.lit(t_bits) - ilog(F.col("__c1") + F.lit(1))
        ).alias("__ubits"),
    )
    oov_bits = backoff_bits + t_bits  # ilog2(0 + 1) = 0
    # shuffle_hash with the VOCAB side as build: the model tables are
    # vocabulary-sized (per-partition build = |vocab|/partitions — tiny
    # at any scale), while a merge hint here SORTED the corpus-sized
    # occurrence stream twice (measured: the two sorts were the
    # dominant timed stages; SMJ → SHJ cut the lm_bigram wall ~20%
    # and removes two corpus-scale sorts from the 100 TB plan).  A
    # broadcast stays wrong (Zipf-long vocab, static misestimates —
    # see ngram_jaccard_pairs); LEFT OUTER + BuildRight SHJ is
    # supported and AQE still skew-splits the streamed side.
    scored = (
        occ.join(b_bits.hint("shuffle_hash"), ["wp", "w"], "left")
        .join(u_bits.hint("shuffle_hash"), "w", "left")
        .withColumn("__backoff", F.col("__sbits").isNull())
        .withColumn(
            "__bits",
            F.coalesce(
                F.col("__sbits"), F.col("__ubits"), F.lit(oov_bits).cast("long")
            ),
        )
    )
    bpt = F.floor((F.sum("__bits") * 100) / F.count(F.lit(1))).cast("long")
    out = scored.groupBy(id_col).agg(
        *[F.min(c).alias(c) for c in carry_cols],
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.col("__backoff").cast("long")).alias("n_backoff"),
        F.sum("__bits").alias("total_bits"),
        bpt.alias("bpt_centibits"),
        (bpt >= F.lit(outlier_centibits)).alias("is_outlier"),
    )
    return _release_on_gc(out, c1)


def line_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_frac: float = 0.30,
    max_dup_char_frac: float = 0.20,
) -> DataFrame:
    """X64 — the LINE/PARAGRAPH repetition section of Gopher Table A1
    (Rae et al. 2021): fraction of duplicate lines / paragraphs and
    the fraction of CHARACTERS inside those duplicates.  With X11
    (n-gram repetition) and X60 (the non-repetition rules) this
    completes the table: chat logs, scraped boilerplate, and broken
    extractors all repeat whole lines, which the n-gram signals
    underweight on long lines.

    A duplicate is every occurrence of a line beyond its first within
    the document (so a doc of one line repeated 4× has dup fraction
    3/4).  Ratios are single int/int IEEE divides (engine-identical);
    ``flagged`` applies the Gopher operating points (> 30% duplicate
    lines/paragraphs OR > 20% duplicate characters, per unit).

    Spark shape — fully NARROW, zero shuffles (the X11 sorted-run
    idiom): each unit array is sorted per row and ONE ``F.aggregate``
    fold counts equal-to-previous run members and their characters;
    the relational formulation (explode → groupBy(doc, line)) would
    shuffle the corpus twice for a per-row statistic.
    """
    text = F.col(text_col)

    def unit_stats(arr: Column, prefix: str) -> list[Column]:
        srt = F.array_sort(arr)
        n = F.size(srt).cast("long")
        chars = F.aggregate(
            F.transform(srt, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        # fold: count members equal to their sorted predecessor (every
        # occurrence beyond a run's first) and their characters
        zero = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("dups"),
            F.lit(0).cast("long").alias("dchars"),
        )
        folded = F.aggregate(
            srt,
            zero,
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(
                    acc["prev"].isNotNull() & (acc["prev"] == x),
                    acc["dups"] + 1,
                ).otherwise(acc["dups"]).alias("dups"),
                F.when(
                    acc["prev"].isNotNull() & (acc["prev"] == x),
                    acc["dchars"] + F.length(x),
                ).otherwise(acc["dchars"]).alias("dchars"),
            ),
        )
        dups, dchars = folded["dups"], folded["dchars"]
        return [
            n.alias(f"n_{prefix}"),
            dups.alias(f"dup_{prefix}"),
            (dups / F.greatest(n, F.lit(1))).alias(f"dup_{prefix}_frac"),
            (dchars / F.greatest(chars, F.lit(1))).alias(
                f"dup_{prefix}_char_frac"
            ),
        ]

    per = df.select(
        id_col,
        *unit_stats(F.split(text, "\n", -1), "lines"),
        *unit_stats(F.split(text, "\n\n", -1), "paras"),
    )
    flagged = (
        (F.col("dup_lines_frac") > max_dup_frac)
        | (F.col("dup_paras_frac") > max_dup_frac)
        | (F.col("dup_lines_char_frac") > max_dup_char_frac)
        | (F.col("dup_paras_char_frac") > max_dup_char_frac)
    )
    return per.select("*", flagged.alias("flagged"))


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_entropy_milli: int = 2000,
) -> DataFrame:
    """X66 — character-distribution entropy proxy: the low-entropy /
    gibberish signal of the cleaning-filter family (a page of repeated
    symbols, padding, or encoder junk has near-zero character entropy;
    natural language sits well above it — the compressibility-style
    filters of Dolma/RefinedWeb play the same role).

    At EXACT INTEGER bit resolution (the package no-libm rule):

        entropy_bits = sum over distinct chars of
                       cnt_c * (ilog2(N) - ilog2(cnt_c))
        mean_entropy_milli = entropy_bits * 1000 // N

    where ``ilog2 = floor(log2)`` via binary-string length — a BOUNDED
    integer proxy of Shannon entropy (each term's floor-log error is
    < 1 bit; the ORDERING of clean vs degenerate text, which is what
    the filter consumes, is preserved), deterministic and
    engine-identical so the oracle hash-matches.  Empty documents are
    unscored (no characters).

    Returns (id, n_chars, n_distinct_chars, entropy_bits,
    mean_entropy_milli, is_low_entropy).

    Spark shape: fully NARROW, zero shuffles — per row the distinct
    character set (bounded by the alphabet) maps to occurrence counts
    with one transform+filter pass over the char array; the relational
    explode→groupBy(doc, char) form (which the ORACLE uses) would
    shuffle corpus-chars rows for a per-row statistic.
    """
    text = F.col(text_col)
    df = df.withColumn("__ch", F.split(text, ""))
    ch = F.col("__ch")
    n = F.size(ch).cast("long")
    distinct = F.array_distinct(ch)
    ilog = lambda c: (F.length(F.bin(c)) - F.lit(1)).cast("long")  # noqa: E731
    counts = F.transform(
        distinct,
        lambda c: F.size(F.filter(ch, lambda x: x == c)).cast("long"),
    )
    bits = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, c: acc + c * (ilog(n) - ilog(c)),
    )
    mean_milli = F.floor((bits * 1000) / n).cast("long")
    # empty text splits to [''] (one empty element) in BOTH engines —
    # gate on the text length, not the array size
    return (
        df.where(F.length(text) > 0)
        .select(
            id_col,
            n.alias("n_chars"),
            F.size(distinct).cast("long").alias("n_distinct_chars"),
            bits.alias("entropy_bits"),
            mean_milli.alias("mean_entropy_milli"),
            (mean_milli < F.lit(min_entropy_milli)).alias("is_low_entropy"),
        )
    )


def blocklist_filter(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X67 — blocklist (badwords) filter: the C4 cleaning step (Raffel
    et al. 2020 §2.2 — "removed any page that contained any word on
    a blocklist"): flag documents containing ANY blocklist term as a
    WHOLE lowercase token (whole-token matching avoids the classic
    substring false positives), with the hit count and the first
    matched term as audit columns (the X32 no-silent-drop discipline).

    Returns (id, n_blocked_tokens, first_blocked_term, is_blocked).

    Spark shape: the term list is a bounded literal array folded into
    the projection (broadcast-equivalent; real blocklists are a few
    hundred terms) — the whole filter is ONE narrow pass, zero
    shuffle, no UDF.
    """
    if not terms:
        raise ValueError("blocklist_filter: empty terms list")
    t = tokens(text_col)
    low = F.transform(t, lambda x: F.lower(x))
    arr = F.array(*[F.lit(s.lower()) for s in terms])
    hits = F.filter(low, lambda x: F.array_contains(arr, x))
    return df.select(
        id_col,
        F.size(hits).cast("long").alias("n_blocked_tokens"),
        # ANSI mode: element_at past the end THROWS — try_element_at
        # yields NULL for an unblocked doc
        F.try_element_at(hits, F.lit(1)).alias("first_blocked_term"),
        (F.size(hits) > 0).alias("is_blocked"),
    )


def ccnet_buckets(
    df: DataFrame,
    model_df: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff_bits: int = BIGRAM_BACKOFF_BITS,
    sample_bp: int = 10_000,
    qs_milli: tuple[int, int] = (333, 667),
) -> DataFrame:
    """X72 — CCNet perplexity bucketing (Wenzek et al., LREC 2020 §4.4):
    score every document under a reference LM and split each language
    into HEAD / MIDDLE / TAIL by per-language perplexity terciles —
    the published corpus-curation step where "head" (lowest
    perplexity, most Wikipedia-like) feeds high-quality training mixes
    and "tail" is dropped or down-weighted.  CCNet computes the
    tercile thresholds on a SAMPLE, not the corpus — mirrored here:
    thresholds are the exact lower quantiles of a deterministic
    md5-sampled subset (``sample_bp``/10000 of scored docs; 10000 =
    exact terciles), so the threshold step never sorts the corpus.

    Scoring is the X63 bigram backoff LM (``lm_surprisal_bigram``,
    exact integer centibits-per-bigram — the KenLM stand-in with the
    same train-on-A-score-B shape); sub-2-token documents are unscored
    and excluded, the X63 contract.  Buckets: bpt <= t_head → head,
    <= t_mid → middle, else tail (lower perplexity = better, ties
    bucket DOWNWARD — deterministic).  A language whose scored
    documents ALL fall outside the md5 sample has no threshold row;
    its documents are KEPT (left join) with NULL thresholds and
    bucket ``unsampled`` — never silently dropped.

    Returns (id, lang, n_bigrams, total_bits, bpt_centibits,
    t_head_centibits, t_mid_centibits, bucket).

    Spark shape: the LM model tables + ONE doc-keyed scoring aggregate
    (X63's pinned shape; ``lang`` rides the same aggregate via
    carry_cols — no join-back exchange); the threshold pass windows
    only the md5 SAMPLE per language and emits a langs×2 dim table
    that BROADCASTS onto the scored stream; bucket assignment is a
    narrow CASE.  No corpus sort, no corpus-keyed exchange beyond
    X63's own scoring aggregate.
    """
    from genie_spark.analytics.corpus import SAMPLE_DENOM, _uniform_bp

    if not (0 < qs_milli[0] < qs_milli[1] < 1000):
        raise ValueError(f"qs_milli must be 0 < a < b < 1000, got {qs_milli}")
    from pyspark import StorageLevel

    from genie_spark.analytics.dedup import _release_on_gc

    scored = lm_surprisal_bigram(
        df.where(F.col(lang_col).isNotNull()),
        model_df,
        id_col=id_col,
        text_col=text_col,
        backoff_bits=backoff_bits,
        carry_cols=(lang_col,),
    ).select(id_col, lang_col, "n_bigrams", "total_bits", "bpt_centibits")
    # scored feeds TWO consumers (the sample/threshold pass and the
    # final bucket join) — unpersisted, Catalyst plans the whole X63
    # scoring pipeline (occurrence explode + two vocab joins + the
    # doc aggregate) TWICE (r15: measured ~2× the lm_bigram wall).
    # The materialized row is doc-count-sized (5 narrow columns), the
    # standard signature-table materialization point.
    scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    sample = scored
    if sample_bp < SAMPLE_DENOM:
        sample = sample.where(_uniform_bp(id_col) < sample_bp)
    w = Window.partitionBy(lang_col).orderBy(F.col("bpt_centibits").asc())
    ranked = sample.select(lang_col, "bpt_centibits").withColumn(
        "__rn", F.row_number().over(w)
    )
    counts = ranked.groupBy(lang_col).agg(
        F.max("__rn").cast("long").alias("__n")
    )
    # exact lower quantile ranks (the X30 index-arithmetic rule):
    # rank = floor(q·(n−1)) + 1, in exact milli units
    targets = counts.select(
        lang_col,
        (F.floor((F.lit(qs_milli[0]) * (F.col("__n") - 1)) / 1000) + 1)
        .cast("int")
        .alias("__r_head"),
        (F.floor((F.lit(qs_milli[1]) * (F.col("__n") - 1)) / 1000) + 1)
        .cast("int")
        .alias("__r_mid"),
    )
    thresholds = (
        ranked.join(F.broadcast(targets), lang_col)
        .groupBy(lang_col)
        .agg(
            F.min(
                F.when(
                    F.col("__rn") == F.col("__r_head"), F.col("bpt_centibits")
                )
            ).alias("t_head_centibits"),
            F.min(
                F.when(
                    F.col("__rn") == F.col("__r_mid"), F.col("bpt_centibits")
                )
            ).alias("t_mid_centibits"),
        )
    )
    # LEFT join: a language with scored docs but zero sampled docs
    # (possible whenever sample_bp < SAMPLE_DENOM) must not vanish —
    # it surfaces with NULL thresholds and an explicit bucket
    out = scored.join(F.broadcast(thresholds), lang_col, "left")
    bucket = (
        F.when(F.col("t_head_centibits").isNull(), "unsampled")
        .when(F.col("bpt_centibits") <= F.col("t_head_centibits"), "head")
        .when(F.col("bpt_centibits") <= F.col("t_mid_centibits"), "middle")
        .otherwise("tail")
    )
    return _release_on_gc(
        out.select(
            id_col,
            lang_col,
            "n_bigrams",
            "total_bits",
            "bpt_centibits",
            "t_head_centibits",
            "t_mid_centibits",
            bucket.alias("bucket"),
        ),
        scored,
    )


def wordpiece_encode(
    df: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_chars: int = 16,
    unk: str = "[UNK]",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """X73 — WordPiece greedy longest-match-first encoding (the BERT
    tokenizer's inference algorithm; Devlin et al. 2019, Song et al.
    2021 "Fast WordPiece"): per word, repeatedly take the LONGEST
    vocab piece matching the remaining prefix — continuation pieces
    carry the ``##`` prefix — and emit ``[UNK]`` for the whole word if
    any step finds no match or the word exceeds ``max_word_chars``
    (BERT's max_input_chars_per_word contract).  With X52/X53 (BPE
    train/encode) this completes the tokenizer ladder: BPE is the GPT
    family's apply rule, WordPiece is BERT's.

    Deterministic by construction: at a given position the longest
    matching piece is unique (same raw string → same piece), so there
    are no ties to break — reruns, shards, and the DuckDB oracle agree
    exactly.

    Returns (id, wp_text, n_words, n_subwords, n_unk_words): the
    space-joined subword sequence in document order (an UNK word is
    one subword) plus whitespace-token / subword / UNK-word counts.
    NULL-text rows are excluded (tokenization undefined).

    Spark shape: tokenization stays in Spark (the shared ``tokens()``
    projection); matching runs in an Arrow ``mapInPandas`` batch
    encoder over each batch's DISTINCT words (the X53-arrow documented
    escape — greedy longest-match is a data-dependent loop no fixed
    Catalyst expression expresses), so the per-word cost is paid once
    per distinct word per batch, never per occurrence.  Zero
    exchanges — the plan is scan → project → MapInPandas.
    """
    if not vocab:
        raise ValueError("wordpiece_encode: empty vocab")
    if any(p == "##" or not p for p in vocab):
        raise ValueError("wordpiece_encode: vocab pieces must be non-empty")
    head = sorted({p for p in vocab if not p.startswith("##")})
    cont = sorted({p[2:] for p in vocab if p.startswith("##")})
    reserved = {"wp_text", "n_words", "n_subwords", "n_unk_words", "__toks"}
    bad_carry = [c for c in carry_cols if c in reserved or c == id_col]
    if bad_carry:
        raise ValueError(f"carry_cols collide with outputs: {bad_carry}")

    # ADVICE r12/r14: carry the id through with its ORIGINAL type —
    # a hard cast to long throws under ANSI on string doc ids and
    # silently changes the output schema relative to the input
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [T.StructField(id_col, id_field.dataType, id_field.nullable)]
        + [T.StructField(c, T.StringType(), True) for c in carry_cols]
        + [
            T.StructField("wp_text", T.StringType(), True),
            T.StructField("n_words", T.LongType(), True),
            T.StructField("n_subwords", T.LongType(), True),
            T.StructField("n_unk_words", T.LongType(), True),
        ]
    )

    def encode(batches):
        import pandas as pd

        head_set, cont_set = set(head), set(cont)
        max_head = max((len(p) for p in head_set), default=0)
        max_cont = max((len(p) for p in cont_set), default=0)

        def pieces_of(w: str) -> list[str]:
            if len(w) > max_word_chars:
                return [unk]
            out: list[str] = []
            pos = 0
            while pos < len(w):
                vocab_set = head_set if pos == 0 else cont_set
                longest = max_head if pos == 0 else max_cont
                j = min(longest, len(w) - pos)
                while j > 0 and w[pos:pos + j] not in vocab_set:
                    j -= 1
                if j == 0:
                    return [unk]
                out.append(
                    w[pos:pos + j] if pos == 0 else "##" + w[pos:pos + j]
                )
                pos += j
            return out

        cache: dict[str, list[str]] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            ids, texts, nw, ns, nu = [], [], [], [], []
            for did, toks_row in zip(pdf[id_col], pdf["__toks"]):
                subs: list[str] = []
                unk_words = 0
                for w in toks_row:
                    p = cache.get(w)
                    if p is None:
                        p = pieces_of(w)
                        cache[w] = p
                    subs.extend(p)
                    if p == [unk]:
                        unk_words += 1
                ids.append(did)
                texts.append(" ".join(subs))
                nw.append(len(toks_row))
                ns.append(len(subs))
                nu.append(unk_words)
            data = {id_col: ids}
            for c in carry_cols:
                data[c] = list(pdf[c])
            data.update(
                {
                    "wp_text": texts,
                    "n_words": nw,
                    "n_subwords": ns,
                    "n_unk_words": nu,
                }
            )
            yield pd.DataFrame(data)

    prepared = df.where(F.col(text_col).isNotNull()).select(
        id_col,
        *[F.col(c).cast("string").alias(c) for c in carry_cols],
        tokens(text_col).alias("__toks"),
    )
    return prepared.mapInPandas(encode, out_schema)


def unigram_encode(
    df: DataFrame,
    pieces: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_chars: int = 12,
    unk: str = "[UNK]",
) -> DataFrame:
    """X79 — Unigram-LM Viterbi encoding (Kudo, ACL 2018 — the
    SentencePiece/T5 tokenizer's inference algorithm), completing the
    tokenizer ladder's third published family (BPE = GPT, WordPiece =
    BERT, Unigram = T5/SentencePiece): per word, the segmentation
    maximizing the summed piece scores under a SCORED vocabulary —
    dynamic programming over prefix positions, not greedy matching
    (greedy WordPiece can be globally suboptimal; Viterbi is exact).

    ``pieces`` maps piece → integer score (milli log-prob; negative).
    Determinism contract (mirrored by the DuckDB oracle's unrolled DP
    CTEs): exact-integer scores, and at equal prefix score the
    SMALLEST back-pointer wins — i.e. the LONGEST final piece —
    evaluated in ascending back-pointer order, a total rule with no
    float and no residual ties.  Words longer than
    ``max_word_chars`` or with no reachable segmentation become one
    ``unk`` piece (scoring 0), the X73 whole-word-UNK contract.

    Returns (id, unig_text, n_words, n_pieces, n_unk_words,
    score_milli): space-joined pieces in document order, whitespace-
    token / piece / UNK-word counts, and the exact summed score of
    the non-UNK words.  NULL-text rows are excluded.

    Spark shape: identical to X73 — tokenization in Spark (the shared
    ``tokens()`` projection), the DP in an Arrow ``mapInPandas``
    batch encoder with a per-batch distinct-word cache; zero
    exchanges (scan → project → MapInPandas).
    """
    if not pieces:
        raise ValueError("unigram_encode: empty pieces table")
    for p in pieces:
        if not p or " " in p:
            raise ValueError(
                f"unigram_encode: invalid piece {p!r} (empty or spaced)"
            )
    table = {str(p): int(s) for p, s in pieces.items()}
    max_piece = max(len(p) for p in table)

    # ADVICE r14 (low): carry the id with its ORIGINAL type — the
    # same hazard _bpe_encode_arrow fixed in r12 (ANSI cast throw on
    # string ids, silent schema change)
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("unig_text", T.StringType(), True),
            T.StructField("n_words", T.LongType(), True),
            T.StructField("n_pieces", T.LongType(), True),
            T.StructField("n_unk_words", T.LongType(), True),
            T.StructField("score_milli", T.LongType(), True),
        ]
    )

    def encode(batches):
        import pandas as pd

        def viterbi(w: str):
            if not w or len(w) > max_word_chars:
                return None
            n = len(w)
            best: list = [None] * (n + 1)
            back = [0] * (n + 1)
            best[0] = 0
            for j in range(1, n + 1):
                bj, pj = None, 0
                for i in range(max(0, j - max_piece), j):
                    if best[i] is None:
                        continue
                    sc = table.get(w[i:j])
                    if sc is None:
                        continue
                    cand = best[i] + sc
                    # strict > with ascending i: ties keep the
                    # SMALLEST back-pointer (longest final piece)
                    if bj is None or cand > bj:
                        bj, pj = cand, i
                best[j], back[j] = bj, pj
            if best[n] is None:
                return None
            parts: list[str] = []
            pos = n
            while pos > 0:
                i = back[pos]
                parts.append(w[i:pos])
                pos = i
            return list(reversed(parts)), best[n]

        cache: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            ids, texts, nw, np_, nu, sm = [], [], [], [], [], []
            for did, toks_row in zip(pdf[id_col], pdf["__toks"]):
                segs: list[str] = []
                unk_words = 0
                score = 0
                for w in toks_row:
                    if w not in cache:
                        cache[w] = viterbi(w)
                    r = cache[w]
                    if r is None:
                        segs.append(unk)
                        unk_words += 1
                    else:
                        segs.extend(r[0])
                        score += r[1]
                ids.append(did)
                texts.append(" ".join(segs))
                nw.append(len(toks_row))
                np_.append(len(segs))
                nu.append(unk_words)
                sm.append(score)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "unig_text": texts,
                    "n_words": nw,
                    "n_pieces": np_,
                    "n_unk_words": nu,
                    "score_milli": sm,
                }
            )

    prepared = df.where(F.col(text_col).isNotNull()).select(
        id_col,
        tokens(text_col).alias("__toks"),
    )
    return prepared.mapInPandas(encode, out_schema)


WORDPIECE_SCORE_SCALE = 1_000_000_000


def wordpiece_alphabet(df: DataFrame, text_col: str = "text") -> list[str]:
    """The BERT-style base alphabet of a corpus: every word-initial
    character as a head piece, every non-initial character as a
    ``##`` continuation piece — the seed vocabulary
    ``wordpiece_train`` extends and the floor ``wordpiece_encode``
    falls back to.  One distinct-aggregate over the word table
    (dim-sized result: ≤ 2·|charset| pieces)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("__w"))
        .where(F.length("__w") > 0)
        .distinct()
    )
    chars = words.select(
        F.posexplode(F.split(F.col("__w"), "")).alias("__i", "__ch")
    ).where(F.length("__ch") > 0)
    rows = (
        chars.select(
            F.when(F.col("__i") == 0, F.col("__ch"))
            .otherwise(F.concat(F.lit("##"), F.col("__ch")))
            .alias("piece")
        )
        .distinct()
        .collect()
    )
    return sorted(r["piece"] for r in rows)


def _wordpiece_train_histogram(
    words: list[tuple[str, int]], n_merges: int
) -> list[tuple]:
    """``wordpiece_train``'s driver-side merge loop over a collected
    word histogram — byte-identical semantics to the vocabulary-table
    loop (split-adjacency pair and symbol counts, HuggingFace likelihood score as
    exact-integer ``score_q = (c·10⁹) // (n_l·n_r)``, (score_q DESC,
    lhs, rhs) order, ##-stripping string replace).  Unlike BPE, every
    merge perturbs the UNIGRAM counts of its symbols and therefore
    the scores of every pair touching them, so a lazy heap buys
    little — each step recounts from the word states, O(V·L) per
    merge, the documented production path for histogram-sized
    vocabularies."""
    states = [
        [" " + w[0] + "".join(" ##" + c for c in w[1:]), f]
        for w, f in words
    ]
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pc: dict = {}
        uc: dict = {}
        for s, f in states:
            syms = s.strip().split(" ")
            for sym in syms:
                uc[sym] = uc.get(sym, 0) + f
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        if not pc:
            break
        best = None
        for (l, r), c in pc.items():
            q = (c * WORDPIECE_SCORE_SCALE) // (uc[l] * uc[r])
            key = (-q, l, r)
            if best is None or key < best[0]:
                best = (key, l, r, c, q)
        _, l, r, c, q = best
        merged = l + r[2:]
        merges.append((step, l, r, merged, c, q))
        pat, rep = f" {l} {r}", f" {merged}"
        for row in states:
            if pat in row[0]:
                row[0] = row[0].replace(pat, rep)
    return merges


def wordpiece_train(
    df: DataFrame,
    n_merges: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_vocab_rows: int = 5_000_000,
) -> DataFrame:
    """X78 — WordPiece vocabulary training (Schuster & Nakajima 2012;
    the BERT tokenizer's train side, completing the BERT family the
    way X52 completed GPT's): iteratively merge the adjacent symbol
    pair with the highest LIKELIHOOD gain — score(l, r) =
    count(l, r) / (count(l)·count(r)) — rather than BPE's raw count
    (the published WordPiece/unigram-LM distinction; HuggingFace
    tokenizers implements exactly this scoring rule).

    Determinism and oracle parity: the score is kept EXACT-INTEGER as
    ``score_q = (pair_count · 10⁹) div (count_l · count_r)`` (decimal
    intermediates, pmod-based floor — the moments_stats idiom, so no
    float division anywhere), selection order pinned to (score_q
    DESC, lhs, rhs).  Symbols use BERT's ``##`` continuation
    convention: a word's state is ``" c ##h ##a ##t"``; merging
    (l, r) produces ``l + r[2:]`` (the rhs is always a continuation
    piece by construction), so head pieces stay heads and the learned
    table feeds ``wordpiece_encode`` directly (vocab = the
    ``wordpiece_alphabet`` seed + the merged spellings — round-trip
    pinned by pytest).

    Returns (step, lhs, rhs, merged, pair_count, score_q).

    Spark shape (the plan contract): the corpus is scanned exactly
    ONCE (the word-frequency groupBy); every iteration then runs on
    the VOCABULARY state table — one split+posexplode pair count, one
    explode symbol count, two broadcast joins of the dim-sized symbol
    table onto the pair table, one TakeOrdered(1) winner, one
    map-side literal replace, one eager localCheckpoint.  No
    corpus re-scan, no data-sized shuffle.  The driver loop moves one
    6-field row per step (the bpe_train contract).

    Two byte-identical merge loops, routed by ``n_merges`` as in
    ``bpe_train``: up to ``BPE_TRAIN_HISTOGRAM_THRESHOLD`` merges the
    vocabulary-table loop above (``_wordpiece_train_table``), past it
    the driver-side loop over the collected, ``max_vocab_rows``-guarded
    histogram (``_wordpiece_train_histogram``).  As for BPE the faster
    loop follows vocabulary size: at sf0.01, n=6 the histogram took
    0.33 s against 1.82 s; on the 100k-doc all-unique stress corpus,
    n=4, the table loop took 43-44 s against 71-73 s.
    """
    words = _word_counts(df, text_col)
    if n_merges > BPE_TRAIN_HISTOGRAM_THRESHOLD:
        merges = _wordpiece_train_histogram(
            _collect_histogram(words, max_vocab_rows, "wordpiece_train"),
            n_merges,
        )
    else:
        merges = _wordpiece_train_table(words, n_merges)
    return local_rows_df(
        df.sparkSession,
        merges,
        "step bigint, lhs string, rhs string, merged string, "
        "pair_count bigint, score_q bigint",
    )


def _wordpiece_train_table(words: DataFrame, n_merges: int) -> list[tuple]:
    """``wordpiece_train``'s vocabulary-table merge loop over the
    ``_word_counts`` frame (see its docstring for the plan)."""
    state = words.select(
        # " c ##h ##a ##t": head char plain, continuations ##
        F.concat(
            F.lit(" "),
            F.substring("__w", 1, 1),
            _symbols(F.substring("__w", 2, 1_000_000), " ##"),
        ).alias("__s"),
        "__f",
    ).localCheckpoint(eager=True)
    dec = "decimal(19,0)"
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        arr = F.split(F.ltrim(F.col("__s")), " ")
        pairs = (
            state.where(F.size(arr) >= 2)
            .select(
                F.posexplode(F.slice(arr, 1, F.size(arr) - 1)).alias(
                    "__i", "__l"
                ),
                F.element_at(arr, F.col("__i") + 2).alias("__r"),
                "__f",
            )
            .groupBy("__l", "__r")
            .agg(F.sum("__f").alias("__c"))
        )
        syms = (
            state.select(F.explode(arr).alias("__sym"), "__f")
            .groupBy("__sym")
            .agg(F.sum("__f").alias("__n"))
        )
        num = F.col("__c").cast(dec) * WORDPIECE_SCORE_SCALE
        den = F.col("__nl").cast(dec) * F.col("__nr").cast(dec)
        rm = F.pmod(num, den)
        scored = (
            pairs.join(
                F.broadcast(
                    syms.select(
                        F.col("__sym").alias("__l"),
                        F.col("__n").alias("__nl"),
                    )
                ),
                "__l",
            )
            .join(
                F.broadcast(
                    syms.select(
                        F.col("__sym").alias("__r"),
                        F.col("__n").alias("__nr"),
                    )
                ),
                "__r",
            )
            .select(
                "__l",
                "__r",
                "__c",
                ((num - rm) / den).cast("long").alias("__q"),
            )
        )
        best = (
            scored.orderBy(F.desc("__q"), F.asc("__l"), F.asc("__r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs = best[0]["__l"], best[0]["__r"]
        cnt, q = int(best[0]["__c"]), int(best[0]["__q"])
        merged = lhs + rhs[2:]
        merges.append((step, lhs, rhs, merged, cnt, q))
        state = state.select(
            F.replace(
                F.col("__s"),
                F.lit(f" {lhs} {rhs}"),
                F.lit(f" {merged}"),
            ).alias("__s"),
            "__f",
        ).localCheckpoint(eager=True)
    return merges


def wordpiece_coverage(
    df: DataFrame,
    vocab: list[str],
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_chars: int = 16,
) -> DataFrame:
    """X74 — per-slice WordPiece vocabulary COVERAGE report: the X59
    fertility story for the BERT tokenizer family — OOV rate
    (fraction of words the vocab cannot segment → [UNK]; the number a
    multilingual vocab is judged by, Devlin et al. 2019 / Ács'
    coverage tables) and fertility (subwords per word) per
    language/domain slice.  A slice with a high UNK rate is one the
    vocabulary under-serves — the decision signal BEFORE committing
    100 TB of preprocessing.

    Exact integers (the no-float-aggregation rule):
    ``unk_ppm = n_unk_words·10⁶ // n_words`` and ``fertility_milli =
    n_subwords·1000 // n_words`` (slices with zero words are reported
    with NULL rates, not dropped — the no-silent-drop discipline).

    Returns one row per ``group_col`` value, ordered by it:
    (group, n_docs, n_words, n_subwords, n_unk_words, unk_ppm,
    fertility_milli).

    Spark shape: the encode is the X73 zero-exchange Arrow scan with
    the slice column riding ``carry_cols`` (no join-back); the report
    is ONE group aggregate with map-side partial sums.
    """
    enc = wordpiece_encode(
        df.where(F.col(group_col).isNotNull()),
        vocab,
        id_col=id_col,
        text_col=text_col,
        max_word_chars=max_word_chars,
        carry_cols=(group_col,),
    )
    g = enc.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_subwords").cast("long").alias("n_subwords"),
        F.sum("n_unk_words").cast("long").alias("n_unk_words"),
    )
    return g.select(
        group_col,
        "n_docs",
        "n_words",
        "n_subwords",
        "n_unk_words",
        F.when(
            F.col("n_words") > 0,
            F.floor((F.col("n_unk_words") * 1_000_000) / F.col("n_words")),
        )
        .cast("long")
        .alias("unk_ppm"),
        F.when(
            F.col("n_words") > 0,
            F.floor((F.col("n_subwords") * 1_000) / F.col("n_words")),
        )
        .cast("long")
        .alias("fertility_milli"),
    ).orderBy(group_col)


def unigram_seed_vocab(
    df: DataFrame,
    vocab_size: int = 50,
    max_piece_len: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """X84 — Unigram-LM SEED vocabulary selection (Kudo, ACL 2018 §3;
    SentencePiece ``MakeSeedSentencePieces``): the first stage of the
    Unigram trainer, completing the X79 encode side's family.  The
    published algorithm enumerates frequent substrings (spm does it
    with a suffix array over the concatenated corpus), scores each
    candidate by ``count · len`` (total characters covered), ALWAYS
    keeps every single character (the required alphabet — coverage
    must never be lost), and fills the remaining ``vocab_size`` slots
    with the top multi-character candidates.  Ties break on
    (score DESC, piece ASC) — the engine's pinned total order.

    Returns (piece, piece_len, n_hits, score, in_alphabet):
    ``n_hits`` counts every occurrence POSITION (a word containing
    "aa" twice contributes twice per corpus occurrence, exactly the
    suffix-array count), ``score = n_hits · piece_len``, alphabet rows
    are always present regardless of score.

    Spark shape (the 100 TB one): the ONLY corpus-sized operation is
    the word-frequency groupBy (map-side partial combine — the X52
    contract); substring enumeration is a nested higher-order
    ``transform``/``flatten`` over DISTINCT words (zero UDF,
    whole-stage codegen), and candidate selection is a
    TakeOrderedAndProject over the piece table.  The single driver
    action is the alphabet count — alphabet-sized, the kmeans
    centroid contract.
    """
    if vocab_size < 1:
        raise ValueError(
            f"unigram_seed_vocab: vocab_size must be >= 1, got {vocab_size}"
        )
    wc = (
        df.select(F.explode(tokens(text_col)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    # all substrings of length 1..max_piece_len, every start position —
    # nested SQL lambdas close over the outer variable (ln), all
    # JVM-side
    subs = F.expr(
        f"""flatten(transform(
  sequence(1, least(length(__w), {int(max_piece_len)})),
  ln -> transform(
    sequence(1, length(__w) - ln + 1),
    i -> substring(__w, i, ln))))"""
    )
    pieces = (
        wc.select(F.explode(subs).alias("piece"), "__f")
        .groupBy("piece")
        .agg(F.sum("__f").cast("long").alias("n_hits"))
        .select(
            "piece",
            F.length("piece").cast("long").alias("piece_len"),
            "n_hits",
            (F.length("piece") * F.col("n_hits")).cast("long").alias("score"),
            (F.length("piece") == 1).alias("in_alphabet"),
        )
        # materialize ONCE: the piece table feeds the alphabet count
        # AND both union branches — without this each consumer replays
        # the corpus word count + substring aggregation (r14
        # code-review finding); the table is candidate-sized, not
        # corpus-sized
        .localCheckpoint(eager=True)
    )
    alpha = pieces.where(F.col("in_alphabet"))
    n_alpha = alpha.count()
    multi = (
        pieces.where(~F.col("in_alphabet"))
        .orderBy(F.desc("score"), F.asc("piece"))
        .limit(max(0, vocab_size - n_alpha))
    )
    return alpha.unionByName(multi)
