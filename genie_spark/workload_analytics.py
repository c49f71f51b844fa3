"""Training-data analytics queries over documents/embeddings, with
DuckDB oracles.

The minhash/simhash oracle SQL is GENERATED from the same constants the
Spark implementation uses (perm_params, bit counts) so the two sides
cannot drift.  Determinism rules are as in workload.py: every hash is
md5/sha-derived, every similarity is computed from exact quantized
integers, every ratio is an int/int divide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from genie_spark.session import local_rows_df
from genie_spark.analytics.dedup import (
    MERSENNE_P,
    exact_duplicates,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    perm_params,
    setsim_prefix_pairs,
    simhash,
    SIMHASH_BITS,
)
from genie_spark.analytics.similarity import (
    cosine_pairs,
    cosine_topk,
    ivf_topk,
    lsh_cosine_candidates,
)
from genie_spark.analytics.text import fingerprint, lang_id, quality_score, token_stats
from genie_spark.analytics.multimodal import extract_features


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-row-group parquet → repartition for parallel fan-out.
    # HASH on the id, not round-robin: a keyless repartition(n) pays a
    # local binary sort of its input first (sortBeforeRepartition,
    # retry determinism — guide §2.5); hashing the unique id spreads
    # identically, skips the sort, and is retry-deterministic.
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
    )


# shared SQL fragments -------------------------------------------------------

_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"

_SHINGLES_SQL = """
  SELECT DISTINCT doc_id, substr(text, i, 20) AS shingle
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 18)) AS i
        FROM documents WHERE length(text) >= 20)
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy, min-id survivor."""
    return exact_duplicates(_docs(spark, sf_dir))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: 20-char shingle sets, Jaccard ≥ 0.5, hot-shingle
    cap at df>10k (mirrored in the oracle SQL)."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=20, threshold=0.5, max_df=10_000
    )


DEDUP_JACCARD_SQL = f"""
WITH sh0 AS ({_SHINGLES_SQL}),
sh AS (
  SELECT * FROM sh0 WHERE shingle NOT IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 10000)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_common,
       n_common * 1.0 / (na.n + nb.n - n_common) AS jaccard
FROM common JOIN sizes na ON common.a = na.doc_id
            JOIN sizes nb ON common.b = nb.doc_id
WHERE n_common * 1.0 / (na.n + nb.n - n_common) >= 0.5
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (signatures → band buckets →
    verified candidates) — the 100 TB dedup path."""
    return minhash_dedup_pairs(_docs(spark, sf_dir), k=20, n_perm=16, bands=4, threshold=0.5)


def _minhash_sql() -> str:
    params = perm_params(16)
    mh_exprs = ",\n         ".join(
        f"min((h * {a} + {b}) % {MERSENNE_P}) AS mh_{i}" for i, (a, b) in enumerate(params)
    )
    band_rows = []
    for bi in range(4):
        cols = ", ".join(f"mh_{bi * 4 + r}" for r in range(4))
        band_rows.append(
            f"SELECT doc_id, {bi} AS band, concat_ws('_', {cols}) AS sig FROM sig"
        )
    banded = "\nUNION ALL\n".join(band_rows)
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MERSENNE_P} AS h FROM sh),
sig AS (SELECT doc_id,
         {mh_exprs}
        FROM h GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.a, c.b, count(*) AS n_common
  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT common.a, common.b,
       n_common * 1.0 / (na.n + nb.n - n_common) AS jaccard
FROM common JOIN sizes na ON common.a = na.doc_id
            JOIN sizes nb ON common.b = nb.doc_id
WHERE n_common * 1.0 / (na.n + nb.n - n_common) >= 0.5
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivor selection: MinHash pairs → connected
    components by iterative min-label propagation (the step that turns
    pair detection into a drop list).  Iterative distributed algorithm;
    the oracle mirrors it with a recursive CTE."""
    from genie_spark.analytics.dedup import connected_components

    pairs = minhash_dedup_pairs(_docs(spark, sf_dir), k=20, n_perm=16, bands=4, threshold=0.5)
    return connected_components(pairs)


def _components_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
  SELECT a AS x, b AS y FROM pairs
  UNION
  SELECT b AS x, a AS y FROM pairs
),
reach(node, label) AS (
    SELECT x, x FROM edges
  UNION
    SELECT e.x, r.label FROM edges e JOIN reach r ON e.y = r.node
)
SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
"""


EMB_DROP_CENTROIDS = 32   # floor; C adapts as max(32, n//16) — see below
EMB_DROP_PROBE = 10
EMB_DROP_CELL = 16        # target mean cell occupancy (n / C)


def dedup_embedding_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup end-to-end, the 100 TB shape:
    IVF cell co-membership CANDIDATES (equi-join on probed cell id —
    no cross join over the corpus) → exact quantized-cosine VERIFY of
    candidates only → connected components → survivor-selection drop
    list (keep the min-id vector per cluster).  Same candidates→verify
    shape as ``minhash_dedup_pairs``; the oracle SQL mirrors the
    candidate generation exactly (same deterministic centroids, same
    adaptive C = max(32, n//16) occupancy rule computed from the data,
    same probe budget), so the two engines agree by construction at any
    sf — and at sf0.01 (where the rule still gives C=32, P=10) the
    setting is measured total-recall (271/271 at sf0.01, 256/256 at
    sf0.001) vs the exact ``ann_cosine_pairs`` baseline, which stays
    registered as the O(n²) oracle-parity reference."""
    from genie_spark.analytics.dedup import near_dup_drop_list
    from genie_spark.analytics.similarity import cosine_verify_pairs, ivf_cell_pairs

    emb = _emb(spark, sf_dir)
    # C adapts to the corpus by the occupancy rule C = max(32, n//16)
    # (the SQL oracle computes the IDENTICAL rule from count(*), so the
    # two engines agree at any sf): mean cell size stays ~16, candidate
    # volume ≈ n·P²·CELL/2 — LINEAR in n.  A FIXED C=32 at sf0.1's
    # 5000 vectors meant ~39M candidates (n²P²/2C, quadratic) and a
    # half-hour verify join.  Per-row assignment is O(C·dim), so
    # centroid IVF stops past ~100k vectors — at that scale use
    # lsh_banded_pairs + cosine_verify_pairs (assignment cost
    # independent of bucket count; the stress-probe shape) with a
    # high-similarity threshold.
    n = emb.count()
    if n > 100_000:
        raise ValueError(
            f"dedup_embedding_drop's centroid-IVF assignment is O(C·dim) "
            f"per row with C = max(32, n//{EMB_DROP_CELL}) = "
            f"{max(32, n // EMB_DROP_CELL):,} for {n:,} vectors; use "
            "lsh_banded_pairs + cosine_verify_pairs at this scale"
        )
    cand = ivf_cell_pairs(
        emb,
        n_centroids=max(EMB_DROP_CENTROIDS, n // EMB_DROP_CELL),
        n_probe=EMB_DROP_PROBE,
    )
    pairs = cosine_verify_pairs(emb, cand, threshold=0.35).select("a", "b")
    return near_dup_drop_list(pairs)


def _ivf_candidate_sql(n_centroids: int, n_probe: int) -> str:
    """DuckDB mirror of ``ivf_cell_pairs`` + ``cosine_verify_pairs``:
    same smallest-(md5(id), id) centroids, same (ccos DESC, cid) probe ranking, same
    quantized-integer verify — bit-for-bit the Spark candidate set.
    The centroid count applies the same adaptive occupancy rule as the
    Spark side, C = max(floor, count(*)//cell), computed from the data
    itself so the mirror holds at any sf."""
    return f"""
WITH qv AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
nv AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM qv),
ccount AS (SELECT greatest({n_centroids}, count(*) // {EMB_DROP_CELL}) AS c FROM nv),
cent AS (
  SELECT cid, cv, cn FROM (
    SELECT vec_id AS cid, v AS cv, nn AS cn,
           row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM nv
  ) WHERE rn <= (SELECT c FROM ccount)
),
assign0 AS (
  SELECT nv.vec_id, cent.cid,
         CAST(list_dot_product(nv.v, cent.cv) AS BIGINT) / (sqrt(nv.nn) * sqrt(cent.cn)) AS ccos
  FROM nv CROSS JOIN cent
),
assign AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
  FROM assign0
),
probes AS (SELECT vec_id, cid FROM assign WHERE crank <= {n_probe}),
cand AS (
  SELECT DISTINCT pa.vec_id AS a, pb.vec_id AS b
  FROM probes pa JOIN probes pb ON pa.cid = pb.cid AND pa.vec_id < pb.vec_id
)
SELECT c.a, c.b
FROM cand c JOIN nv na ON na.vec_id = c.a JOIN nv nb ON nb.vec_id = c.b
WHERE CAST(list_dot_product(na.v, nb.v) AS BIGINT) / (sqrt(na.nn) * sqrt(nb.nn)) > 0.35
"""


def _embedding_drop_sql() -> str:
    return f"""
WITH RECURSIVE pr AS ({{ann_pairs}}),
edges AS (
  SELECT a AS x, b AS y FROM pr
  UNION
  SELECT b AS x, a AS y FROM pr
),
reach(node, label) AS (
    SELECT x, x FROM edges
  UNION
    SELECT e.x, r.label FROM edges e JOIN reach r ON e.y = r.node
),
comp AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
SELECT node AS drop_id, cluster_id FROM comp WHERE node <> cluster_id
"""


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: the even-id half of the corpus
    is the pre-existing SIGNATURE STORE (text never touched again);
    the odd-id half arrives as a new batch.  Banding makes the
    incremental candidate set identical to the batch-pipeline's
    candidates restricted to batch-touching pairs, so the oracle is
    the full-corpus minhash SQL filtered to pairs with an odd
    endpoint — an exact equivalence, not an approximation."""
    from genie_spark.analytics.dedup import incremental_minhash_pairs, minhash_docinfo

    docs = _docs(spark, sf_dir)
    store = minhash_docinfo(docs.where(F.col("doc_id") % 2 == 0))
    batch = docs.where(F.col("doc_id") % 2 == 1)
    pairs, _new_info = incremental_minhash_pairs(store, batch, threshold=0.5)
    return pairs


def _incremental_minhash_sql() -> str:
    return f"""
SELECT a, b, jaccard FROM ({_minhash_sql()})
WHERE a % 2 = 1 OR b % 2 = 1
"""


def dedup_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless prefix-filtered set-similarity self-join (PPJoin
    family): identical result to the exact all-shingles Jaccard ≥ 0.5
    join, candidates generated only from each document's globally
    rarest shingles — the scale path that needs no lossy hot-shingle
    cap (X41)."""
    return setsim_prefix_pairs(_docs(spark, sf_dir), k=20, threshold_pct=50)


DEDUP_SETSIM_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS shingle
  FROM ({_SHINGLES_SQL})
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_common,
       n_common * 1.0 / (na.n + nb.n - n_common) AS jaccard
FROM common JOIN sizes na ON common.a = na.doc_id
            JOIN sizes nb ON common.b = nb.doc_id
WHERE 100 * n_common >= 50 * (na.n + nb.n - n_common)
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash fingerprint."""
    return simhash(_docs(spark, sf_dir))


def _simhash_sql() -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
s AS (SELECT doc_id,
         {sums}
      FROM h GROUP BY doc_id)
SELECT doc_id, {value} AS simhash FROM s
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

# CAST(x AS DOUBLE) first: DuckDB runs FLOAT*INTEGER in single
# precision, Spark's quantized() casts to double — both must do the
# exact same IEEE-double arithmetic or borderline values round to
# different longs (seen at sf0.1).
_QUANT_SQL = (
    "list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
)


def ann_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with quantized cosine > 0.35 (exact baseline)."""
    return cosine_pairs(_emb(spark, sf_dir), threshold=0.35)


ANN_PAIRS_SQL = f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM q)
SELECT a.vec_id AS a, b.vec_id AS b,
       CAST(list_dot_product(a.v, b.v) AS BIGINT) / (sqrt(a.nn) * sqrt(b.nn)) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.v, b.v) AS BIGINT) / (sqrt(a.nn) * sqrt(b.nn)) > 0.35
"""


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id < 20)."""
    return cosine_topk(_emb(spark, sf_dir), k=10, query_filter=F.col("vec_id") < 20)


ANN_TOPK_SQL = f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM q),
s AS (
  SELECT qa.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_dot_product(qa.v, c.v) AS BIGINT) / (sqrt(qa.nn) * sqrt(c.nn)) AS cosine
  FROM n qa JOIN n c ON qa.vec_id != c.vec_id
  WHERE qa.vec_id < 20
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 10
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned cosine top-10 for query vectors (vec_id < 20):
    deterministic centroids (16 smallest (md5(vec_id), vec_id)), nearest-cell assignment
    as a shuffle-free map, 4-cell probe, top-k inside probed cells."""
    return ivf_topk(_emb(spark, sf_dir), k=10, query_filter=F.col("vec_id") < 20)


ANN_IVF_SQL = f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM q),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
assign0 AS (
  SELECT n.vec_id, n.v, n.nn, c.cid,
         CAST(list_dot_product(n.v, c.cv) AS BIGINT) / (sqrt(n.nn) * sqrt(c.cn)) AS ccos
  FROM n CROSS JOIN c
),
assign AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
  FROM assign0
),
corpus AS (SELECT vec_id, v, nn, cid FROM assign WHERE crank = 1),
probes AS (SELECT vec_id, v, nn, cid FROM assign WHERE crank <= 4 AND vec_id < 20),
s AS (
  SELECT p.vec_id AS query_id, t.vec_id AS neighbor_id,
         CAST(list_dot_product(p.v, t.v) AS BIGINT) / (sqrt(p.nn) * sqrt(t.nn)) AS cosine
  FROM probes p JOIN corpus t USING (cid)
  WHERE p.vec_id != t.vec_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 10
"""


def ann_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table (banded) sign-LSH candidate pairs — the near-LINEAR
    embedding candidate generator (OR of 4 independent hyperplane
    tables; see ``lsh_banded_pairs``).  This is the generator the 1M
    stress tier feeds into verify→components; registering it
    oracle-checked pins the banding/dedup semantics at sf0.01."""
    from genie_spark.analytics.similarity import lsh_banded_pairs

    return lsh_banded_pairs(_emb(spark, sf_dir), n_planes=8, n_tables=4)


def _sign_bucket_sql(n_planes: int, seed0: int) -> str:
    """One banded sign-LSH bucket id as a DuckDB expression over a
    quantized vector column ``v`` — same md5-derived ±1 planes and
    exact-integer projections as ``similarity.sign_signatures``."""
    from genie_spark.analytics.similarity import _hyperplane

    terms = []
    for p in range(n_planes):
        plane = _hyperplane(64, seed0 + p)
        proj = " ".join(
            f"{'+' if s > 0 else '-'} v[{i + 1}]" for i, s in enumerate(plane)
        )
        terms.append(f"CASE WHEN ({proj}) > 0 THEN {2 ** p} ELSE 0 END")
    return " + ".join(terms)


def _lsh_banded_sql(n_planes: int = 8, n_tables: int = 4) -> str:
    """DuckDB mirror of ``lsh_banded_pairs``: same md5-derived ±1
    planes per table (seeds 1 + t·n_planes), same exact-integer
    projections, UNION (distinct) of the per-table bucket self-joins."""

    sig_cols = ",\n       ".join(
        f"CAST({_sign_bucket_sql(n_planes, 1 + t * n_planes)} AS BIGINT) AS b{t}"
        for t in range(n_tables)
    )
    table_joins = "\nUNION\n".join(
        f"SELECT x.vid AS a, y.vid AS b FROM sigs x JOIN sigs y "
        f"ON x.b{t} = y.b{t} AND x.vid < y.vid"
        for t in range(n_tables)
    )
    return f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
sigs AS (SELECT vec_id AS vid,
       {sig_cols}
  FROM q)
{table_joins}
"""


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH candidate pairs — the ANN scale path
    (equi-join on sign-bit bucket, no cross join)."""
    return lsh_cosine_candidates(_emb(spark, sf_dir))


def _lsh_sql() -> str:
    """DuckDB mirror of ``lsh_cosine_candidates``: the ±1 hyperplanes
    come from the same md5 rule (`similarity._hyperplane`), the projection
    is the same exact integer dot product, so the sign-bit bucket is
    reproducible bit-for-bit across engines."""
    from genie_spark.analytics.similarity import N_HYPERPLANES, _hyperplane

    terms = []
    for p in range(N_HYPERPLANES):
        plane = _hyperplane(64, p + 1)
        proj = " ".join(
            f"{'+' if s > 0 else '-'} v[{i + 1}]" for i, s in enumerate(plane)
        )
        terms.append(f"CASE WHEN ({proj}) > 0 THEN {2 ** p} ELSE 0 END")
    bucket = " + ".join(terms)
    return f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
sigs AS (SELECT vec_id AS vid, CAST({bucket} AS BIGINT) AS bucket FROM q)
SELECT a.vid AS a, b.vid AS b, a.bucket AS bucket
FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vid < b.vid
"""


ANN_LSH_SQL = _lsh_sql()


RP_OUT_DIM = 8
RRF_K = 25
RRF_C = 60


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86 reciprocal rank fusion: the lexical BM25 top-25 (the
    registered 3-term query) fused with the dense cosine top-25 around
    query vector 0 (embeddings align 1:1 with documents) — the hybrid
    RAG candidate-selection step, exact-integer RRF scores."""
    from genie_spark.analytics.similarity import cosine_topk, rrf_fuse
    from genie_spark.analytics.text import bm25_topk

    lex = bm25_topk(
        _docs(spark, sf_dir), list(BM25_QUERY), k=RRF_K
    ).select("doc_id", "rank")
    dense = cosine_topk(
        _emb(spark, sf_dir), k=RRF_K, query_filter=F.col("vec_id") == 0
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, dense], k=RRF_K, c=RRF_C)


def _rrf_fusion_sql() -> str:
    """DuckDB mirror of ``retrieval_rrf_fusion``: the registered BM25
    SQL and the single-query dense rank as CTE subqueries, then the
    same integer ``scale // (c + rank)`` fusion and pinned tie order."""
    return f"""
WITH lex AS MATERIALIZED ({_bm25_sql(k=RRF_K)}),
dense AS MATERIALIZED (
  WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
  n AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM q),
  s AS (
    SELECT c.vec_id AS doc_id,
           CAST(list_dot_product(qa.v, c.v) AS BIGINT)
             / (sqrt(qa.nn) * sqrt(c.nn)) AS cosine
    FROM n qa JOIN n c ON c.vec_id != qa.vec_id
    WHERE qa.vec_id = 0
  )
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
              AS BIGINT) AS rank
  FROM s ORDER BY cosine DESC, doc_id LIMIT {RRF_K}
),
uni AS (
  SELECT doc_id, rank FROM lex
  UNION ALL
  SELECT doc_id, rank FROM dense
),
agg AS (
  SELECT doc_id,
         CAST(sum(1000000000 // ({RRF_C} + rank)) AS BIGINT) AS rrf_q,
         CAST(count(*) AS BIGINT) AS n_lists,
         CAST(min(rank) AS BIGINT) AS best_rank
  FROM uni GROUP BY doc_id
  ORDER BY rrf_q DESC, doc_id LIMIT {RRF_K}
)
SELECT doc_id, rrf_q, n_lists, best_rank,
       CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS BIGINT)
           AS fused_rank
FROM agg
"""


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85 signed random projection: the JL embedding-compression step
    (Achlioptas ±1 planes, md5-derived) — every vector's 8 exact
    integer projections in long form (vec_id, j, proj)."""
    from genie_spark.analytics.similarity import random_projection

    rp = random_projection(
        _emb(spark, sf_dir), out_dim=RP_OUT_DIM, dim=64
    )
    return rp.select(
        "vec_id", F.posexplode("rp").alias("j", "proj")
    ).select(
        "vec_id", F.col("j").cast("long").alias("j"), F.col("proj")
    )


def _random_projection_sql() -> str:
    """DuckDB mirror of ``random_projection``: the same md5-derived ±1
    planes (seeds 1..out_dim), the same exact integer projections over
    the quantized vectors, one UNION ALL arm per output coordinate."""
    from genie_spark.analytics.similarity import _hyperplane

    arms = []
    for j in range(RP_OUT_DIM):
        plane = _hyperplane(64, 1 + j)
        proj = " ".join(
            f"{'+' if s > 0 else '-'} v[{i + 1}]" for i, s in enumerate(plane)
        )
        arms.append(
            f"SELECT vec_id, CAST({j} AS BIGINT) AS j, "
            f"CAST(({proj}) AS BIGINT) AS proj FROM q"
        )
    return (
        f"WITH q AS MATERIALIZED (SELECT vec_id, {_QUANT_SQL} AS v "
        "FROM embeddings)\n" + "\nUNION ALL\n".join(arms)
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_uniq_tokens,
       length(trim(text)) AS n_chars_trim,
       CAST(length(text) // 4 AS BIGINT) AS n_subword_est
FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


_STOPLIST = "['the','a','and','of','to','in','is','it','for','on']"

TEXT_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
  FROM documents
), c AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_filter(toks, x -> list_contains({_STOPLIST}, lower(x)))) AS n_stopwords,
         n_chars, n_alpha, n_digit, n_punct
  FROM t
)
SELECT doc_id, n_tokens, n_stopwords,
       n_stopwords * 1.0 / greatest(n_tokens, 1) AS stop_ratio,
       n_alpha * 1.0 / greatest(n_chars, 1) AS alpha_ratio,
       n_digit * 1.0 / greatest(n_chars, 1) AS digit_ratio,
       n_punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
       (n_tokens >= 10 AND n_stopwords * 1.0 / greatest(n_tokens, 1) > 0.01
        AND n_alpha * 1.0 / greatest(n_chars, 1) > 0.5) AS passes_quality
FROM c
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


_MARKERS = {
    "en": "['the','and','of','to','is','in','that']",
    "es": "['el','la','de','que','y','los','se']",
    "fr": "['le','la','de','et','les','des','une']",
    "de": "['der','die','und','das','ist','nicht','ein']",
}

LANG_ID_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
         len(list_filter(toks, x -> list_contains({_MARKERS['en']}, lower(x)))) AS score_en,
         len(list_filter(toks, x -> list_contains({_MARKERS['es']}, lower(x)))) AS score_es,
         len(list_filter(toks, x -> list_contains({_MARKERS['fr']}, lower(x)))) AS score_fr,
         len(list_filter(toks, x -> list_contains({_MARKERS['de']}, lower(x)))) AS score_de
  FROM t
)
SELECT doc_id, score_en, score_es, score_fr, score_de,
       CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
            WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
            WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
            WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
            ELSE 'de' END AS pred_lang
FROM s
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir))


FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
       length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_len
FROM documents
"""


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc by exact-integer tf·idf."""
    from genie_spark.analytics.text import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=5)


TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, lower(term) AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, term, tf, doc_freq, (tf * 1000000) // doc_freq AS score
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, tf, doc_freq, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
) WHERE rank <= 5
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition stats (dup 5-grams, top
    2-gram mass)."""
    from genie_spark.analytics.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id,
   CASE WHEN len(toks) >= 5
        THEN list_transform(range(1, len(toks) - 3),
                            i -> array_to_string(list_slice(toks, i, i + 4), ' '))
        ELSE [] END AS g5,
   CASE WHEN len(toks) >= 2
        THEN list_transform(range(1, len(toks)),
                            i -> array_to_string(list_slice(toks, i, i + 1), ' '))
        ELSE [] END AS g2
 FROM t),
two AS (
  SELECT doc_id, gram, count(*) AS n
  FROM (SELECT doc_id, unnest(g2) AS gram FROM base) GROUP BY 1, 2
),
agg2 AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_2grams,
                CAST(max(n) AS BIGINT) AS top_2gram_count
         FROM two GROUP BY doc_id)
SELECT b.doc_id,
  coalesce(n_2grams, 0) AS n_2grams,
  coalesce(top_2gram_count, 0) AS top_2gram_count,
  coalesce(top_2gram_count, 0) * 1.0 / greatest(coalesce(n_2grams, 0), 1) AS top2_frac,
  CAST(len(g5) AS BIGINT) AS n_5grams,
  CAST(len(list_distinct(g5)) AS BIGINT) AS n_uniq_5grams,
  (len(g5) - len(list_distinct(g5))) * 1.0 / greatest(len(g5), 1) AS dup5_frac,
  (coalesce(top_2gram_count, 0) * 1.0 / greatest(coalesce(n_2grams, 0), 1) > 0.08
   OR (len(g5) - len(list_distinct(g5))) * 1.0 / greatest(len(g5), 1) > 0.30)
  AS flagged
FROM base b LEFT JOIN agg2 USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Corpus pipeline stages: decontamination, mixture sampling, packing
# ---------------------------------------------------------------------------

# every 50th doc stands in for the held-out eval benchmark
_BENCH_PRED = "doc_id % 50 = 0"

_NGRAMS_8_SQL = (
    "list_transform(range(1, len(toks) - 6), "
    "i -> array_to_string(list_slice(toks, i, i + 7), ' '))"
)


def text_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram surprisal (perplexity-filter family):
    exact integer bit-length logs, outliers above 5.0 bits/token."""
    from genie_spark.analytics.text import lm_surprisal

    return lm_surprisal(_docs(spark, sf_dir), outlier_centibits=500)


LM_SURPRISAL_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
t AS (SELECT length(bin(count(*))) - 1 AS tbits FROM tok),
s AS (
  SELECT doc_id,
         CAST((SELECT tbits FROM t) - (length(bin(c)) - 1) AS BIGINT) AS bits
  FROM tok JOIN c USING (tok)
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(bits) AS BIGINT) AS total_bits,
       CAST((sum(bits) * 100) // count(*) AS BIGINT) AS bpt_centibits,
       ((sum(bits) * 100) // count(*)) >= 500 AS is_outlier
FROM s GROUP BY doc_id
"""


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 8-token-gram overlap of the corpus
    (doc_id % 50 != 0) against the benchmark split (doc_id % 50 == 0),
    benchmark side broadcast."""
    from genie_spark.analytics.corpus import decontaminate_ngram

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return decontaminate_ngram(corpus, bench, n=8, flag_threshold_bp=500)


DECONTAMINATE_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 8 THEN {_NGRAMS_8_SQL} ELSE [] END)) AS ngram
  FROM t
),
bench AS (SELECT DISTINCT ngram FROM g WHERE {_BENCH_PRED}),
corp AS (SELECT * FROM g WHERE NOT ({_BENCH_PRED})),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM corp JOIN bench USING (ngram) GROUP BY doc_id
),
perdoc AS (SELECT doc_id, count(*) AS n_ngrams FROM corp GROUP BY doc_id)
SELECT p.doc_id, n_ngrams,
       coalesce(n_contaminated, 0) AS n_contaminated,
       (coalesce(n_contaminated, 0) * 10000) // n_ngrams AS contamination_bp,
       (coalesce(n_contaminated, 0) > 0
        AND (coalesce(n_contaminated, 0) * 10000) // n_ngrams >= 500)
       AS is_contaminated
FROM perdoc p LEFT JOIN hits USING (doc_id)
"""


BLOOM_Q_M_BITS = 1 << 14
BLOOM_Q_K = 3


def corpus_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-memory decontamination: the benchmark split's 8-gram set
    is collapsed to a ≤2^14-row Bloom position set (bloom_build), the
    corpus probes it with an anti join — zero false negatives, Bloom-
    rate false positives.  m is deliberately small at this sf so the
    FP regime is actually exercised (flagged ⊇ exact contamination)."""
    from genie_spark.analytics.corpus import bloom_build, bloom_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    bloom = bloom_build(bench, n=8, m_bits=BLOOM_Q_M_BITS, k_hashes=BLOOM_Q_K)
    return bloom_decontaminate(
        corpus, bloom, n=8, m_bits=BLOOM_Q_M_BITS, k_hashes=BLOOM_Q_K,
        flag_threshold_bp=500,
    )


def _bloom_decontaminate_sql(
    m_bits: int = BLOOM_Q_M_BITS, k_hashes: int = BLOOM_Q_K
) -> str:
    """DuckDB mirror of bloom_build + bloom_decontaminate: identical
    md5-60bit seeded positions, anti join for missed positions,
    flagged = distinct n-grams − clean n-grams."""
    pos_list = ", ".join(
        f"CAST(('0x' || substr(md5(ngram), {1 + 8 * i}, 8)) AS BIGINT) "
        f"% {m_bits}"
        for i in range(k_hashes)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 8 THEN {_NGRAMS_8_SQL} ELSE [] END)) AS ngram
  FROM t
),
bench AS (SELECT DISTINCT ngram FROM g WHERE {_BENCH_PRED}),
bpos AS (
  SELECT DISTINCT pos FROM (
    SELECT unnest([{pos_list}]) AS pos FROM bench)
),
corp AS (SELECT doc_id, ngram FROM g WHERE NOT ({_BENCH_PRED})),
probes AS (
  SELECT DISTINCT doc_id, ngram, pos FROM (
    SELECT doc_id, ngram, unnest([{pos_list}]) AS pos FROM corp)
),
clean AS (
  SELECT doc_id,
         count(DISTINCT CAST(('0x' || substr(md5(ngram), 1, 15)) AS BIGINT))
           AS n_clean
  FROM probes ANTI JOIN bpos USING (pos)
  GROUP BY doc_id
),
perdoc AS (SELECT doc_id, count(*) AS n_ngrams FROM corp GROUP BY doc_id)
SELECT p.doc_id, n_ngrams,
       n_ngrams - coalesce(n_clean, 0) AS n_flagged,
       ((n_ngrams - coalesce(n_clean, 0)) * 10000) // n_ngrams AS flagged_bp,
       ((n_ngrams - coalesce(n_clean, 0)) > 0
        AND ((n_ngrams - coalesce(n_clean, 0)) * 10000) // n_ngrams >= 500)
       AS is_flagged
FROM perdoc p LEFT JOIN clean USING (doc_id)
"""


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-hash stratified sample: keep 50% of 'en'
    docs, 25% of every other language."""
    from genie_spark.analytics.corpus import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), strata_col="lang",
        fractions_bp={"en": 5_000}, default_bp=2_500,
    )


STRATIFIED_SAMPLE_SQL = """
SELECT * FROM (
  SELECT doc_id, text, lang, source, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10000 AS sample_bucket,
         CAST(CASE WHEN lang = 'en' THEN 5000 ELSE 2500 END AS BIGINT) AS keep_bp
  FROM documents
) WHERE sample_bucket < keep_bp
"""


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of each source's token stream into
    512-token training sequences."""
    from genie_spark.analytics.corpus import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512, group_col="source")


PACK_SEQUENCES_SQL = f"""
WITH t AS (SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
           FROM documents),
s AS (SELECT doc_id, source, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS start_offset,
        CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
        AS pos_in_group
      FROM t)
SELECT doc_id, source, n_tokens, start_offset,
       start_offset // 512 AS bin_id,
       pos_in_group,
       ((start_offset + n_tokens - 1) // 512) <> (start_offset // 512)
       AS straddles
FROM s
"""


def corpus_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (CCNet/Dolma paragraph dedup): split
    docs into 2-token windows (this corpus has no newline structure;
    real corpora pass delimiter='\\n\\n'), keep the first corpus-wide
    occurrence of each distinct passage, reassemble."""
    from genie_spark.analytics.corpus import passage_dedup

    return passage_dedup(_docs(spark, sf_dir), n_tokens=2)


PASSAGE_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
p0 AS (
  SELECT doc_id,
    list_transform(range(1, CAST(ceil(len(toks) / 2.0) AS BIGINT) + 1),
      i -> struct_pack(
        pos := CAST(i - 1 AS INT),
        passage := array_to_string(
          list_slice(toks, (i - 1) * 2 + 1, (i - 1) * 2 + 2), ' ')))
      AS chunks
  FROM t WHERE len(toks) > 0
),
pu AS (SELECT doc_id, unnest(chunks) AS c FROM p0),
p AS (SELECT doc_id, c.pos AS pos, c.passage AS passage FROM pu),
h AS (
  SELECT doc_id, pos, passage,
         row_number() OVER (
           PARTITION BY md5(passage) ORDER BY doc_id, pos) AS rn
  FROM p
)
SELECT doc_id, count(*) AS n_passages,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(
         string_agg(CASE WHEN rn = 1 THEN passage END, ' ' ORDER BY pos),
         '') AS cleaned_text
FROM h GROUP BY doc_id
"""


SPLIT_SHARDS = 8


def corpus_split_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split + shard-major epoch
    shuffle order (md5-keyed; stable under corpus growth)."""
    from genie_spark.analytics.corpus import train_split_shuffle

    return train_split_shuffle(_docs(spark, sf_dir), n_shards=SPLIT_SHARDS)


SPLIT_SHUFFLE_SQL = f"""
WITH s AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10000 AS u,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shard'), 1, 8))
           AS BIGINT) % {SPLIT_SHARDS} AS shard,
         md5(CAST(doc_id AS VARCHAR) || '|shuffle') AS sk
  FROM documents
),
t AS (
  SELECT doc_id,
         CASE WHEN u < 9000 THEN 'train'
              WHEN u < 9500 THEN 'val' ELSE 'test' END AS split,
         shard, sk
  FROM s
)
SELECT doc_id, split, shard,
       CAST(row_number() OVER (PARTITION BY split, shard ORDER BY sk, doc_id)
            AS BIGINT) AS shuffle_rank
FROM t
"""


def corpus_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81 repeat-aware epoch budgeting (Muennighoff et al. 2023
    data-constrained scaling): greedy integer water-filling of
    (domain, epoch) candidates under a token budget of 1.5× the
    corpus — exact milli-utility, pinned (weight DESC, tokens ASC,
    domain ASC) order, X36 greedy-prefix admission."""
    from genie_spark.analytics.corpus import epoch_allocation

    docs = _docs(spark, sf_dir)
    total = int(
        docs.where(F.col("source").isNotNull() & F.col("text").isNotNull())
        .select(F.sum(F.size(_toks_col())).cast("long").alias("t"))
        .first()["t"]
    )
    return epoch_allocation(docs, (total * 3) // 2)


def _toks_col():
    from genie_spark.analytics.text import tokens

    return tokens("text")


EPOCH_ALLOC_SQL = f"""
WITH d AS (
  SELECT source AS domain, CAST(sum(len({_TOKS})) AS BIGINT) AS u
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
  GROUP BY source
),
bud AS (SELECT (sum(u) * 3) // 2 AS b FROM d),
w(epoch, w_milli) AS (VALUES (1, 1000), (2, 700), (3, 500), (4, 300)),
cand AS (SELECT domain, u, epoch, CAST(w_milli AS BIGINT) AS w_milli
         FROM d CROSS JOIN w),
cum AS (
  SELECT domain, u, epoch, w_milli,
         coalesce(sum(u) OVER (
             ORDER BY w_milli DESC, u ASC, domain ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM cand
)
SELECT domain, u AS unique_tokens,
       CAST(sum(CASE WHEN cum_before < (SELECT b FROM bud)
                     THEN 1 ELSE 0 END) AS BIGINT) AS epochs,
       CAST(sum(CASE WHEN cum_before < (SELECT b FROM bud)
                     THEN 1 ELSE 0 END) * u AS BIGINT) AS tokens_used,
       CAST(sum(CASE WHEN cum_before < (SELECT b FROM bud)
                     THEN w_milli * u ELSE 0 END) AS BIGINT)
           AS utility_milli
FROM cum GROUP BY domain, u
"""


def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80 dedup-aware split: MinHash near-dup components are assigned
    to train/val/test as a UNIT via the md5 hash of the component
    representative — near-copies can never straddle train and eval
    (the GPT-3 overlap-appendix / C4 contamination failure mode)."""
    from genie_spark.analytics.corpus import leakage_safe_split

    docs = _docs(spark, sf_dir)
    pairs = minhash_dedup_pairs(
        docs, k=20, n_perm=16, bands=4, threshold=0.5
    )
    # r14 (VERDICT watch item): materialize the pair scan ONCE — the
    # components loop and the final corpus join then iterate over the
    # tiny checkpointed pair table instead of replaying the MinHash
    # lineage per materialization
    return leakage_safe_split(docs, pairs.localCheckpoint(eager=True))


def corpus_leakage_split_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80+X82 store-fed split (VERDICT r13 item 5): the pair stream
    is sharded into three "ingest batches" (pair lhs mod 3 — a
    deterministic stand-in for arrival order), each batch reduced to
    its node-sized component map exactly as ``components_stream``
    shards do, the maps merged by the X82 merge law (components over
    the union of node→root edges == components over the union of the
    original edge streams), and the merged map fed to
    ``leakage_safe_split(components=...)`` — the rolling-ingest
    contract a release pipeline depends on, now driver-checked
    end-to-end against a recursive-CTE oracle over the same shard
    decomposition."""
    from genie_spark.analytics.corpus import leakage_safe_split
    from genie_spark.analytics.dedup import connected_components
    from genie_spark.streaming.windows import _components_store_merge

    docs = _docs(spark, sf_dir)
    pairs = minhash_dedup_pairs(
        docs, k=20, n_perm=16, bands=4, threshold=0.5
    ).localCheckpoint(eager=True)
    # all three shard maps in ONE components pass over the DISJOINT
    # UNION graph: tag each shard's nodes as node*4 + shard (components
    # of a disjoint union are the per-shard components, and min over
    # node*4+shard for a fixed shard is (min node)*4+shard, so
    # untagging with div 4 recovers each shard's own min-label map) —
    # one iterative loop instead of one per batch; ids must stay below
    # 2**61, which the doc-id domain satisfies by construction
    shard = F.pmod(F.col("a"), F.lit(3))
    tagged = pairs.select(
        (F.col("a") * 4 + shard).alias("a"),
        (F.col("b") * 4 + shard).alias("b"),
    )
    store = connected_components(tagged).select(
        # integer div, never floor(x/4): long / long is DOUBLE division
        # in Spark (53-bit mantissa), which silently corrupts ids past
        # ~2^52 — r14 code-review finding
        F.expr("node div 4").alias("node"),
        F.expr("cluster_id div 4").alias("cluster_id"),
    )
    merged = _components_store_merge(store)
    return leakage_safe_split(docs, components=merged)


def _leakage_split_store_sql() -> str:
    """DuckDB mirror of the store-fed split: per shard a recursive
    min-label components CTE over that shard's pairs (the shard's
    component MAP), then recursive components over the UNION of the
    three maps' node→root edges — the X82 merge law — then the same
    md5 split rule as the inline form."""
    shard_ctes = []
    for i in range(3):
        shard_ctes.append(
            f"""e{i} AS MATERIALIZED (
  SELECT a AS x, b AS y FROM pairs WHERE a % 3 = {i}
  UNION
  SELECT b AS x, a AS y FROM pairs WHERE a % 3 = {i}
),
r{i}(node, label) AS (
    SELECT x, x FROM e{i}
  UNION
    SELECT e.x, r.label FROM e{i} e JOIN r{i} r ON e.y = r.node
),
m{i} AS (SELECT node, min(label) AS root FROM r{i} GROUP BY node)"""
        )
    return (
        # pairs is referenced twice per shard (6x total): without
        # MATERIALIZED DuckDB re-evaluates the whole MinHash subquery
        # per reference (measured 27 s -> sub-second at sf0.01)
        "WITH RECURSIVE pairs AS MATERIALIZED ({minhash}),\n"
        + ",\n".join(shard_ctes)
        + """,
store AS MATERIALIZED (
  SELECT node, root FROM m0
  UNION ALL SELECT node, root FROM m1
  UNION ALL SELECT node, root FROM m2
),
se AS MATERIALIZED (
  SELECT node AS x, root AS y FROM store
  UNION
  SELECT root AS x, node AS y FROM store
),
sreach(node, label) AS (
    SELECT x, x FROM se
  UNION
    SELECT e.x, r.label FROM se e JOIN sreach r ON e.y = r.node
),
comp AS (SELECT node, min(label) AS cluster_id FROM sreach GROUP BY node),
rep AS (
  SELECT d.doc_id,
         CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS rep_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, rep_id,
       CASE WHEN CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < 9000 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM rep
"""
    )


LEAKAGE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS ({{minhash}}),
edges AS (
  SELECT a AS x, b AS y FROM pairs
  UNION
  SELECT b AS x, a AS y FROM pairs
),
reach(node, label) AS (
    SELECT x, x FROM edges
  UNION
    SELECT e.x, r.label FROM edges e JOIN reach r ON e.y = r.node
),
comp AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
rep AS (
  SELECT d.doc_id,
         CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS rep_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, rep_id,
       CASE WHEN CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < 9000 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM rep
"""


def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: MinHash near-dup components,
    keep the member with the most tokens (most complete copy; tie →
    lowest id), list the rest for removal."""
    from genie_spark.analytics.dedup import quality_survivor_drop_list
    from genie_spark.analytics.text import tokens

    docs = _docs(spark, sf_dir)
    pairs = minhash_dedup_pairs(docs, k=20, n_perm=16, bands=4, threshold=0.5)
    scores = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("score")
    )
    return quality_survivor_drop_list(pairs, scores, score_col="score")


def _quality_survivors_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
  SELECT a AS x, b AS y FROM pairs
  UNION
  SELECT b AS x, a AS y FROM pairs
),
reach(node, label) AS (
    SELECT x, x FROM edges
  UNION
    SELECT e.x, r.label FROM edges e JOIN reach r ON e.y = r.node
),
comp AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
scores AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS score FROM documents),
best AS (
  SELECT cluster_id, node AS survivor_id FROM (
    SELECT c.cluster_id, c.node,
           row_number() OVER (
             PARTITION BY c.cluster_id
             ORDER BY coalesce(-s.score, 4611686018427387904), c.node) AS rn
    FROM comp c LEFT JOIN scores s ON s.doc_id = c.node
  ) WHERE rn = 1
)
SELECT c.node AS drop_id, c.cluster_id, b.survivor_id
FROM comp c JOIN best b USING (cluster_id)
WHERE c.node <> b.survivor_id
"""


# ---------------------------------------------------------------------------
# Embedding clustering (iterative k-means, oracle via unrolled CTEs)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_DIM = 64


def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embeddings: k smallest
    (md5(id), id) init (content-independent — VERDICT r7), exact
    integer squared-Euclidean assignment, floor-mean update, fixed
    iteration count — the oracle unrolls the identical steps as a CTE
    chain."""
    from genie_spark.analytics.clustering import kmeans_assign

    return kmeans_assign(_emb(spark, sf_dir), k=KMEANS_K, iters=KMEANS_ITERS)


def _kmeans_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS, dim: int = KMEANS_DIM) -> str:
    """Unrolled Lloyd iterations: d{i} distances, a{i} assignment,
    s{i} per-dimension floor-means, c{i} new centroids (empty cluster
    keeps the old one via LEFT JOIN + coalesce) — generated from the
    same (k, iters) constants the Spark side runs, so the engines
    cannot drift."""
    d2 = (
        "CAST(list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.v)"
        " + list_dot_product(c.v, c.v) AS BIGINT)"
    )
    parts = [
        f"q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid, v
  FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h, v FROM q
        WHERE len(list_filter(v, x -> x IS NULL)) = 0
        ORDER BY h, vec_id LIMIT {k}))""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""d{i} AS (
  SELECT q.vec_id, c.cid, {d2} AS d2
  FROM q CROSS JOIN c{i - 1} c)"""
        )
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d{i}) WHERE rn = 1)"""
        )
        parts.append(
            f"""s{i} AS (
  SELECT a.cid, t.j, CAST(floor(sum(q.v[t.j]) * 1.0 / count(*)) AS BIGINT) AS m
  FROM a{i} a JOIN q USING (vec_id), range(1, {dim + 1}) t(j)
  GROUP BY a.cid, t.j)"""
        )
        parts.append(
            f"""c{i} AS (
  SELECT c.cid, coalesce(nv.nvv, c.v) AS v
  FROM c{i - 1} c LEFT JOIN
    (SELECT cid, list(m ORDER BY j) AS nvv FROM s{i} GROUP BY cid) nv
    USING (cid))"""
        )
    parts.append(
        f"""df AS (
  SELECT q.vec_id, c.cid, {d2} AS d2
  FROM q CROSS JOIN c{iters} c)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT vec_id, cid AS cluster_id, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM df) WHERE rn = 1"""
    )


CLUSTER_SAMPLE_TARGET = 50


def cluster_balanced_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-balanced downsampling: k-means cells,
    keep each member of an over-represented cell with md5-deterministic
    probability target/|cell|."""
    from genie_spark.analytics.clustering import cluster_balanced_sample

    return cluster_balanced_sample(
        _emb(spark, sf_dir),
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        target_per_cluster=CLUSTER_SAMPLE_TARGET,
    )


def _cluster_sample_sql() -> str:
    return f"""
WITH asg AS ({_kmeans_sql()}),
sizes AS (SELECT cluster_id, count(*) AS n FROM asg GROUP BY cluster_id)
SELECT vec_id, cluster_id, sample_bucket, keep_bp FROM (
  SELECT a.vec_id, a.cluster_id,
         CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10000 AS sample_bucket,
         CAST(least(10000,
           CAST(floor({CLUSTER_SAMPLE_TARGET} * 10000 * 1.0 / s.n) AS BIGINT))
           AS BIGINT) AS keep_bp
  FROM asg a JOIN sizes s USING (cluster_id)
) WHERE sample_bucket < keep_bp
"""


SEMDEDUP_PLANES = 4
SEMDEDUP_TABLES = 4


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup drop list via the DEFAULT (100 TB) candidate path:
    a pair is compared iff it shares a Lloyd cell AND a banded
    sign-LSH bucket (4 tables × 4 planes); cosine > 0.35 on the
    quantized vectors, drop-if-any-smaller-id-neighbor.  Third
    candidate geometry after MinHash bands and IVF cells."""
    from genie_spark.analytics.clustering import semantic_dedup

    return semantic_dedup(
        _emb(spark, sf_dir),
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        threshold=0.35,
        candidates="lsh",
        n_planes=SEMDEDUP_PLANES,
        n_tables=SEMDEDUP_TABLES,
    )


def _dedup_semantic_sql(
    n_planes: int = SEMDEDUP_PLANES, n_tables: int = SEMDEDUP_TABLES
) -> str:
    """DuckDB mirror of the default semantic_dedup path: unrolled
    Lloyd clustering + the same banded sign signatures, candidates =
    UNION (distinct) of per-table self-joins on (cluster_id, bucket),
    exact quantized-cosine verify, drop-if-any-smaller-id-neighbor."""
    sig_cols = ",\n       ".join(
        f"CAST({_sign_bucket_sql(n_planes, 1 + t * n_planes)} AS BIGINT) AS b{t}"
        for t in range(n_tables)
    )
    table_joins = "\nUNION\n".join(
        f"SELECT x.vec_id AS a, y.vec_id AS b FROM m x JOIN m y "
        f"ON x.cluster_id = y.cluster_id AND x.b{t} = y.b{t} "
        f"AND x.vec_id < y.vec_id"
        for t in range(n_tables)
    )
    return f"""
WITH asg AS ({_kmeans_sql()}),
q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
sigs AS (SELECT vec_id,
       {sig_cols}
  FROM q),
m AS (SELECT s.vec_id, a.cluster_id,
             {", ".join(f"s.b{t}" for t in range(n_tables))}
      FROM sigs s JOIN asg a USING (vec_id)),
cand AS (
{table_joins}
),
n AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM q),
p AS (
  SELECT c.a, c.b,
         CAST(list_dot_product(x.v, y.v) AS BIGINT)
           / (sqrt(x.nn) * sqrt(y.nn)) AS cosine
  FROM cand c JOIN n x ON x.vec_id = c.a JOIN n y ON y.vec_id = c.b
)
SELECT b AS vec_id, min(a) AS kept_witness, max(cosine) AS max_cosine
FROM p WHERE cosine > 0.35 GROUP BY b
"""


DEDUP_SEMANTIC_SQL = _dedup_semantic_sql()


SKETCH_KMV_K = 64


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV distinct-text sketch (k = 64): the mergeable
    distinct-count artifact.  The registered projection drops the
    ``kmin`` array (engines render arrays differently) and keeps the
    scalar sketch state: k-th smallest hash + the deterministic
    Beyer-et-al estimate."""
    from genie_spark.analytics.sketches import kmv_sketch

    sk = kmv_sketch(_docs(spark, sf_dir), "source", "text", k=SKETCH_KMV_K)
    # try_element_at: a group with < k distinct values has a short kmin
    # array — kth_min is null there and est_distinct is the exact count
    return sk.select(
        "source",
        "n_seen",
        F.try_element_at("kmin", F.lit(SKETCH_KMV_K)).alias("kth_min"),
        "est_distinct",
    )


SKETCH_KMV_SQL = f"""
WITH h AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM h
),
s AS (
  SELECT source, list(h ORDER BY h) AS kmin, count(*) AS n_seen
  FROM r WHERE rn <= {SKETCH_KMV_K} GROUP BY source
)
SELECT source, n_seen,
       CASE WHEN n_seen >= {SKETCH_KMV_K} THEN kmin[{SKETCH_KMV_K}] END AS kth_min,
       CASE WHEN n_seen < {SKETCH_KMV_K} THEN CAST(n_seen AS DOUBLE)
            ELSE {float(SKETCH_KMV_K - 1)} * {float(1 << 60)}
                   / CAST(kmin[{SKETCH_KMV_K}] AS DOUBLE)
       END AS est_distinct
FROM s
"""


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source VOCABULARY overlap estimated from KMV sketches alone:
    sketch each source's distinct-token set (k = 64), then pairwise
    Jaccard / intersection estimates over the groups²-row sketch
    table — the cross-release/source content-overlap question answered
    without an all-pairs join on raw data."""
    from genie_spark.analytics.sketches import kmv_jaccard_pairs, kmv_sketch
    from genie_spark.analytics.text import tokens

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    sk = kmv_sketch(toks, "source", "tok", k=SKETCH_KMV_K)
    return kmv_jaccard_pairs(sk, "source", k=SKETCH_KMV_K)


SKETCH_JACCARD_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(CAST(tok AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM tok
),
r AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM h
),
s AS (
  SELECT source, list(h ORDER BY h) AS kmin
  FROM r WHERE rn <= {SKETCH_KMV_K} GROUP BY source
),
p AS (
  SELECT sa.source AS a, sb.source AS b, sa.kmin AS ak, sb.kmin AS bk,
         (list_sort(list_distinct(list_concat(sa.kmin, sb.kmin))))[1:{SKETCH_KMV_K}] AS uk
  FROM s sa JOIN s sb ON sa.source < sb.source
),
m AS (
  SELECT a, b,
         CAST(len(list_intersect(list_intersect(uk, ak), bk)) AS BIGINT) AS n_common,
         CAST(len(uk) AS BIGINT) AS n_union_k,
         uk
  FROM p
)
SELECT a, b, n_common, n_union_k,
       CAST(n_common AS DOUBLE) / CAST(n_union_k AS DOUBLE) AS jaccard_est,
       (CAST(n_common AS DOUBLE) / CAST(n_union_k AS DOUBLE)) *
         (CASE WHEN n_union_k < {SKETCH_KMV_K} THEN CAST(n_union_k AS DOUBLE)
               ELSE {float(SKETCH_KMV_K - 1)} * {float(1 << 60)}
                      / CAST(uk[{SKETCH_KMV_K}] AS DOUBLE)
          END) AS est_intersection
FROM m
"""


def sketch_kmv_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83 rung: directional containment estimates |A∩B|/|A| from the
    per-source token sketches — the decontamination question proper,
    which symmetric Jaccard understates when the corpus dwarfs the
    eval set."""
    from genie_spark.analytics.sketches import (
        kmv_containment_pairs,
        kmv_sketch,
    )
    from genie_spark.analytics.text import tokens

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    sk = kmv_sketch(toks, "source", "tok", k=SKETCH_KMV_K)
    return kmv_containment_pairs(sk, "source", k=SKETCH_KMV_K)


def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83 KMV set algebra: per source pair, union / intersection /
    both set-difference estimates from the sketches alone — the
    release-over-release new/dropped-content question, never touching
    raw data."""
    from genie_spark.analytics.sketches import kmv_set_ops, kmv_sketch
    from genie_spark.analytics.text import tokens

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    sk = kmv_sketch(toks, "source", "tok", k=SKETCH_KMV_K)
    return kmv_set_ops(sk, "source", k=SKETCH_KMV_K)


SKETCH_SETOPS_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(CAST(tok AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM tok
),
r AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM h
),
s AS (
  SELECT source, list(h ORDER BY h) AS kmin,
         CAST(count(*) AS BIGINT) AS n_seen
  FROM r WHERE rn <= {SKETCH_KMV_K} GROUP BY source
),
e AS (
  SELECT source, kmin, n_seen,
         CASE WHEN n_seen < {SKETCH_KMV_K} THEN CAST(n_seen AS DOUBLE)
              ELSE {float(SKETCH_KMV_K - 1)} * {float(1 << 60)}
                     / CAST(kmin[{SKETCH_KMV_K}] AS DOUBLE)
         END AS est
  FROM s
),
p AS (
  SELECT ea.source AS a, eb.source AS b, ea.est AS est_a, eb.est AS est_b,
         (list_sort(list_distinct(list_concat(ea.kmin, eb.kmin))))
             [1:{SKETCH_KMV_K}] AS uk,
         ea.kmin AS ak, eb.kmin AS bk
  FROM e ea JOIN e eb ON ea.source < eb.source
),
m AS (
  SELECT a, b, est_a, est_b,
         CAST(len(list_intersect(list_intersect(uk, ak), bk)) AS BIGINT)
             AS n_common,
         CAST(len(uk) AS BIGINT) AS n_union_k, uk
  FROM p
),
f AS (
  SELECT a, b, est_a, est_b,
         CASE WHEN n_union_k < {SKETCH_KMV_K} THEN CAST(n_union_k AS DOUBLE)
              ELSE {float(SKETCH_KMV_K - 1)} * {float(1 << 60)}
                     / CAST(uk[{SKETCH_KMV_K}] AS DOUBLE)
         END AS est_union,
         (CAST(n_common AS DOUBLE) / CAST(n_union_k AS DOUBLE)) *
           (CASE WHEN n_union_k < {SKETCH_KMV_K}
                 THEN CAST(n_union_k AS DOUBLE)
                 ELSE {float(SKETCH_KMV_K - 1)} * {float(1 << 60)}
                        / CAST(uk[{SKETCH_KMV_K}] AS DOUBLE)
            END) AS est_intersection
  FROM m
)
SELECT a, b, est_a, est_b, est_union, est_intersection,
       greatest(0.0, est_a - est_intersection) AS est_diff_ab,
       greatest(0.0, est_b - est_intersection) AS est_diff_ba
FROM f
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII scrub: typed placeholders + per-category counts,
    narrow plan.  The oracle SQL is GENERATED from the same
    PII_PATTERNS tuple the Spark side applies, so the two cannot
    drift."""
    from genie_spark.analytics.text import scrub_pii

    return scrub_pii(_docs(spark, sf_dir))


def _pii_scrub_sql() -> str:
    """Mirror of scrub_pii's count-then-replace staging: category i is
    counted on the text AFTER stages 0..i-1 replaced, so counts equal
    placeholders inserted (no double-counting of overlaps)."""
    from genie_spark.analytics.text import PII_PATTERNS

    cur = "text"
    count_exprs = []
    for name, pat, repl in PII_PATTERNS:
        count_exprs.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    counts = ",\n       ".join(count_exprs)
    return f"""
SELECT doc_id, {cur} AS scrubbed,
       {counts}
FROM documents
"""


def corpus_keep_list_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pre-training filter chain: quality + en-allowlist +
    Gopher repetition + LM surprisal, one verdict per doc with
    per-stage reason flags.  The oracle composes the SAME four
    component SQL strings (each independently oracle-exact) as CTEs,
    so chain and components cannot drift."""
    from genie_spark.analytics.corpus import corpus_keep_list

    return corpus_keep_list(
        _docs(spark, sf_dir), allowed_langs=("en",), surprisal_centibits=500
    )


def _keep_list_sql() -> str:
    return f"""
WITH q AS ({TEXT_QUALITY_SQL}),
l AS ({LANG_ID_SQL}),
r AS ({REPETITION_SQL}),
s AS ({LM_SURPRISAL_SQL}),
ids AS (SELECT doc_id FROM documents)
SELECT ids.doc_id,
       coalesce(q.passes_quality, false) AS quality_ok,
       coalesce(l.pred_lang IN ('en'), false) AS lang_ok,
       NOT coalesce(r.flagged, false) AS repetition_ok,
       NOT coalesce(s.is_outlier, true) AS surprisal_ok,
       (coalesce(q.passes_quality, false)
        AND coalesce(l.pred_lang IN ('en'), false)
        AND NOT coalesce(r.flagged, false)
        AND NOT coalesce(s.is_outlier, true)) AS keep
FROM ids
LEFT JOIN q USING (doc_id)
LEFT JOIN l USING (doc_id)
LEFT JOIN r USING (doc_id)
LEFT JOIN s USING (doc_id)
"""


CHUNK_WINDOW = 64
CHUNK_STRIDE = 48


def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (64-token windows, stride
    48): the retrieval/long-doc primitive — narrow explode plan, zero
    shuffles."""
    from genie_spark.analytics.corpus import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), window=CHUNK_WINDOW, stride=CHUNK_STRIDE
    )


CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE text IS NOT NULL
),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
o AS (
  SELECT doc_id, toks, unnest(range(0, n, {CHUNK_STRIDE})) AS chunk_start
  FROM n
)
SELECT doc_id,
       CAST(chunk_start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       array_to_string(toks[chunk_start + 1 : chunk_start + {CHUNK_WINDOW}], ' ')
         AS chunk_text,
       CAST(len(toks[chunk_start + 1 : chunk_start + {CHUNK_WINDOW}]) AS BIGINT)
         AS n_tokens
FROM o
"""


QUANTILE_SAMPLE_BP = 1_000  # 10% md5 sample


def sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles from a deterministic 10%
    md5 sample — the reproducible approximate-quantile pattern (only
    the sample sorts per group; rank selection is index arithmetic, no
    interpolation floats)."""
    from genie_spark.analytics.sketches import sampled_quantiles

    return sampled_quantiles(
        _docs(spark, sf_dir),
        group_col="source",
        value_col="n_chars",
        id_col="doc_id",
        qs=(0.25, 0.5, 0.75, 0.95),
        sample_bp=QUANTILE_SAMPLE_BP,
    )


SKETCH_QUANTILES_SQL = f"""
WITH s AS (
  SELECT source, n_chars FROM documents
  WHERE n_chars IS NOT NULL
    AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < {QUANTILE_SAMPLE_BP}
),
r AS (
  SELECT source, n_chars AS v,
         row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn
  FROM s
),
c AS (SELECT source, max(rn) AS n_sample FROM r GROUP BY source),
t AS (
  SELECT c.source, CAST(q.q AS DOUBLE) AS q, c.n_sample,
         CAST(floor(CAST(q.q AS DOUBLE) * (c.n_sample - 1)) + 1 AS INT) AS target_rn
  FROM c CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) q(q)
)
SELECT t.source, t.q, r.v AS quantile_value, t.n_sample
FROM r JOIN t ON r.source = t.source AND r.rn = t.target_rn
"""


QS_K_MAX = 1_024
QS_PHIS = (250, 500, 750, 900)


def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 mergeable quantile sketch (deterministic md5 level-sampling,
    the KLL-family compactor): sketch lineitem's extended-price cents
    at k_max=1024, estimate the 25/50/75/90 quantiles from the
    artifact, and audit each estimate's EXACT rank error against the
    corpus — the one-pass corpus audit the no-silent-approximation
    discipline requires."""
    from genie_spark.analytics.sketches import (
        quantile_level_sketch,
        quantile_sketch_estimates,
    )

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # hash, not round-robin: skips sort-before-repartition (_docs)
        .repartition(
            spark.sparkContext.defaultParallelism,
            F.col("l_orderkey"), F.col("l_linenumber"),
        )
    )
    items = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.concat_ws(
            "_", F.col("l_orderkey"), F.col("l_linenumber")
        ).alias("item_key"),
    )
    sk = quantile_level_sketch(items, "cents", "item_key", k_max=QS_K_MAX)
    est = quantile_sketch_estimates(sk, phis_milli=QS_PHIS)
    audit = (
        items.crossJoin(F.broadcast(est.select("phi_milli", "est_value")))
        .groupBy("phi_milli")
        .agg(
            F.sum(
                F.when(F.col("cents") < F.col("est_value"), 1).otherwise(0)
            )
            .cast("long")
            .alias("rank_lo"),
            F.sum(
                F.when(F.col("cents") <= F.col("est_value"), 1).otherwise(0)
            )
            .cast("long")
            .alias("rank_hi"),
        )
    )
    out = est.join(audit, "phi_milli")
    err = (
        F.when(
            F.col("target_rank") > F.col("rank_hi"),
            F.col("target_rank") - F.col("rank_hi"),
        )
        .when(
            F.col("target_rank") <= F.col("rank_lo"),
            F.col("rank_lo") + 1 - F.col("target_rank"),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return out.select(
        "phi_milli",
        "n_items",
        "level",
        "k_kept",
        "target_rank",
        "est_value",
        err.alias("rank_err"),
        (err * 10 <= F.col("n_items")).alias("within_bound"),
    )


SKETCH_KLL_SQL = f"""
WITH it AS (
  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
         CAST(l_orderkey AS VARCHAR) || '_' ||
           CAST(l_linenumber AS VARCHAR) AS key
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
hx AS (
  SELECT v,
         CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) AS h60
  FROM it
),
tzt AS (
  SELECT v, h60,
         CASE WHEN h60 = 0 THEN 60
              ELSE CAST(length(bin(h60 & (-h60))) - 1 AS BIGINT)
         END AS tz
  FROM hx
),
hist AS (SELECT tz, count(*) AS c FROM tzt GROUP BY tz),
lvl AS (
  SELECT CAST(min(L) AS BIGINT) AS level FROM (
    SELECT ls.L,
           (SELECT coalesce(sum(c), 0) FROM hist WHERE tz >= ls.L) AS cnt
    FROM (SELECT unnest(range(0, 61)) AS L) ls
  ) WHERE cnt <= {QS_K_MAX}
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM tzt),
kept AS (
  SELECT v, h60,
         CAST(row_number() OVER (ORDER BY v, h60) AS BIGINT) AS rk
  FROM tzt, lvl WHERE tzt.tz >= lvl.level
),
kc AS (SELECT CAST(count(*) AS BIGINT) AS k_kept FROM kept),
phis AS (SELECT CAST(unnest([{", ".join(str(p) for p in QS_PHIS)}]) AS BIGINT)
                AS phi_milli),
t AS (
  SELECT phi_milli, n_items, level, k_kept,
         greatest(1, (phi_milli * n_items) // 1000) AS target_rank
  FROM phis, n, lvl, kc
),
sel AS (
  SELECT t.*,
         least(k_kept,
               greatest(1, (target_rank + (1 << level) - 1) // (1 << level)))
           AS rk_sel
  FROM t
),
est AS (
  SELECT sel.phi_milli, sel.n_items, sel.level, sel.k_kept,
         CAST(sel.target_rank AS BIGINT) AS target_rank,
         kept.v AS est_value
  FROM sel JOIN kept ON kept.rk = sel.rk_sel
),
audit AS (
  SELECT e.phi_milli,
         (SELECT count(*) FROM tzt WHERE tzt.v < e.est_value) AS rank_lo,
         (SELECT count(*) FROM tzt WHERE tzt.v <= e.est_value) AS rank_hi
  FROM est e
),
fin AS (
  SELECT est.*,
         CAST(CASE WHEN target_rank > rank_hi THEN target_rank - rank_hi
                   WHEN target_rank <= rank_lo THEN rank_lo + 1 - target_rank
                   ELSE 0 END AS BIGINT) AS rank_err
  FROM est JOIN audit USING (phi_milli)
)
SELECT phi_milli, n_items, level, k_kept, target_rank, est_value, rank_err,
       (rank_err * 10 <= n_items) AS within_bound
FROM fin
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas path, oracle-checked)
# ---------------------------------------------------------------------------

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over a binary
    column (documents' text encoded as bytes stands in for media
    payloads; the decode is the deterministic stub).  Verifies the
    whole Pandas-UDF plumbing — schema, batching, binary transport —
    against a SQL oracle on sha256/byte-length."""
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
    )
    return extract_features(media).select("media_id", "n_bytes", "content_sha")


MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(('0x' || substr(sha256(text), 1, 6)) AS INT) AS content_sha
FROM documents
"""


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual near-dup (X39): synthesize one 8×8 PGM image
    per document from an md5 pixel chain — every ``doc_id % 8 == 7``
    document reuses its predecessor's pixels with the LAST HEX NIBBLE
    zeroed (a one-pixel brightness nudge → Hamming-near average
    hashes) — then run the REAL pipeline: ``image_ahash`` decodes the
    PGM binaries via the stdlib parser inside mapInPandas and
    ``hamming_near_dup_pairs`` finds pairs within 3 bits by exact
    pigeonhole banding.  The oracle derives the pixels straight from
    the same md5 hex (it cannot parse PGM; the binary decode is
    pinned Spark-side by the multimodal pytest suite) and unrolls the
    identical integer hash/band/popcount arithmetic."""
    from genie_spark.analytics.dedup import hamming_near_dup_pairs
    from genie_spark.analytics.multimodal import image_ahash

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(b"P5\n8 8\n255\n"), F.unhex(synth_media_hex("img_", 4))
        ).alias("content"),
    )
    hashes = image_ahash(media)
    return hamming_near_dup_pairs(
        hashes, "media_id", "ahash", max_distance=3, n_bits=64
    )


def synth_media_hex(prefix: str, n_md5: int, id_col: str = "doc_id"):
    """The ONE md5 media-synthesis chain shared by the X39/X40 queries
    and tools/stress_scale's probes: ``n_md5`` concatenated md5s of
    ``<prefix><base_id>_<k>`` (pixels/samples are hex byte pairs),
    where every ``id % 8 == 7`` row reuses its predecessor's chain
    with the LAST HEX NIBBLE zeroed — a one-unit content nudge that
    plants Hamming-near fingerprints.  The DuckDB oracles unroll the
    identical arithmetic; changing this helper desynchronizes them, so
    change both together (code-review r8 deduplication)."""
    c = F.col(id_col)
    base = F.when(c % 8 == 7, c - 1).otherwise(c)
    chain = F.concat(
        *[
            F.md5(F.concat(F.lit(prefix), base.cast("string"), F.lit(f"_{k}")))
            for k in range(n_md5)
        ]
    )
    return F.when(
        c % 8 == 7,
        F.concat(F.substring(chain, 1, 32 * n_md5 - 1), F.lit("0")),
    ).otherwise(chain)


def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint near-dup (X40): synthesize one mono 16-bit
    PCM WAV clip (64 samples) per document from an md5 sample chain —
    every ``doc_id % 8 == 7`` document reuses its predecessor's
    samples with the LAST HEX NIBBLE zeroed (a one-sample nudge →
    Hamming-near energy fingerprints) — then run the REAL pipeline:
    ``audio_fingerprint`` parses the RIFF/fmt/data chunks via the
    stdlib WAV decoder inside mapInPandas (32 energy windows, strict
    e·32 > Σe bits) and ``hamming_near_dup_pairs`` finds pairs within
    3 bits.  The oracle derives the int16 samples straight from the
    same md5 hex (little-endian byte pairs) and unrolls the identical
    integer window-energy/band/popcount arithmetic."""
    import struct

    from genie_spark.analytics.dedup import hamming_near_dup_pairs
    from genie_spark.analytics.multimodal import audio_fingerprint

    perturbed = synth_media_hex("wav_", 8)
    n_bytes = 128  # 8 md5s → 64 int16 samples
    header = (
        b"RIFF" + struct.pack("<I", 36 + n_bytes) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", n_bytes)
    )
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(header), F.unhex(perturbed)).alias("content"),
    )
    fp = audio_fingerprint(media, n_windows=32)
    return hamming_near_dup_pairs(
        fp, "media_id", "afp", max_distance=3, n_bits=32
    )


def _audio_dedup_sql() -> str:
    """DuckDB mirror of multimodal_audio_dedup: same md5 sample chain
    and nibble perturbation, little-endian int16 samples, 2-sample
    window energies, strict e·32 > Σe bits (fingerprint is 32 bits —
    positive, no sign trick needed), identical 4×8-bit pigeonhole
    bands and popcount verify.  Sums CAST back to BIGINT (DuckDB
    HUGEINT widening — see _phash_dedup_sql)."""
    sample = (
        "CAST(('0x' || substr(px.hex, 4 * j.j + 1, 2)) AS BIGINT) "
        "+ 256 * CAST(('0x' || substr(px.hex, 4 * j.j + 3, 2)) AS BIGINT)"
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT media_id, afp, {i} AS band, "
        f"(afp >> {i * 8}) & 255 AS val FROM fps"
        for i in range(4)
    )
    return f"""
WITH base AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 8 = 7 THEN doc_id - 1 ELSE doc_id END AS b
  FROM documents
),
chain AS (
  SELECT media_id,
         {" || ".join(f"md5('wav_' || CAST(b AS VARCHAR) || '_{k}')" for k in range(8))}
           AS hex0
  FROM base
),
px AS (
  SELECT media_id,
         CASE WHEN media_id % 8 = 7
              THEN substr(hex0, 1, 255) || '0' ELSE hex0 END AS hex
  FROM chain
),
smp AS (
  SELECT px.media_id, j.j, {sample} AS raw
  FROM px, range(0, 64) j(j)
),
sv AS (
  SELECT media_id, j,
         CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
  FROM smp
),
win AS (
  SELECT media_id, j // 2 AS w, CAST(sum(v * v) AS BIGINT) AS e
  FROM sv GROUP BY media_id, j // 2
),
tot AS (SELECT media_id, CAST(sum(e) AS BIGINT) AS total
        FROM win GROUP BY media_id),
bits AS (
  SELECT w.media_id, w.w,
         CASE WHEN w.e * 32 > t.total THEN 1 ELSE 0 END AS bit
  FROM win w JOIN tot t USING (media_id)
),
fps AS (
  SELECT media_id,
         CAST(sum(bit * (CAST(1 AS BIGINT) << w)) AS BIGINT) AS afp
  FROM bits GROUP BY media_id
),
banded AS (
{bands}
),
pairs AS (
  SELECT DISTINCT x.media_id AS a, y.media_id AS b,
         bit_count(xor(x.afp, y.afp)) AS hamming
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.val = y.val AND x.media_id < y.media_id
)
SELECT a, b, hamming FROM pairs WHERE hamming <= 3
"""


def _phash_dedup_sql() -> str:
    """DuckDB mirror of multimodal_phash_dedup: same md5 pixel chain
    and nibble perturbation, pixel_j·64 > Σ pixels bits, signed-64
    two's-complement hash (bit 63 via an INT64_MIN add — DuckDB's
    checked arithmetic can't shift into the sign bit), identical
    4×16-bit pigeonhole bands and popcount verify."""
    pixel = "CAST(('0x' || substr(px.hex, 2 * j.j + 1, 2)) AS BIGINT)"
    bands = "\nUNION ALL\n".join(
        f"SELECT media_id, ahash, {i} AS band, "
        f"(ahash >> {i * 16}) & 65535 AS val FROM hashed"
        for i in range(4)
    )
    return f"""
WITH base AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 8 = 7 THEN doc_id - 1 ELSE doc_id END AS b
  FROM documents
),
chain AS (
  SELECT media_id,
         md5('img_' || CAST(b AS VARCHAR) || '_0') ||
         md5('img_' || CAST(b AS VARCHAR) || '_1') ||
         md5('img_' || CAST(b AS VARCHAR) || '_2') ||
         md5('img_' || CAST(b AS VARCHAR) || '_3') AS hex0
  FROM base
),
px AS (
  SELECT media_id,
         CASE WHEN media_id % 8 = 7
              THEN substr(hex0, 1, 127) || '0' ELSE hex0 END AS hex
  FROM chain
),
cells AS (
  SELECT px.media_id, j.j, {pixel} AS p
  FROM px, range(0, 64) j(j)
),
tot AS (SELECT media_id, sum(p) AS total FROM cells GROUP BY media_id),
bits AS (
  SELECT c.media_id, c.j,
         CASE WHEN c.p * 64 > t.total THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t USING (media_id)
),
hashed AS (
  -- CAST back to BIGINT: DuckDB sum() widens to HUGEINT, and
  -- bit_count(xor(...)) on INT128 counts 64 extra sign bits for
  -- negative hashes (66 instead of 2 — found the hard way)
  SELECT media_id,
         CAST(sum(CASE WHEN j < 63 THEN bit * (CAST(1 AS BIGINT) << j)
                       ELSE 0 END)
              + CASE WHEN max(CASE WHEN j = 63 THEN bit ELSE 0 END) = 1
                     THEN (-9223372036854775807 - 1) ELSE 0 END
              AS BIGINT) AS ahash
  FROM bits GROUP BY media_id
),
banded AS (
{bands}
),
pairs AS (
  SELECT DISTINCT x.media_id AS a, y.media_id AS b,
         bit_count(xor(x.ahash, y.ahash)) AS hamming
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.val = y.val AND x.media_id < y.media_id
)
SELECT a, b, hamming FROM pairs WHERE hamming <= 3
"""


CM_Q_WIDTH = 1 << 12
CM_Q_DEPTH = 3
CM_Q_PROBES = (
    "the", "a", "and", "of", "to", "in", "is", "it", "for", "on",
)


def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min token-frequency sketch (X35): build the mergeable
    (row, bucket, cnt) artifact over every token occurrence in the
    corpus, then estimate the frequency of a fixed probe-token set
    and join the exact counts — demonstrating the one-sided
    overestimate bound (``est_count ≥ true_count`` always;
    ``bound_holds`` is the per-probe witness)."""
    from genie_spark.analytics.sketches import count_min_lookup, count_min_sketch
    from genie_spark.analytics.text import tokens

    # two consumers (the sketch groupBy and the exact-truth join) —
    # localCheckpoint so the corpus token-explode scans once
    occurrences = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(F.explode(tokens("text")).alias("value"))
        .localCheckpoint(eager=True)
    )
    sketch = count_min_sketch(
        occurrences, "value", width=CM_Q_WIDTH, depth=CM_Q_DEPTH
    )
    probes = local_rows_df(spark, [(p,) for p in CM_Q_PROBES], "value string")
    est = count_min_lookup(
        sketch, probes, "value", width=CM_Q_WIDTH, depth=CM_Q_DEPTH
    )
    truth = (
        occurrences.join(F.broadcast(probes), "value")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        est.join(truth, "value", "left")
        .withColumn("true_count", F.coalesce("true_count", F.lit(0)))
        .select(
            "value",
            "est_count",
            "true_count",
            (F.col("est_count") >= F.col("true_count")).alias("bound_holds"),
        )
    )


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register-table distinct sketch (X38): per-source
    distinct-token estimate from the mergeable ≤2^p-register artifact,
    joined against the exact distinct count so the driver's hash pins
    BOTH the register arithmetic and the estimator (the oracle unrolls
    the identical top-bits/rank/harmonic-sum steps in exact integer
    math — no float log2, no ln)."""
    from genie_spark.analytics.sketches import hll_estimate, hll_sketch
    from genie_spark.analytics.text import tokens

    # two consumers (sketch build + exact-truth distinct) — one scan
    occ = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("source", F.explode(tokens("text")).alias("value"))
        .localCheckpoint(eager=True)
    )
    est = hll_estimate(hll_sketch(occ, "source", "value"), "source")
    exact = (
        occ.select("source", "value")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    return (
        est.join(exact, "source", "left")
        .withColumn("exact_distinct", F.coalesce("exact_distinct", F.lit(0)))
        .select("source", "n_reg", "est_distinct", "exact_distinct")
    )


def sketch_cm_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35 merge law, driver-hard (r15, the moments/KMV/HLL-sharded
    pattern completed for the fourth mergeable sketch family): three
    per-shard Count-Min tables (doc_id mod 3 — the streaming store's
    per-batch shape) merged by per-(row, bucket) cnt SUM
    (``count_min_merge``, associative+commutative), probe estimates
    read from the MERGED table — while the oracle computes the GLOBAL
    sketch directly, so value-hash equality IS the merge law checked
    end-to-end against DuckDB.  Same projection as
    ``sketch_count_min``."""
    from genie_spark.analytics.sketches import (
        count_min_lookup,
        count_min_merge,
        count_min_sketch,
    )
    from genie_spark.analytics.text import tokens

    occ = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokens("text")).alias("value"))
        .localCheckpoint(eager=True)
    )
    shards = [
        count_min_sketch(
            occ.where(F.pmod(F.col("doc_id"), F.lit(3)) == i),
            "value",
            width=CM_Q_WIDTH,
            depth=CM_Q_DEPTH,
        )
        for i in range(3)
    ]
    merged = count_min_merge(count_min_merge(shards[0], shards[1]), shards[2])
    probes = local_rows_df(spark, [(p,) for p in CM_Q_PROBES], "value string")
    est = count_min_lookup(
        merged, probes, "value", width=CM_Q_WIDTH, depth=CM_Q_DEPTH
    )
    truth = (
        occ.join(F.broadcast(probes), "value")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        est.join(truth, "value", "left")
        .withColumn("true_count", F.coalesce("true_count", F.lit(0)))
        .select(
            "value",
            "est_count",
            "true_count",
            (F.col("est_count") >= F.col("true_count")).alias("bound_holds"),
        )
    )


def sketch_hll_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38 merge law, driver-hard (r14, the sketch_moments_sharded
    pattern): three per-shard HLL register tables (doc_id mod 3 —
    the streaming store's per-batch shape) merged by per-(group, reg)
    max, the estimate derived from the MERGED registers — while the
    oracle computes the GLOBAL registers directly, so the value-hash
    equality IS the register merge law (max is associative and
    idempotent), checked end-to-end against DuckDB."""
    from genie_spark.analytics.sketches import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )
    from genie_spark.analytics.text import tokens

    occ = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", F.explode(tokens("text")).alias("value"))
        .localCheckpoint(eager=True)
    )
    shards = [
        hll_sketch(
            occ.where(F.pmod(F.col("doc_id"), F.lit(3)) == i),
            "source",
            "value",
        )
        for i in range(3)
    ]
    merged = hll_merge(hll_merge(shards[0], shards[1], "source"), shards[2], "source")
    est = hll_estimate(merged, "source")
    exact = (
        occ.select("source", "value")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    return (
        est.join(exact, "source", "left")
        .withColumn("exact_distinct", F.coalesce("exact_distinct", F.lit(0)))
        .select("source", "n_reg", "est_distinct", "exact_distinct")
    )


def sketch_kmv_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37 merge law, driver-hard: three per-shard KMV sketches merged
    (union hashes, re-take the k smallest) vs the oracle's GLOBAL
    computation — equality is the merge law, same projection as
    ``sketch_kmv_distinct``."""
    from genie_spark.analytics.sketches import kmv_merge, kmv_sketch

    docs = _docs(spark, sf_dir)
    shards = [
        kmv_sketch(
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i),
            "source",
            "text",
            k=SKETCH_KMV_K,
        )
        for i in range(3)
    ]
    merged = kmv_merge(
        shards[0].unionByName(shards[1]).unionByName(shards[2]),
        group_col="source",
        k=SKETCH_KMV_K,
    )
    return merged.select(
        "source",
        "n_seen",
        F.try_element_at("kmin", F.lit(SKETCH_KMV_K)).alias("kth_min"),
        "est_distinct",
    )


def _hll_sql(p: int = 10) -> str:
    """DuckDB mirror of hll_sketch + hll_estimate: same 60-bit md5
    hash, top-p register bits, base-2-string-length rank (DuckDB
    ``bin`` == Spark ``conv(x,10,2)``, both unpadded), max-merged
    registers, exact-integer harmonic sum, one literal-over-long
    divide."""
    m = 1 << p
    rho_bits = 60 - p
    rho_max = rho_bits + 1
    mask = (1 << rho_bits) - 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << rho_max)
    return f"""
WITH occ AS (
  SELECT source, unnest({_TOKS}) AS value
  FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT source,
         CAST(('0x' || substr(md5(CAST(value AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM occ WHERE value IS NOT NULL
),
rr AS (
  SELECT source, CAST(h >> {rho_bits} AS INT) AS reg,
         CAST(CASE WHEN (h & {mask}) = 0 THEN {rho_max}
              ELSE {rho_bits} - length(bin(h & {mask})) + 1 END AS INT) AS rho
  FROM h
),
sk AS (SELECT source, reg, max(rho) AS rho FROM rr GROUP BY source, reg),
agg AS (
  SELECT source, count(*) AS n_reg,
         sum(CAST(1 AS BIGINT) << ({rho_max} - rho)) AS s_seen
  FROM sk GROUP BY source
),
ex AS (SELECT source, count(DISTINCT value) AS exact_distinct
       FROM occ GROUP BY source)
SELECT a.source, a.n_reg,
       {numer!r} / CAST(a.s_seen + ({m} - a.n_reg) *
                        (CAST(1 AS BIGINT) << {rho_max}) AS DOUBLE)
         AS est_distinct,
       coalesce(ex.exact_distinct, 0) AS exact_distinct
FROM agg a LEFT JOIN ex USING (source)
"""


def _count_min_sql(width: int = CM_Q_WIDTH, depth: int = CM_Q_DEPTH) -> str:
    """DuckDB mirror of count_min_sketch + count_min_lookup: identical
    single-md5 8-hex-slice bucket arithmetic (the bloom idiom), exact
    integer counts, min-over-rows estimate with missing cells as 0."""
    probes = ", ".join(f"'{p}'" for p in CM_Q_PROBES)
    bucket = (
        "CAST(('0x' || substr(md5(value), 1 + 8 * r.row, 8)) AS BIGINT) "
        f"% {width}"
    )
    return f"""
WITH tok AS (
  SELECT unnest({_TOKS}) AS value FROM documents WHERE text IS NOT NULL
),
rows_i AS (SELECT unnest([{", ".join(str(i) for i in range(depth))}]) AS row),
sketch AS (
  SELECT r.row AS row, {bucket} AS bucket, count(*) AS cnt
  FROM tok, rows_i r GROUP BY 1, 2
),
probes AS (SELECT unnest([{probes}]) AS value),
ppos AS (
  SELECT value, r.row AS row, {bucket} AS bucket FROM probes, rows_i r
),
est AS (
  SELECT value, min(coalesce(cnt, 0)) AS est_count
  FROM ppos LEFT JOIN sketch USING (row, bucket) GROUP BY value
),
truth AS (SELECT value, count(*) AS true_count FROM tok GROUP BY value)
SELECT e.value, est_count, coalesce(true_count, 0) AS true_count,
       est_count >= coalesce(true_count, 0) AS bound_holds
FROM est e LEFT JOIN truth USING (value)
"""


TOKEN_BUDGET = 5_000


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted per-language corpus selection (X36): greedy-fill
    each language's deterministic shuffle order until the token budget
    is reached — the data-mixing primitive (per-domain token targets →
    concrete document set).  The binned two-pass implementation keeps
    whole hash-ranges map-side and sorts only the straddling bin; the
    kept set equals the naive global window the oracle runs."""
    from genie_spark.analytics.corpus import token_budget_select

    return token_budget_select(
        _docs(spark, sf_dir), budget=TOKEN_BUDGET, group_col="lang"
    )


TOKEN_BUDGET_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS h
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS tokens_before
  FROM t
)
SELECT doc_id, lang, n_tokens FROM c WHERE tokens_before < {TOKEN_BUDGET}
"""


def corpus_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement per source: priority
    sampling (Duffield-Lund-Thorup), k=5 largest w/u priorities with
    md5-uniform u and n_chars weights, plus the max(w, tau) subset-sum
    estimator (X42)."""
    from genie_spark.analytics.corpus import priority_sample

    return priority_sample(
        _docs(spark, sf_dir), group_col="source", weight_col="n_chars", k=5
    )


PRIORITY_SAMPLE_SQL = """
WITH t AS (
  SELECT source, doc_id, n_chars AS weight,
         (n_chars * 1.0 /
          (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
         ) * 4294967296 AS priority
  FROM documents
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rk
  FROM t
),
tau AS (
  SELECT source, max(CASE WHEN rk = 6 THEN priority END) AS tau
  FROM r GROUP BY source
)
SELECT r.source, r.doc_id, r.weight, r.priority,
       greatest(r.weight * 1.0, coalesce(tau.tau, 0.0)) AS est_weight
FROM r JOIN tau ON r.source = tau.source
WHERE r.rk <= 5
"""


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens holding >= 2% of all occurrences)
    via two-pass bounded-memory Misra-Gries: narrow per-partition
    summaries, then exact counts for the <= m*P candidates only — no
    vocabulary-sized shuffle (X43)."""
    from genie_spark.analytics.sketches import heavy_hitters

    toks = _docs(spark, sf_dir).select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return heavy_hitters(toks, m=64, min_share_bp=200)


HEAVY_HITTERS_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
t AS (SELECT token FROM tok WHERE token <> ''),
tot AS (SELECT count(*) AS n FROM t)
SELECT token, count(*) AS cnt,
       count(*) / (SELECT n * 1.0 FROM tot) AS share
FROM t GROUP BY token
HAVING count(*) * 10000 >= 200 * (SELECT n FROM tot)
"""


SPAN_K = 8
SPAN_PAIR_MAX_DF = 1_000


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 substring-level duplicate-span dedup, MASK form: per-doc
    maximal token ranges covered by an 8-token anchor gram occurring
    ≥2 times corpus-wide (Lee et al. 2021 / CCNet-Dolma shape)."""
    from genie_spark.analytics.dedup import duplicate_span_mask

    return duplicate_span_mask(_docs(spark, sf_dir), k=SPAN_K, min_count=2)


def dedup_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 substring-level duplicate-span dedup, PAIR form: maximal
    shared token spans per document pair via alignment-diagonal
    islands; anchors above the document-frequency cap are dropped
    before the self-join (no anchor reaches the cap at these sfs, so
    the oracle's mirrored cap keeps the comparison exact)."""
    from genie_spark.analytics.dedup import duplicate_span_pairs

    return duplicate_span_pairs(
        _docs(spark, sf_dir), k=SPAN_K, max_df=SPAN_PAIR_MAX_DF
    )


# anchor stream shared by both span oracles: 1-based token position +
# 60-bit md5 hash of the space-joined 8-gram (same hash arithmetic as
# dedup.shingle_hash)
_SPAN_ANCHORS_SQL = f"""
  SELECT doc_id, i AS pos,
         CAST(('0x' || substr(md5(array_to_string(
              list_slice(toks, i, i + {SPAN_K - 1}), ' ')), 1, 15))
              AS BIGINT) AS ah
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) - {SPAN_K - 2})) AS i
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        WHERE len(toks) >= {SPAN_K})
"""

SUBSTRING_SPANS_SQL = f"""
WITH g AS ({_SPAN_ANCHORS_SQL}),
d AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY ah) AS c FROM g)
  WHERE c >= 2
),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {SPAN_K} THEN 0 ELSE 1 END AS brk
  FROM d
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM m
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) - min(pos) + {SPAN_K} AS BIGINT) AS span_len,
       count(*) AS n_anchors
FROM isl GROUP BY doc_id, island
"""

SUBSTRING_PAIRS_SQL = f"""
WITH g AS ({_SPAN_ANCHORS_SQL}),
hot AS (
  SELECT ah FROM (
    SELECT ah, count(DISTINCT doc_id) AS d FROM g GROUP BY ah)
  WHERE d > {SPAN_PAIR_MAX_DF}
),
ga AS (SELECT * FROM g ANTI JOIN hot USING (ah)),
matches AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb,
         x.pos - y.pos AS diag
  FROM ga x JOIN ga y ON x.ah = y.ah AND x.doc_id < y.doc_id
),
m AS (
  SELECT a, b, pa, pb, diag,
         CASE WHEN pa - lag(pa) OVER (PARTITION BY a, b, diag ORDER BY pa)
                   <= {SPAN_K} THEN 0 ELSE 1 END AS brk
  FROM matches
),
isl AS (
  SELECT a, b, pa, pb, diag,
         sum(brk) OVER (PARTITION BY a, b, diag ORDER BY pa) AS island
  FROM m
)
SELECT a, b, CAST(min(pa) AS BIGINT) AS a_start,
       CAST(min(pb) AS BIGINT) AS b_start,
       CAST(max(pa) - min(pa) + {SPAN_K} AS BIGINT) AS span_len,
       count(*) AS n_anchors
FROM isl GROUP BY a, b, diag, island
"""


def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 substring-span REMOVAL, keep-first semantics (Lee et al.
    2021 §4): every occurrence of a duplicated 8-token-anchored span
    except the globally-first is dropped from the text; returns the
    cleaned corpus with removal accounting."""
    from genie_spark.analytics.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf_dir), k=SPAN_K, min_count=2)


def _substring_clean_sql(min_span_len: int | None = None) -> str:
    """Oracle for remove_duplicate_spans; ``min_span_len`` extends the
    island CTE with the Lee et al. length predicate (the engine's
    min_span_len parameter)."""
    having = (
        f"HAVING max(pos) + {SPAN_K - 1} - min(pos) + 1 >= {min_span_len}"
        if min_span_len is not None
        else ""
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS ({_SPAN_ANCHORS_SQL}),
d AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY ah) AS c,
           row_number() OVER (PARTITION BY ah ORDER BY doc_id, pos) AS rn
    FROM g)
  WHERE c >= 2 AND rn > 1
),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {SPAN_K} THEN 0 ELSE 1 END AS brk
  FROM d
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM m
),
sp AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_K - 1} AS e
  FROM isl GROUP BY doc_id, island
  {having}
),
cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp)
),
tok AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)
),
keep AS (SELECT * FROM tok ANTI JOIN cov USING (doc_id, pos)),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(agg.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT)
           AS n_tokens_removed
FROM t LEFT JOIN agg USING (doc_id)
"""


SUBSTRING_CLEAN_SQL = _substring_clean_sql()

SPAN_MIN_LEN = 50  # Lee et al. 2021's published operating point


def dedup_substring_clean_min50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 substring-span removal at the Lee et al. 2021 operating
    point: only duplicated islands >= 50 tokens are cut (the
    min_span_len parameter, round-11) — keep-first semantics
    otherwise identical to dedup_substring_clean.  Non-degenerate at
    these sfs: sf0.01 island lengths span 11..93 (median 42), so the
    threshold filters a real subset."""
    from genie_spark.analytics.dedup import remove_duplicate_spans

    return remove_duplicate_spans(
        _docs(spark, sf_dir), k=SPAN_K, min_count=2,
        min_span_len=SPAN_MIN_LEN,
    )


BM25_QUERY = ("hash", "join", "vector")
BM25_K = 25


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term
    query over the documents table — exact-integer scoring, global
    top-25 via TakeOrdered."""
    from genie_spark.analytics.text import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), list(BM25_QUERY), k=BM25_K)


def _bm25_sql(terms=BM25_QUERY, k=BM25_K) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE len({_TOKS}) > 0
),
const AS (SELECT count(*) AS n, sum(len(toks)) AS t FROM base),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (
    SELECT doc_id, len(toks) AS dl,
           unnest(list_transform(toks, x -> lower(x))) AS term
    FROM base)
  WHERE term IN ({term_list})
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
per_term AS (
  SELECT tf.doc_id,
         CAST(((1000000 * n) // doc_freq) * 22 * tf.tf * t AS BIGINT)
           // CAST(10 * t * tf.tf + 3 * t + 9 * tf.dl * n AS BIGINT)
           AS score_t
  FROM tf JOIN dfreq USING (term) CROSS JOIN const
),
ranked AS (
  SELECT doc_id, CAST(sum(score_t) AS BIGINT) AS score,
         count(*) AS n_terms_hit
  FROM per_term GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT doc_id, score, n_terms_hit,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rank
FROM ranked
"""


WINNOW_K = 8
WINNOW_W = 4


def dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49 winnowing fingerprints (Schleimer et al. 2003 / MOSS):
    rightmost-minimum selection over w=4 windows of 8-gram hashes."""
    from genie_spark.analytics.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _docs(spark, sf_dir), k=WINNOW_K, w=WINNOW_W
    )


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49 winnowing similarity report: pairs sharing >= 2 selected
    fingerprints (guaranteed to include every pair with a common
    substring of >= w+k-1 tokens)."""
    from genie_spark.analytics.dedup import winnow_dup_pairs

    return winnow_dup_pairs(
        _docs(spark, sf_dir), k=WINNOW_K, w=WINNOW_W,
        min_shared=2, max_df=1_000,
    )


def _winnow_sel_sql(k=WINNOW_K, w=WINNOW_W) -> str:
    grams = (
        f"list_transform(range(1, len(toks) - {k - 2}), "
        f"i -> array_to_string(list_slice(toks, i, i + {k - 1}), ' '))"
    )
    win_min = f"list_min(list_slice(hs, i, i + {w - 1}))"
    return f"""
  SELECT DISTINCT doc_id,
    CAST(unnest(list_transform(range(1, len(hs) - {w - 2}),
         i -> i + {w} - list_position(
                  list_reverse(list_slice(hs, i, i + {w - 1})),
                  {win_min}))) AS BIGINT) AS pos,
    unnest(list_transform(range(1, len(hs) - {w - 2}),
         i -> {win_min})) AS fp
  FROM (
    SELECT doc_id,
           list_transform({grams},
               g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)) AS hs
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    WHERE len(toks) >= {k + w - 1})
"""


WINNOW_FP_SQL = f"SELECT doc_id, pos, fp FROM ({_winnow_sel_sql()})"

WINNOW_PAIRS_SQL = f"""
WITH sel AS ({_winnow_sel_sql()}),
fps AS (SELECT DISTINCT doc_id, fp FROM sel),
hot AS (
  SELECT fp FROM (SELECT fp, count(*) AS d FROM fps GROUP BY fp)
  WHERE d > 1000
),
ok AS (SELECT * FROM fps ANTI JOIN hot USING (fp))
SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
FROM ok x JOIN ok y ON x.fp = y.fp AND x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id
HAVING count(*) >= 2
"""


CLS_BUCKETS = 1 << 16


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50 hashing-trick linear quality classifier (CCNet fastText-
    filter shape, inference): md5-bucketed bag-of-words, integer
    milli-unit weights (deterministic md5 fixture model), broadcast
    model, one doc-keyed exchange."""
    from genie_spark.analytics.text import hashed_linear_classify

    return hashed_linear_classify(
        _docs(spark, sf_dir), n_buckets=CLS_BUCKETS
    )


QUALITY_CLS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
e AS (
  SELECT doc_id, len(toks) AS nt,
         CAST(('0x' || substr(md5(lower(tok)), 1, 15)) AS BIGINT)
             % {CLS_BUCKETS} AS b
  FROM (SELECT doc_id, toks, unnest(toks) AS tok FROM t)
),
s AS (
  SELECT doc_id, nt,
         (CAST(('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
             % 2001) - 1000 AS w
  FROM e
)
SELECT doc_id, CAST(min(nt) AS BIGINT) AS n_tokens,
       CAST(sum(w) AS BIGINT) AS score_milli,
       CAST(sum(w) AS BIGINT) >= 0 AS keep
FROM s GROUP BY doc_id
"""


DSIR_BUCKETS = 1024
DSIR_K = 50
DSIR_TARGET_BP = 2_500


def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51 DSIR importance resampling (Xie et al. 2023): hashed
    unigram+bigram features, exact-integer bit-resolution log-ratio
    importance scores against an md5-deterministic target split (25%
    of documents), md5-tiebroken top-k resample."""
    from genie_spark.analytics.corpus import _uniform_bp, dsir_sample

    docs = _docs(spark, sf_dir)
    target = docs.where(_uniform_bp("doc_id") < DSIR_TARGET_BP)
    return dsir_sample(docs, target, k=DSIR_K, n_buckets=DSIR_BUCKETS)


DSIR_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
feat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, unnest(toks) AS g FROM t
    UNION ALL
    SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
    FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
          FROM t WHERE len(toks) >= 2)
  )
),
tgt_ids AS (
  SELECT doc_id FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 10000 < {DSIR_TARGET_BP}
),
tf AS (SELECT f.* FROM feat f JOIN tgt_ids USING (doc_id)),
cq AS (SELECT b, count(*) AS q FROM feat GROUP BY b),
cp AS (SELECT b, count(*) AS p FROM tf GROUP BY b),
lam AS (
  SELECT b,
         (length(bin(coalesce(p, 0) + 1)) - 1)
         - (length(bin(q + 1)) - 1) AS lam
  FROM cq LEFT JOIN cp USING (b)
),
consts AS (
  SELECT (SELECT count(*) FROM tf) AS tp, (SELECT count(*) FROM feat) AS tq
),
sc AS (
  SELECT doc_id, count(*) AS n_features, sum(lam) AS s
  FROM feat JOIN lam USING (b) GROUP BY doc_id
),
sc2 AS (
  SELECT doc_id,
         CAST(s + n_features * ((length(bin(tq + {DSIR_BUCKETS})) - 1)
              - (length(bin(tp + {DSIR_BUCKETS})) - 1)) AS BIGINT)
             AS score_bits,
         CAST(n_features AS BIGINT) AS n_features,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             AS h
  FROM sc, consts
)
SELECT doc_id, score_bits, n_features,
       CAST(row_number() OVER (ORDER BY score_bits DESC, h, doc_id)
            AS BIGINT) AS rank
FROM sc2 ORDER BY score_bits DESC, h, doc_id LIMIT {DSIR_K}
"""


BPE_MERGES = 6


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52 distributed BPE-merge vocabulary trainer (Sennrich et al.
    2016): iterated most-frequent-adjacent-pair counting over the
    word-frequency table with greedy leftmost merge application;
    (count DESC, lhs, rhs) deterministic tie order."""
    from genie_spark.analytics.text import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=BPE_MERGES)


def _bpe_sql(n_merges: int) -> str:
    """DuckDB mirror of ``bpe_train``: the iteration UNROLLS into a
    CTE chain (state strings are space-prefixed symbol encodings;
    ``replace`` is leftmost non-overlapping in both engines, which IS
    BPE's greedy merge order), so the driver gets a full value-hash
    check on the exact merge sequence."""
    ctes = [
        f"""w AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest({_TOKS}) AS word FROM documents)
  GROUP BY word
),
s0 AS (SELECT regexp_replace(word, '(.)', ' \\1', 'g') AS s, freq FROM w)"""
    ]
    sels = []
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""p{i} AS (
  SELECT arr[i] AS lhs, arr[i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (
    SELECT arr, freq, unnest(range(1, len(arr))) AS i
    FROM (SELECT regexp_split_to_array(ltrim(s), ' ') AS arr, freq
          FROM s{i - 1})
  )
  GROUP BY lhs, rhs
),
b{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
s{i} AS (
  SELECT replace(s, ' ' || lhs || ' ' || rhs, ' ' || lhs || rhs) AS s, freq
  FROM s{i - 1}, b{i}
)"""
        )
        sels.append(
            f"SELECT CAST({i} AS BIGINT) AS step, lhs, rhs, "
            f"lhs || rhs AS merged, cnt AS pair_count FROM b{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53 BPE encode: train the merge table on the corpus (the X52
    trainer) and APPLY it back — per-document subword sequences as a
    space-joined string plus token/subword accounting.  The apply side
    is entirely map-side (a bounded chain of literal replaces compiled
    into one projection — no join, no shuffle, no UDF)."""
    from genie_spark.analytics.text import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(docs, n_merges=BPE_MERGES).collect()
    ]
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.array_join("bpe_tokens", " ").alias("bpe_text"),
        "n_tokens",
        "n_subwords",
    )


def _bpe_encode_sql(n_merges: int) -> str:
    """DuckDB mirror of train-then-encode: the SAME b1..bN merge CTEs
    as ``_bpe_sql``, then every word replays the replace chain in
    learned order (cross join against the N one-row winner CTEs)."""
    # rebuild the training CTE chain (duplicated from _bpe_sql's body
    # by construction: both oracles must pin the identical chain)
    train = _bpe_sql(n_merges)
    ctes = train.split("\nSELECT CAST(1 AS BIGINT)")[0]  # "WITH w AS ... )"
    chain = f"regexp_replace(w, '(.)', ' \\1', 'g')"
    for i in range(1, n_merges + 1):
        chain = (
            f"replace({chain}, ' ' || b{i}.lhs || ' ' || b{i}.rhs,"
            f" ' ' || b{i}.lhs || b{i}.rhs)"
        )
    froms = ", ".join(f"b{i}" for i in range(1, n_merges + 1))
    return f"""{ctes},
t2 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok2 AS (
  SELECT doc_id, i, toks[i] AS w
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t2)
),
enc AS (
  SELECT doc_id, i, ltrim({chain}) AS e
  FROM tok2, {froms}
),
agg2 AS (
  SELECT doc_id, string_agg(e, ' ' ORDER BY i) AS bpe_text,
         CAST(sum(len(regexp_split_to_array(e, ' '))) AS BIGINT)
             AS n_subwords
  FROM enc GROUP BY doc_id
)
SELECT t2.doc_id,
       coalesce(agg2.bpe_text, '') AS bpe_text,
       CAST(len(t2.toks) AS BIGINT) AS n_tokens,
       coalesce(agg2.n_subwords, 0) AS n_subwords
FROM t2 LEFT JOIN agg2 USING (doc_id)
"""


def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54 Unicode NFC normalization with change accounting — the
    canonicalization pass hash-based dedup needs first.  Arrow
    pandas_udf (unicodedata) vs DuckDB's utf8proc nfc_normalize."""
    from genie_spark.analytics.text import normalize_text

    return normalize_text(_docs(spark, sf_dir), form="NFC")


NORMALIZE_SQL = """
SELECT doc_id,
       nfc_normalize(text) AS text_norm,
       NOT (nfc_normalize(text) = text) AS changed,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_norm
FROM documents
"""


DRIFT_K = 100


def text_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55 token-distribution drift between the 'en' slice and the
    rest of the corpus: top-k tokens by |ppm_a - ppm_b| exact-integer
    rate difference (token ASC ties)."""
    from genie_spark.analytics.text import token_drift

    docs = _docs(spark, sf_dir)
    return token_drift(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        k=DRIFT_K,
    )


DRIFT_SQL = f"""
WITH a AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang = 'en')
  GROUP BY tok
),
b AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang <> 'en')
  GROUP BY tok
),
tots AS (
  SELECT (SELECT coalesce(sum(c), 0) FROM a) AS ta,
         (SELECT coalesce(sum(c), 0) FROM b) AS tb
),
m AS (
  SELECT coalesce(a.tok, b.tok) AS token,
         CAST(coalesce(a.c, 0) AS BIGINT) AS c_a,
         CAST(coalesce(b.c, 0) AS BIGINT) AS c_b
  FROM a FULL OUTER JOIN b ON a.tok = b.tok
),
r AS (
  SELECT token, c_a, c_b,
         CASE WHEN ta > 0 THEN (c_a * 1000000) // ta ELSE 0 END AS ppm_a,
         CASE WHEN tb > 0 THEN (c_b * 1000000) // tb ELSE 0 END AS ppm_b
  FROM m, tots
),
d AS (
  SELECT token, c_a, c_b,
         CAST(ppm_a AS BIGINT) AS ppm_a, CAST(ppm_b AS BIGINT) AS ppm_b,
         CAST(abs(ppm_a - ppm_b) AS BIGINT) AS drift_ppm
  FROM r
)
SELECT token, c_a, c_b, ppm_a, ppm_b, drift_ppm,
       CAST(row_number() OVER (ORDER BY drift_ppm DESC, token) AS BIGINT)
           AS rank
FROM d ORDER BY drift_ppm DESC, token LIMIT {DRIFT_K}
"""


DOMAIN_CAP = 10


def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56 per-domain frequency capping (RefinedWeb/C4): keep the top
    10 docs per source by n_chars (md5/id tiebreak) — one group-keyed
    window with the map-side WindowGroupLimit reduction."""
    from genie_spark.analytics.corpus import domain_cap

    return domain_cap(
        _docs(spark, sf_dir), group_col="source",
        max_per_group=DOMAIN_CAP, order_col="n_chars",
    )


DOMAIN_CAP_SQL = f"""
SELECT * FROM (
  SELECT doc_id, text, lang, source, n_chars,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY n_chars DESC,
                    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT),
                    doc_id
         ) AS BIGINT) AS domain_rank
  FROM documents
) WHERE domain_rank <= {DOMAIN_CAP}
"""


TEMP_MIX_TARGET = 300


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 temperature-based mixture reweighting (XLM-R temperature
    sampling at T=2, i.e. α=1/2 via exact isqrt): per-language weights
    s_g/Σs with s_g = floor(sqrt(n_g)), integer ppm targets, and
    narrow md5-ppm admission — one dim-sized domain aggregate, a
    broadcast weight table, zero corpus-keyed shuffles.  Grouped by
    ``lang`` (the testdata's skewed axis) so the T=2 flattening is
    observable: en's share shrinks, tail languages are upsampled."""
    from genie_spark.analytics.corpus import temperature_mix

    return temperature_mix(
        _docs(spark, sf_dir), n_target=TEMP_MIX_TARGET, group_col="lang"
    )


TEMP_MIX_SQL = f"""
WITH n AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
s AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s_alpha
  FROM n
),
tot AS (SELECT CAST(sum(s_alpha) AS BIGINT) AS S FROM s),
w AS (
  SELECT lang, n_docs, s_alpha,
         CAST((s_alpha * 1000000) // S AS BIGINT) AS weight_ppm,
         CAST(least(1000000,
              ((({TEMP_MIX_TARGET} * s_alpha) // S) * 1000000) // n_docs)
          AS BIGINT) AS admit_ppm
  FROM s, tot
)
SELECT d.lang, d.doc_id, d.text, d.source, d.n_chars,
       w.n_docs, w.s_alpha, w.weight_ppm, w.admit_ppm
FROM documents d JOIN w USING (lang)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 1000000 < w.admit_ppm
"""


SEMDECON_THRESHOLD = 0.35
_EVAL_PRED = "vec_id % 25 = 0"


def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 semantic decontamination: max cosine of every corpus vector
    (vec_id % 25 != 0) against the eval split (vec_id % 25 == 0), eval
    side broadcast as an exact-int matmul matrix — catches paraphrased
    benchmark leakage the n-gram forms (X12/X34) can't see."""
    from genie_spark.analytics.similarity import semantic_decontaminate

    emb = _emb(spark, sf_dir)
    evalset = emb.where(F.col("vec_id") % 25 == 0)
    corpus = emb.where(F.col("vec_id") % 25 != 0)
    return semantic_decontaminate(corpus, evalset, threshold=SEMDECON_THRESHOLD)


SEMDECON_SQL = f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM q),
e AS (SELECT * FROM n WHERE ({_EVAL_PRED}) AND nn > 0),
c AS (SELECT * FROM n WHERE NOT ({_EVAL_PRED})),
s AS (
  SELECT c.vec_id, c.nn AS cnn, e.vec_id AS eval_id,
         CAST(list_dot_product(c.v, e.v) AS BIGINT)
             / (sqrt(c.nn) * sqrt(e.nn)) AS cosine
  FROM c CROSS JOIN e
),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rk
  FROM s
)
SELECT vec_id,
       CASE WHEN cnn > 0 THEN eval_id END AS eval_id,
       CASE WHEN cnn > 0 THEN cosine END AS max_cosine,
       CASE WHEN cnn > 0 THEN cosine >= {SEMDECON_THRESHOLD}
            ELSE false END AS is_contaminated
FROM r WHERE rk = 1
"""


SOFT_DEDUP_N = 3
SOFT_DEDUP_K = 200

_NGRAMS_3_SQL = (
    "list_transform(range(1, len(toks) - 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' '))"
)


def corpus_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58 SoftDeDup (He et al., ACL 2024): per-doc 3-gram commonness
    at exact integer bit resolution, inverse-commonness weight,
    deterministic priority resample of the top 200."""
    from genie_spark.analytics.corpus import soft_dedup

    return soft_dedup(_docs(spark, sf_dir), n=SOFT_DEDUP_N, k=SOFT_DEDUP_K)


SOFT_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= {SOFT_DEDUP_N} THEN {_NGRAMS_3_SQL}
         ELSE [] END) AS ngram
  FROM t
),
c AS (SELECT ngram, count(*) AS c FROM g GROUP BY ngram),
tot AS (SELECT length(bin(CAST(sum(c) AS BIGINT))) - 1 AS tbits FROM c),
sc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         CAST(sum((SELECT tbits FROM tot) - (length(bin(c)) - 1))
              AS BIGINT) AS rarity_bits
  FROM g JOIN c USING (ngram) GROUP BY doc_id
),
wgt AS (
  SELECT doc_id, n_ngrams, rarity_bits,
         CAST((rarity_bits * 1000) // n_ngrams AS BIGINT)
             AS mean_rarity_mbits
  FROM sc
),
pr AS (
  SELECT doc_id, n_ngrams, rarity_bits, mean_rarity_mbits,
         CAST(mean_rarity_mbits + 1 AS BIGINT) AS weight,
         (CAST(mean_rarity_mbits + 1 AS DOUBLE) /
          (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) + 1)) * 4294967296.0 AS priority
  FROM wgt
)
SELECT doc_id, n_ngrams, rarity_bits, mean_rarity_mbits, weight, priority,
       CAST(row_number() OVER (ORDER BY priority DESC, doc_id) AS BIGINT)
           AS rank
FROM pr ORDER BY priority DESC, doc_id LIMIT {SOFT_DEDUP_K}
"""


def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59 tokenizer fertility / compression-ratio report per lang:
    train the X52 merge table on the corpus, apply it map-side (X53),
    aggregate subwords-per-word and chars-per-subword per language."""
    from genie_spark.analytics.text import bpe_fertility, bpe_train

    docs = _docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(docs, n_merges=BPE_MERGES).collect()
    ]
    return bpe_fertility(docs, merges, group_col="lang")


def _bpe_fertility_sql(n_merges: int) -> str:
    """DuckDB mirror of train-then-encode-then-aggregate: the X53
    encode oracle as a subquery, joined back to documents for the
    lang slice, then the exact-integer milli ratios."""
    return f"""
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(enc.n_subwords) AS BIGINT) AS n_subwords,
       CAST(sum(length(replace(enc.bpe_text, ' ', ''))) AS BIGINT)
           AS n_token_chars,
       CASE WHEN sum(enc.n_tokens) > 0 THEN
         CAST((sum(enc.n_subwords) * 1000) // sum(enc.n_tokens) AS BIGINT)
       END AS fertility_milli,
       CASE WHEN sum(enc.n_subwords) > 0 THEN
         CAST((sum(length(replace(enc.bpe_text, ' ', ''))) * 1000)
              // sum(enc.n_subwords) AS BIGINT)
       END AS chars_per_subword_milli
FROM ({_bpe_encode_sql(n_merges)}) enc
JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60 Gopher quality-rule battery (Rae et al. 2021 Table A1, the
    non-repetition rules — X11 carries the repetition section): word
    count / mean word length / symbol ratio / bullet + ellipsis lines /
    alpha words / stop-word presence, fused into one narrow pass."""
    from genie_spark.analytics.text import gopher_quality_filter

    return gopher_quality_filter(_docs(spark, sf_dir))


_GOPHER_STOPS_SQL = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"

GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(greatest(len(toks), 1) AS BIGINT) AS wc,
         CAST(coalesce(list_aggregate(
             list_transform(toks, w -> length(w)), 'sum'), 0) AS BIGINT)
             AS word_chars,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
             AS n_hash,
         CAST((length(text) - length(replace(text, '...', ''))) // 3
              + (length(text) - length(replace(text, '…', ''))) AS BIGINT)
             AS n_ellipsis,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines,
             ln -> regexp_matches(ltrim(ln), '^[-*•]'))) AS BIGINT)
             AS n_bullet,
         CAST(len(list_filter(lines,
             ln -> regexp_matches(rtrim(ln), '(\\.\\.\\.|…)$'))) AS BIGINT)
             AS n_ellipsis_end,
         CAST(len(list_filter(toks,
             w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
             AS n_alpha_words,
         CAST(len(list_filter({_GOPHER_STOPS_SQL},
             s -> list_contains(list_transform(toks, x -> lower(x)), s)))
             AS BIGINT) AS n_stop_hits
  FROM t
),
r AS (
  SELECT doc_id, n_words,
         CAST((word_chars * 1000) // wc AS BIGINT) AS mean_word_len_milli,
         (n_hash + n_ellipsis) / wc AS symbol_word_ratio,
         n_bullet / n_lines AS bullet_line_frac,
         n_ellipsis_end / n_lines AS ellipsis_line_frac,
         n_alpha_words / wc AS alpha_word_frac,
         n_stop_hits
  FROM m
)
SELECT *,
       (n_words >= 50 AND n_words <= 100000) AS r_word_count,
       (mean_word_len_milli >= 3000 AND mean_word_len_milli <= 10000)
           AS r_mean_word_len,
       (symbol_word_ratio <= 0.1) AS r_symbol_ratio,
       (bullet_line_frac <= 0.9) AS r_bullet_lines,
       (ellipsis_line_frac <= 0.3) AS r_ellipsis_lines,
       (alpha_word_frac >= 0.8) AS r_alpha_words,
       (n_stop_hits >= 2) AS r_stop_words,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len_milli >= 3000 AND mean_word_len_milli <= 10000)
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_stop_hits >= 2) AS keep
FROM r
"""


PQ_M = 4
PQ_K = 8
PQ_ITERS = 2
PQ_DIM = KMEANS_DIM
PQ_TOPK = 10


def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61 product quantization encode (Jégou et al., TPAMI 2011):
    m=4 per-subspace md5-seeded Lloyd codebooks, one fused Arrow
    encode scan → (vec_id, code_1..code_4, reconstruction d2)."""
    from genie_spark.analytics.clustering import pq_encode

    return pq_encode(_emb(spark, sf_dir), m=PQ_M, k=PQ_K, iters=PQ_ITERS)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61 ADC top-10 over PQ codes for query vectors (vec_id < 20):
    exact query subvectors vs a broadcast (query, subspace, codeword)
    distance LUT; corpus side is codes only."""
    from genie_spark.analytics.clustering import pq_topk

    return pq_topk(
        _emb(spark, sf_dir),
        F.col("vec_id") < 20,
        k_neighbors=PQ_TOPK,
        m=PQ_M,
        k=PQ_K,
        iters=PQ_ITERS,
    )


def _pq_subspace_ctes(
    p: str, lo: int, hi: int, k: int, iters: int, sub_dim: int,
    base: str = "pqb",
) -> list[str]:
    """The kmeans oracle chain (_kmeans_sql) re-instantiated on a
    sub-vector slice with prefixed CTE names; ends with ``{p}a`` =
    (vec_id, cid, d2) final assignment and ``{p}c{iters}`` = the
    final codebook.  Kept in LOCKSTEP with _kmeans_sql — both unroll
    the same deterministic Lloyd steps."""
    d2 = (
        "CAST(list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.v)"
        " + list_dot_product(c.v, c.v) AS BIGINT)"
    )
    parts = [
        f"{p}q AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM {base})",
        f"""{p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid, v
  FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h, v FROM {p}q
        WHERE len(list_filter(v, x -> x IS NULL)) = 0
        ORDER BY h, vec_id LIMIT {k}))""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""{p}d{i} AS (
  SELECT q.vec_id, c.cid, {d2} AS d2
  FROM {p}q q CROSS JOIN {p}c{i - 1} c)"""
        )
        parts.append(
            f"""{p}a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM {p}d{i}) WHERE rn = 1)"""
        )
        parts.append(
            f"""{p}s{i} AS (
  SELECT a.cid, t.j, CAST(floor(sum(q.v[t.j]) * 1.0 / count(*)) AS BIGINT) AS m
  FROM {p}a{i} a JOIN {p}q q USING (vec_id), range(1, {sub_dim + 1}) t(j)
  GROUP BY a.cid, t.j)"""
        )
        parts.append(
            f"""{p}c{i} AS (
  SELECT c.cid, coalesce(nv.nvv, c.v) AS v
  FROM {p}c{i - 1} c LEFT JOIN
    (SELECT cid, list(m ORDER BY j) AS nvv FROM {p}s{i} GROUP BY cid) nv
    USING (cid))"""
        )
    parts.append(
        f"""{p}df AS (
  SELECT q.vec_id, c.cid, {d2} AS d2
  FROM {p}q q CROSS JOIN {p}c{iters} c)"""
    )
    parts.append(
        f"""{p}a AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM {p}df) WHERE rn = 1)"""
    )
    return parts


def _pq_base_ctes(m: int, k: int, iters: int, dim: int) -> list[str]:
    sub_dim = dim // m
    parts = [f"pqb AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings)"]
    for s in range(m):
        parts += _pq_subspace_ctes(
            f"s{s + 1}", s * sub_dim + 1, (s + 1) * sub_dim, k, iters, sub_dim
        )
    return parts


def _pq_codes_sql(m: int = PQ_M, k: int = PQ_K, iters: int = PQ_ITERS,
                  dim: int = PQ_DIM) -> str:
    parts = _pq_base_ctes(m, k, iters, dim)
    joins = " ".join(
        f"JOIN s{s + 1}a USING (vec_id)" for s in range(m)
    )
    cols = ", ".join(f"s{s + 1}a.cid AS code_{s + 1}" for s in range(m))
    total = " + ".join(f"s{s + 1}a.d2" for s in range(m))
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT pqb.vec_id, {cols}, CAST({total} AS BIGINT) AS d2"
        + f"\nFROM pqb {joins}"
    )


def _pq_topk_sql(m: int = PQ_M, k: int = PQ_K, iters: int = PQ_ITERS,
                 dim: int = PQ_DIM, topk: int = PQ_TOPK) -> str:
    sub_dim = dim // m
    parts = _pq_base_ctes(m, k, iters, dim)
    luts = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        luts.append(
            f"""lut{s + 1} AS (
  SELECT q.query_id, {s + 1} AS s, c.cid,
         CAST(list_dot_product(q.qs, q.qs) - 2 * list_dot_product(q.qs, c.v)
              + list_dot_product(c.v, c.v) AS BIGINT) AS d2
  FROM (SELECT vec_id AS query_id, list_slice(v, {lo}, {hi}) AS qs
        FROM pqb WHERE vec_id < 20) q
  CROSS JOIN s{s + 1}c{iters} c)"""
        )
    parts += luts
    unp = "\nUNION ALL\n".join(
        f"  SELECT vec_id AS neighbor_id, {s + 1} AS s, cid FROM s{s + 1}a"
        for s in range(m)
    )
    lut_union = " UNION ALL ".join(f"SELECT * FROM lut{s + 1}" for s in range(m))
    parts.append(f"unp AS (\n{unp})")
    parts.append(f"lut AS ({lut_union})")
    parts.append(
        """scored AS (
  SELECT query_id, neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM unp JOIN lut l USING (s, cid)
  WHERE neighbor_id != query_id
  GROUP BY query_id, neighbor_id)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, rank, adc_d2 FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {topk}"""
    )


IVFPQ_CENTROIDS = 16
IVFPQ_PROBE = 4


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 IVF-PQ top-10 (Jégou et al. 2011 §V, the FAISS IndexIVFPQ
    layout): IVF cosine cells prune candidates, PQ codes score them by
    asymmetric distance — compute AND memory both compressed."""
    from genie_spark.analytics.clustering import ivfpq_topk

    return ivfpq_topk(
        _emb(spark, sf_dir),
        F.col("vec_id") < 20,
        k_neighbors=PQ_TOPK,
        n_centroids=IVFPQ_CENTROIDS,
        n_probe=IVFPQ_PROBE,
        m=PQ_M,
        k=PQ_K,
        iters=PQ_ITERS,
    )


def _ivfpq_sql(m: int = PQ_M, k: int = PQ_K, iters: int = PQ_ITERS,
               dim: int = PQ_DIM, topk: int = PQ_TOPK,
               n_centroids: int = IVFPQ_CENTROIDS,
               n_probe: int = IVFPQ_PROBE) -> str:
    """IVF coarse pruning (the ANN_IVF_SQL cell CTEs, pqb-based) +
    the PQ chain + ADC scoring restricted to candidate pairs."""
    sub_dim = dim // m
    parts = _pq_base_ctes(m, k, iters, dim)
    parts.append(
        "n2 AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT)"
        " AS nn FROM pqb)"
    )
    parts.append(
        f"""cc AS (SELECT vec_id AS ccid, v AS cv, nn AS cn FROM n2
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids})"""
    )
    parts.append(
        """as0 AS (
  SELECT n2.vec_id, cc.ccid,
         CAST(list_dot_product(n2.v, cc.cv) AS BIGINT)
             / (sqrt(n2.nn) * sqrt(cc.cn)) AS ccos
  FROM n2 CROSS JOIN cc)"""
    )
    parts.append(
        """asg AS (
  SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY ccos DESC, ccid) AS crank
  FROM as0)"""
    )
    parts.append("corpus AS (SELECT vec_id, ccid FROM asg WHERE crank = 1)")
    parts.append(
        f"""probes AS (
  SELECT vec_id, ccid FROM asg WHERE crank <= {n_probe} AND vec_id < 20)"""
    )
    parts.append(
        """cand AS (
  SELECT p.vec_id AS query_id, t.vec_id AS neighbor_id
  FROM probes p JOIN corpus t USING (ccid)
  WHERE p.vec_id != t.vec_id)"""
    )
    luts = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        luts.append(
            f"""lut{s + 1} AS (
  SELECT q.query_id, {s + 1} AS s, c.cid,
         CAST(list_dot_product(q.qs, q.qs) - 2 * list_dot_product(q.qs, c.v)
              + list_dot_product(c.v, c.v) AS BIGINT) AS d2
  FROM (SELECT vec_id AS query_id, list_slice(v, {lo}, {hi}) AS qs
        FROM pqb WHERE vec_id < 20) q
  CROSS JOIN s{s + 1}c{iters} c)"""
        )
    parts += luts
    unp = "\nUNION ALL\n".join(
        f"  SELECT vec_id AS neighbor_id, {s + 1} AS s, cid FROM s{s + 1}a"
        for s in range(m)
    )
    lut_union = " UNION ALL ".join(f"SELECT * FROM lut{s + 1}" for s in range(m))
    parts.append(f"unp AS (\n{unp})")
    parts.append(f"lut AS ({lut_union})")
    parts.append(
        """scored AS (
  SELECT c.query_id, c.neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM cand c
  JOIN unp u ON u.neighbor_id = c.neighbor_id
  JOIN lut l ON l.query_id = c.query_id AND l.s = u.s AND l.cid = u.cid
  GROUP BY c.query_id, c.neighbor_id)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, rank, adc_d2 FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {topk}"""
    )


def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 RESIDUAL IVF-PQ top-10 (Jégou et al. 2011 §V eq. 29-33, the
    FAISS IndexIVFPQ): PQ codebooks trained on per-cell residuals —
    the codeword budget spends entirely on within-cell geometry, the
    recall rung X62's non-residual form leaves on the table."""
    from genie_spark.analytics.clustering import ivfpq_residual_topk

    return ivfpq_residual_topk(
        _emb(spark, sf_dir),
        F.col("vec_id") < 20,
        k_neighbors=PQ_TOPK,
        n_centroids=IVFPQ_CENTROIDS,
        n_probe=IVFPQ_PROBE,
        m=PQ_M,
        k=PQ_K,
        iters=PQ_ITERS,
    )


def _ivfpq_residual_sql(m: int = PQ_M, k: int = PQ_K, iters: int = PQ_ITERS,
                        dim: int = PQ_DIM, topk: int = PQ_TOPK,
                        n_centroids: int = IVFPQ_CENTROIDS,
                        n_probe: int = IVFPQ_PROBE) -> str:
    """The _ivfpq_sql coarse CTEs + EXACT integer residual subtraction
    (indexed-lambda list_transform) + the PQ kmeans chain re-
    instantiated over the residual base (prefix rs*), with the ADC LUT
    built per (query, probed cell) on the query's residual — in
    lockstep with clustering.ivfpq_residual_topk."""
    sub_dim = dim // m
    parts = [f"pqb AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings)"]
    parts.append(
        "n2 AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT)"
        " AS nn FROM pqb)"
    )
    parts.append(
        f"""cc AS (SELECT vec_id AS ccid, v AS cv, nn AS cn FROM n2
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids})"""
    )
    parts.append(
        """as0 AS (
  SELECT n2.vec_id, cc.ccid,
         CAST(list_dot_product(n2.v, cc.cv) AS BIGINT)
             / (sqrt(n2.nn) * sqrt(cc.cn)) AS ccos
  FROM n2 CROSS JOIN cc)"""
    )
    parts.append(
        """asg AS (
  SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY ccos DESC, ccid) AS crank
  FROM as0)"""
    )
    parts.append("corpus AS (SELECT vec_id, ccid FROM asg WHERE crank = 1)")
    # per-cell MEAN, exact integers (the kmeans floor-mean idiom) —
    # the paper's coarse centroid; residuals against the md5 seed
    # vectors measured WORSE than non-residual (see the Spark
    # docstring / BASELINE.md)
    parts.append(
        f"""cm AS (
  SELECT ccid, list(m ORDER BY j) AS cmv FROM (
    SELECT co.ccid, t.j,
           CAST(floor(sum(n2.v[t.j]) * 1.0 / count(*)) AS BIGINT) AS m
    FROM corpus co JOIN n2 USING (vec_id), range(1, {dim + 1}) t(j)
    GROUP BY co.ccid, t.j) GROUP BY ccid)"""
    )
    # residual base: exact integer v - cell mean, elementwise
    parts.append(
        """rb AS (
  SELECT n2.vec_id, co.ccid,
         list_transform(n2.v, (x, i) -> x - cm.cmv[i]) AS v
  FROM corpus co JOIN n2 USING (vec_id) JOIN cm USING (ccid))"""
    )
    for s in range(m):
        parts += _pq_subspace_ctes(
            f"rs{s + 1}", s * sub_dim + 1, (s + 1) * sub_dim, k, iters,
            sub_dim, base="rb",
        )
    parts.append(
        f"""probes AS (
  SELECT vec_id, ccid FROM asg WHERE crank <= {n_probe} AND vec_id < 20)"""
    )
    parts.append(
        """cand AS (
  SELECT p.vec_id AS query_id, t.vec_id AS neighbor_id, p.ccid
  FROM probes p JOIN corpus t USING (ccid)
  WHERE p.vec_id != t.vec_id)"""
    )
    # the query's residual AGAINST EACH PROBED CELL (the §V LUT shape)
    parts.append(
        """qres AS (
  SELECT p.vec_id AS query_id, p.ccid,
         list_transform(q.v, (x, i) -> x - cm.cmv[i]) AS rv
  FROM probes p JOIN pqb q ON q.vec_id = p.vec_id
  JOIN cm ON cm.ccid = p.ccid)"""
    )
    luts = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        luts.append(
            f"""lut{s + 1} AS (
  SELECT q.query_id, q.ccid, {s + 1} AS s, c.cid,
         CAST(list_dot_product(q.qs, q.qs) - 2 * list_dot_product(q.qs, c.v)
              + list_dot_product(c.v, c.v) AS BIGINT) AS d2
  FROM (SELECT query_id, ccid, list_slice(rv, {lo}, {hi}) AS qs
        FROM qres) q
  CROSS JOIN rs{s + 1}c{iters} c)"""
        )
    parts += luts
    unp = "\nUNION ALL\n".join(
        f"  SELECT vec_id AS neighbor_id, {s + 1} AS s, cid FROM rs{s + 1}a"
        for s in range(m)
    )
    lut_union = " UNION ALL ".join(
        f"SELECT * FROM lut{s + 1}" for s in range(m)
    )
    parts.append(f"unp AS (\n{unp})")
    parts.append(f"lut AS ({lut_union})")
    parts.append(
        """scored AS (
  SELECT c.query_id, c.neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM cand c
  JOIN unp u ON u.neighbor_id = c.neighbor_id
  JOIN lut l ON l.query_id = c.query_id AND l.ccid = c.ccid
            AND l.s = u.s AND l.cid = u.cid
  GROUP BY c.query_id, c.neighbor_id)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, rank, adc_d2 FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {topk}"""
    )


BIGRAM_BACKOFF = 4
BIGRAM_OUTLIER = 800


def text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63 bigram backoff LM surprisal: model trained on the
    doc_id % 50 != 0 split, ALL documents scored — held-out docs
    exercise the backoff path (the CCNet train-on-A-score-B shape)."""
    from genie_spark.analytics.text import lm_surprisal_bigram

    docs = _docs(spark, sf_dir)
    return lm_surprisal_bigram(
        docs,
        docs.where(F.col("doc_id") % 50 != 0),
        backoff_bits=BIGRAM_BACKOFF,
        outlier_centibits=BIGRAM_OUTLIER,
    )


LM_BIGRAM_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
mt AS (SELECT unnest(toks) AS w FROM t WHERE doc_id % 50 != 0),
u AS (SELECT w, count(*) AS cu FROM mt GROUP BY w),
tt AS (SELECT length(bin(CAST(sum(cu) AS BIGINT))) - 1 AS tbits FROM u),
mb AS (
  SELECT toks[i] AS wp, toks[i + 1] AS w
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
        FROM t WHERE doc_id % 50 != 0)
),
b AS (SELECT wp, w, count(*) AS cb FROM mb GROUP BY wp, w),
occ AS (
  SELECT doc_id, toks[i] AS wp, toks[i + 1] AS w
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
),
s AS (
  SELECT occ.doc_id,
         b.cb IS NULL AS backoff,
         CASE WHEN b.cb IS NOT NULL
              THEN (length(bin(up.cu)) - 1) - (length(bin(b.cb)) - 1)
              ELSE {BIGRAM_BACKOFF} + (SELECT tbits FROM tt)
                   - (length(bin(coalesce(uw.cu, 0) + 1)) - 1)
         END AS bits
  FROM occ
  LEFT JOIN b ON b.wp = occ.wp AND b.w = occ.w
  LEFT JOIN u up ON up.w = occ.wp
  LEFT JOIN u uw ON uw.w = occ.w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
       CAST(sum(bits) AS BIGINT) AS total_bits,
       CAST((sum(bits) * 100) // count(*) AS BIGINT) AS bpt_centibits,
       ((sum(bits) * 100) // count(*)) >= {BIGRAM_OUTLIER} AS is_outlier
FROM s GROUP BY doc_id
"""


WP_MAX_WORD = 16
# every lowercase letter EXCEPT q (so q-carrying words exercise the
# [UNK] path), plus multi-char heads/continuations that exercise
# longest-match-first ("spark" must match whole, not s ##p ##a ##r ##k)
WP_VOCAB = (
    [chr(c) for c in range(ord("a"), ord("z") + 1) if c != ord("q")]
    + ["th", "the", "an", "and", "re", "in", "er", "on", "en", "ing",
       "sp", "spark", "ta", "table"]
    + ["##" + chr(c) for c in range(ord("a"), ord("z") + 1) if c != ord("q")]
    + ["##ing", "##ed", "##er", "##es", "##tion", "##ion", "##ark",
       "##low", "##ow"]
)


def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73 WordPiece greedy longest-match-first encode (BERT's
    tokenizer inference): fixed lowercase-letter vocabulary with
    common head/continuation pieces — words carrying digits,
    punctuation, or uppercase (and words over 16 chars, BERT's
    max_input_chars_per_word) become [UNK]."""
    from genie_spark.analytics.text import wordpiece_encode

    return wordpiece_encode(
        _docs(spark, sf_dir), WP_VOCAB, max_word_chars=WP_MAX_WORD
    )


def _wordpiece_sql(vocab: list[str], max_word: int) -> str:
    """Unrolled greedy longest-match: one CTE per matching step (a
    piece consumes >= 1 char, so max_word steps suffice), each taking
    the longest vocab piece matching the remaining prefix via a
    correlated max() — in LOCKSTEP with text.wordpiece_encode."""
    vals = ", ".join(
        f"('{p[2:]}', true)" if p.startswith("##") else f"('{p}', false)"
        for p in sorted(set(vocab))
    )
    parts = [
        f"vocab(raw, cont) AS (SELECT * FROM (VALUES {vals}))",
        f"t AS (SELECT doc_id, {_TOKS} AS toks FROM documents"
        " WHERE text IS NOT NULL)",
        """words AS (
  SELECT doc_id, i AS widx, toks[i] AS word
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t))""",
        f"""st0 AS (
  SELECT doc_id, widx, word, 0 AS pos, '' AS acc,
         length(word) > {max_word} AS failed
  FROM words)""",
    ]
    for step in range(1, max_word + 1):
        parts.append(
            f"""st{step} AS (
  SELECT doc_id, widx, word,
         CASE WHEN failed OR pos >= length(word) THEN pos
              ELSE pos + coalesce(bl, 0) END AS pos,
         CASE WHEN failed OR pos >= length(word) OR bl IS NULL THEN acc
              WHEN pos = 0 THEN substr(word, 1, bl)
              ELSE acc || ' ##' || substr(word, pos + 1, bl) END AS acc,
         failed OR (pos < length(word) AND bl IS NULL) AS failed
  FROM (
    SELECT s.*,
           (SELECT max(length(v.raw)) FROM vocab v
            WHERE v.cont = (s.pos > 0)
              AND substr(s.word, s.pos + 1, length(v.raw)) = v.raw) AS bl
    FROM st{step - 1} s))"""
        )
    parts.append(
        f"""agg AS (
  SELECT doc_id,
         string_agg(CASE WHEN failed THEN '[UNK]' ELSE acc END,
                    ' ' ORDER BY widx) AS wp_text,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN failed THEN 1
                       ELSE length(acc) - length(replace(acc, ' ', '')) + 1
                  END) AS BIGINT) AS n_subwords,
         CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unk_words
  FROM st{max_word} GROUP BY doc_id)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT d.doc_id, coalesce(a.wp_text, '') AS wp_text,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_subwords, 0) AS n_subwords,
       coalesce(a.n_unk_words, 0) AS n_unk_words
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN agg a USING (doc_id)"""
    )


def text_wordpiece_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74 per-language WordPiece coverage: OOV rate (ppm) and
    fertility (milli) under the X73 vocabulary — the vocabulary-
    under-serves-a-slice decision signal."""
    from genie_spark.analytics.text import wordpiece_coverage

    return wordpiece_coverage(
        _docs(spark, sf_dir), WP_VOCAB, group_col="lang",
        max_word_chars=WP_MAX_WORD,
    )


def _wordpiece_coverage_sql(vocab: list[str], max_word: int) -> str:
    """The X73 unrolled greedy chain aggregated per language slice."""
    inner = _wordpiece_sql(vocab, max_word)
    return f"""
WITH enc AS ({inner})
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e.n_words) AS BIGINT) AS n_words,
       CAST(sum(e.n_subwords) AS BIGINT) AS n_subwords,
       CAST(sum(e.n_unk_words) AS BIGINT) AS n_unk_words,
       CAST(CASE WHEN sum(e.n_words) > 0
                 THEN (sum(e.n_unk_words) * 1000000) // sum(e.n_words)
            END AS BIGINT) AS unk_ppm,
       CAST(CASE WHEN sum(e.n_words) > 0
                 THEN (sum(e.n_subwords) * 1000) // sum(e.n_words)
            END AS BIGINT) AS fertility_milli
FROM enc e JOIN documents d USING (doc_id)
WHERE d.lang IS NOT NULL
GROUP BY d.lang
"""


QS_BY_K_MAX = 64
QS_BY_PHIS = (333, 667)


UNIG_MAX_WORD = 12
# scored unigram vocabulary (milli log-probs): single letters as the
# floor, corpus-frequent multi-char pieces cheaper than their letter
# spell-outs so the Viterbi DP makes non-trivial choices
UNIGRAM_VOCAB = {
    **{chr(c): -6000 for c in range(ord("a"), ord("z") + 1)},
    "an": -7000, "in": -7000, "er": -7000, "on": -7000, "ing": -7500,
    "scan": -9000, "sort": -9000, "part": -9000, "line": -9000,
    "key": -8500, "join": -9000, "order": -9500, "value": -9500,
    "window": -9800, "column": -9800, "group": -9500, "query": -9500,
    "merge": -9200, "agg": -8500, "table": -9500, "tion": -8000,
}


def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79 Unigram-LM Viterbi encode (Kudo 2018; the SentencePiece/T5
    tokenizer inference): exact DP segmentation under a scored
    vocabulary — completes the tokenizer ladder's third family (BPE =
    GPT, WordPiece = BERT, Unigram = T5).  Words with characters
    outside the vocabulary (digits, punctuation) or over 12 chars
    become [UNK]."""
    from genie_spark.analytics.text import unigram_encode

    return unigram_encode(
        _docs(spark, sf_dir), UNIGRAM_VOCAB, max_word_chars=UNIG_MAX_WORD
    )


def _unigram_sql(pieces: dict, max_word: int) -> str:
    """DuckDB mirror of ``unigram_encode``: the Viterbi DP UNROLLS —
    one CTE per prefix position j computing b{j} (best score, NULL
    unreachable) and p{j} (back-pointer, smallest index on ties via
    an ascending CASE), then one CTE per backtrack step rebuilding
    the piece string — in LOCKSTEP with the Arrow engine's integer
    DP."""
    sent = -(1 << 62)
    senth = sent // 2
    max_piece = max(len(p) for p in pieces)
    vals = ", ".join(
        f"('{p}', CAST({int(s)} AS BIGINT))" for p, s in sorted(pieces.items())
    )
    n = max_word
    parts = [
        f"vocab(piece, sc) AS (SELECT * FROM (VALUES {vals}))",
        f"t AS (SELECT doc_id, {_TOKS} AS toks FROM documents"
        " WHERE text IS NOT NULL)",
        """words AS (
  SELECT doc_id, i AS widx, toks[i] AS word
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t))""",
        """st0 AS (
  SELECT doc_id, widx, word, length(word) AS len, CAST(0 AS BIGINT) AS b0
  FROM words)""",
    ]
    for j in range(1, n + 1):
        lo = max(0, j - max_piece)
        prev_cols = (
            ["doc_id", "widx", "word", "len"]
            + [f"b{i}" for i in range(j)]
            + [f"p{i}" for i in range(1, j)]
        )
        s_exprs = ",\n           ".join(
            f"CASE WHEN {j} <= len AND b{i} IS NOT NULL THEN b{i} + "
            f"(SELECT sc FROM vocab v WHERE v.piece = "
            f"substr(word, {i + 1}, {j - i})) END AS s{i}"
            for i in range(lo, j)
        )
        mx = "greatest(" + ", ".join(
            f"coalesce(s{i}, CAST({sent} AS BIGINT))" for i in range(lo, j)
        ) + ")"
        p_case = " ".join(
            f"WHEN s{i} = mx THEN {i}" for i in range(lo, j)
        )
        parts.append(
            f"""st{j} AS (
  SELECT {", ".join(prev_cols)},
         CASE WHEN mx > {senth} THEN mx END AS b{j},
         CASE {p_case} END AS p{j}
  FROM (
    SELECT *, {mx} AS mx
    FROM (SELECT *,
           {s_exprs}
          FROM st{j - 1})))"""
        )
    keep = ["doc_id", "widx", "word", "len"] + [
        f"p{i}" for i in range(1, n + 1)
    ]
    wscore = "CASE " + " ".join(
        f"WHEN len = {j} THEN b{j}" for j in range(1, n + 1)
    ) + " END"
    parts.append(
        f"""w0 AS (
  SELECT {", ".join(keep)}, {wscore} AS wscore, len AS pos,
         CAST('' AS VARCHAR) AS acc,
         (len > {n}) OR ({wscore}) IS NULL AS failed
  FROM st{n})"""
    )
    isel = "CASE " + " ".join(
        f"WHEN pos = {j} THEN p{j}" for j in range(1, n + 1)
    ) + " END"
    carry = ", ".join(keep + ["wscore", "failed"])
    for k in range(1, n + 1):
        parts.append(
            f"""w{k} AS (
  SELECT {carry},
    CASE WHEN failed OR pos = 0 THEN pos ELSE isel END AS pos,
    CASE WHEN failed OR pos = 0 THEN acc
         ELSE substr(word, isel + 1, pos - isel)
              || (CASE WHEN acc = '' THEN '' ELSE ' ' END) || acc
    END AS acc
  FROM (SELECT *, {isel} AS isel FROM w{k - 1}))"""
        )
    parts.append(
        f"""agg AS (
  SELECT doc_id,
    string_agg(CASE WHEN failed THEN '[UNK]' ELSE acc END,
               ' ' ORDER BY widx) AS unig_text,
    CAST(count(*) AS BIGINT) AS n_words,
    CAST(sum(CASE WHEN failed THEN 1
                  ELSE length(acc) - length(replace(acc, ' ', '')) + 1
             END) AS BIGINT) AS n_pieces,
    CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words,
    CAST(sum(CASE WHEN failed THEN 0 ELSE wscore END) AS BIGINT)
        AS score_milli
  FROM w{n} GROUP BY doc_id)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT d.doc_id, coalesce(a.unig_text, '') AS unig_text,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_pieces, 0) AS n_pieces,
       coalesce(a.n_unk_words, 0) AS n_unk_words,
       coalesce(a.score_milli, 0) AS score_milli
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN agg a USING (doc_id)"""
    )


WP_TRAIN_MERGES = 6


def text_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78 WordPiece vocabulary trainer (Schuster & Nakajima 2012):
    iterated likelihood-scored merge selection — score = pair_count /
    (count_l · count_r) in exact integer score_q units — over the
    word-frequency table with BERT's ## continuation convention;
    (score_q DESC, lhs, rhs) deterministic order."""
    from genie_spark.analytics.text import wordpiece_train

    return wordpiece_train(_docs(spark, sf_dir), n_merges=WP_TRAIN_MERGES)


def _wordpiece_train_sql(n_merges: int) -> str:
    """DuckDB mirror of ``wordpiece_train``: the iteration UNROLLS
    into a CTE chain — per step a pair count, a symbol count, the
    HUGEINT-exact likelihood score ``(cnt·10⁹) // (n_l·n_r)`` (floor
    matches Spark's pmod-decimal form on the nonnegative domain), a
    1-row winner, and the ##-stripping merge replace.

    The state CTEs are ``AS MATERIALIZED`` (r14): each ``s{{i-1}}`` is
    referenced TWICE (by ``a{{i}}`` and ``s{{i}}``), so DuckDB's
    default CTE inlining re-evaluates the whole chain 2^steps times —
    measured 103 s → 0.36 s at sf0.01 with byte-identical output."""
    ctes = [
        f"""w AS MATERIALIZED (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest({_TOKS}) AS word FROM documents)
  GROUP BY word
),
s0 AS (
  SELECT ' ' || substr(word, 1, 1)
         || regexp_replace(substr(word, 2), '(.)', ' ##\\1', 'g') AS s,
         freq
  FROM w)"""
    ]
    # first state CTE needs the MATERIALIZED marker too: s0 is
    # double-referenced by a1 and s1
    ctes[0] = ctes[0].replace("s0 AS (", "s0 AS MATERIALIZED (")
    sels = []
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT regexp_split_to_array(ltrim(s), ' ') AS arr, freq FROM s{i - 1}
),
p{i} AS (
  SELECT arr[i] AS lhs, arr[i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT arr, freq, unnest(range(1, len(arr))) AS i FROM a{i})
  GROUP BY lhs, rhs
),
u{i} AS (
  SELECT sym, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT unnest(arr) AS sym, freq FROM a{i})
  GROUP BY sym
),
b{i} AS (
  SELECT lhs, rhs, cnt,
         CAST((CAST(cnt AS HUGEINT) * 1000000000)
              // (CAST(ul.n AS HUGEINT) * ur.n) AS BIGINT) AS score_q
  FROM p{i}
  JOIN u{i} ul ON ul.sym = lhs
  JOIN u{i} ur ON ur.sym = rhs
  ORDER BY score_q DESC, lhs, rhs LIMIT 1
),
s{i} AS MATERIALIZED (
  SELECT replace(s, ' ' || lhs || ' ' || rhs,
                 ' ' || lhs || substr(rhs, 3)) AS s, freq
  FROM s{i - 1}, b{i}
)"""
        )
        sels.append(
            f"SELECT CAST({i} AS BIGINT) AS step, lhs, rhs, "
            f"lhs || substr(rhs, 3) AS merged, cnt AS pair_count, "
            f"score_q FROM b{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


UNIG_SEED_VOCAB = 40
UNIG_SEED_MAX_LEN = 5


def text_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84 Unigram-LM seed vocabulary (Kudo 2018 §3 / SentencePiece
    MakeSeedSentencePieces): every single character plus the top
    multi-character substrings by count·len — the trainer stage that
    feeds the X79 Viterbi encoder."""
    from genie_spark.analytics.text import unigram_seed_vocab

    return unigram_seed_vocab(
        _docs(spark, sf_dir),
        vocab_size=UNIG_SEED_VOCAB,
        max_piece_len=UNIG_SEED_MAX_LEN,
    )


def _unigram_seed_sql(vocab_size: int, max_piece_len: int) -> str:
    """DuckDB mirror of ``unigram_seed_vocab``: word histogram, nested
    range-unnest substring enumeration, count·len scores, alphabet
    rows always kept, top multi-char by (score DESC, piece) filling
    the remaining slots."""
    return f"""
WITH w AS MATERIALIZED (
  SELECT word, count(*) AS f
  FROM (SELECT unnest({_TOKS}) AS word FROM documents)
  GROUP BY word
),
s1 AS (
  SELECT word, f,
         CAST(unnest(range(1, least(length(word), {max_piece_len}) + 1))
              AS INT) AS ln
  FROM w
),
s2 AS (
  SELECT substring(word, CAST(i AS INT), ln) AS piece, f
  FROM (SELECT word, f, ln,
               unnest(range(1, length(word) - ln + 2)) AS i
        FROM s1)
),
pc AS MATERIALIZED (
  SELECT piece,
         CAST(length(piece) AS BIGINT) AS piece_len,
         CAST(sum(f) AS BIGINT) AS n_hits,
         CAST(length(piece) * sum(f) AS BIGINT) AS score,
         length(piece) = 1 AS in_alphabet
  FROM s2 GROUP BY piece
),
alpha AS (SELECT * FROM pc WHERE in_alphabet),
multi AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, piece) AS rn
  FROM pc WHERE NOT in_alphabet
)
SELECT piece, piece_len, n_hits, score, in_alphabet FROM alpha
UNION ALL
SELECT piece, piece_len, n_hits, score, in_alphabet FROM multi
WHERE rn <= {vocab_size} - (SELECT count(*) FROM alpha)
"""


def sketch_kll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75 per-group mergeable quantile sketches: one X70 artifact per
    language over documents.n_chars (k_max=64 so per-lang levels are
    non-trivial), with tercile estimates — the grouped form that
    answers per-slice thresholds (CCNet terciles) from a rolling store
    instead of a corpus re-scan."""
    from genie_spark.analytics.sketches import (
        quantile_level_sketch_by,
        quantile_sketch_estimates_by,
    )

    sk = quantile_level_sketch_by(
        _docs(spark, sf_dir), "lang", "n_chars", "doc_id", k_max=QS_BY_K_MAX
    )
    return quantile_sketch_estimates_by(sk, QS_BY_PHIS)


SKETCH_KLL_BY_SQL = f"""
WITH b AS (
  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             AS h60
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
tzt AS (
  SELECT g, v, h60,
         CASE WHEN h60 = 0 THEN 60
              ELSE CAST(length(bin(h60 & (-h60))) - 1 AS BIGINT)
         END AS tz
  FROM b
),
hist AS (SELECT g, tz, count(*) AS c FROM tzt GROUP BY g, tz),
lv AS (
  SELECT g, CAST(min(L) AS BIGINT) AS level FROM (
    SELECT gh.g, ls.L,
           (SELECT coalesce(sum(c), 0) FROM hist h2
            WHERE h2.g = gh.g AND h2.tz >= ls.L) AS cnt
    FROM (SELECT DISTINCT g FROM hist) gh,
         (SELECT unnest(range(0, 61)) AS L) ls
  ) WHERE cnt <= {QS_BY_K_MAX} GROUP BY g),
n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_items FROM tzt GROUP BY g),
kept AS (
  SELECT tzt.g, v, h60,
         CAST(row_number() OVER (PARTITION BY tzt.g ORDER BY v, h60)
              AS BIGINT) AS rk
  FROM tzt JOIN lv USING (g) WHERE tzt.tz >= lv.level
),
kc AS (SELECT g, CAST(count(*) AS BIGINT) AS k_kept FROM kept GROUP BY g),
phis AS (SELECT CAST(unnest([{", ".join(str(p) for p in QS_BY_PHIS)}])
                AS BIGINT) AS phi_milli),
t AS (
  SELECT n.g, phi_milli, n_items, level, k_kept,
         greatest(1, (phi_milli * n_items) // 1000) AS target_rank
  FROM n JOIN lv USING (g) JOIN kc USING (g), phis
),
sel AS (
  SELECT t.*,
         least(k_kept,
               greatest(1, (target_rank + (1 << level) - 1) // (1 << level)))
           AS rk_sel
  FROM t
)
SELECT sel.g, sel.phi_milli, sel.n_items, sel.level, sel.k_kept,
       CAST(sel.target_rank AS BIGINT) AS target_rank,
       kept.v AS est_value
FROM sel JOIN kept ON kept.g = sel.g AND kept.rk = sel.rk_sel
"""


def sketch_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77 mergeable moments artifact + derived stats per language
    over documents.n_chars: exact (n, Σx, Σx², min, max) BIGINTs and
    floor-milli mean/population-variance — the moments member of the
    sketch-artifact ladder."""
    from genie_spark.analytics.sketches import moments_sketch, moments_stats

    return moments_stats(moments_sketch(_docs(spark, sf_dir), "lang", "n_chars"))


def sketch_moments_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77 merge law, driver-hard (r14): the corpus is split into
    three ingest shards (doc_id mod 3 — the store's per-batch shape),
    one moments artifact built per shard, the artifacts merged by
    component sums, the stats derived from the MERGED artifact — and
    the oracle computes the GLOBAL aggregates directly, so the
    value-hash equality IS the merge law (merge(shard artifacts) ==
    whole-corpus artifact), checked end-to-end against DuckDB rather
    than only in pytest."""
    from genie_spark.analytics.sketches import (
        moments_merge,
        moments_sketch,
        moments_stats,
    )

    docs = _docs(spark, sf_dir)
    shards = [
        moments_sketch(
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i),
            "lang",
            "n_chars",
        )
        for i in range(3)
    ]
    return moments_stats(moments_merge(*shards))


SKETCH_MOMENTS_SQL = """
WITH m AS (
  SELECT lang AS g,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
         CAST(min(n_chars) AS BIGINT) AS min_v,
         CAST(max(n_chars) AS BIGINT) AS max_v
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
  GROUP BY lang
)
-- exact int128 mirror of moments_stats' decimal decomposition:
-- floor(A/B) = (A - floormod(A,B)) // B (numerator exactly divisible,
-- so //'s toward-zero truncation is exact); var split as q*1000 +
-- floor(1000*r/n2) so the *1000 never meets D = n*s2 - s1*s1
, w AS (
  SELECT g, n, s1, s2, min_v, max_v,
         CAST(s1 AS HUGEINT) * 1000 AS a,
         CAST(n AS HUGEINT) AS nh,
         CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS d,
         CAST(n AS HUGEINT) * n AS n2
  FROM m
), v AS (
  SELECT *,
         ((a % nh) + nh) % nh AS rm,
         d % n2 AS r1
  FROM w
)
SELECT g, n, s1, s2, min_v, max_v,
       CAST((a - rm) // nh AS BIGINT) AS mean_milli,
       CAST(((d - r1) // n2) * 1000
            + ((r1 * 1000) - ((r1 * 1000) % n2)) // n2 AS BIGINT)
           AS var_milli
FROM v
"""


CCNET_SAMPLE_BP = 5_000


def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 CCNet perplexity bucketing (Wenzek et al. 2020 §4.4):
    score under the doc_id % 50 != 0 bigram reference LM, split each
    language head/middle/tail at tercile thresholds computed on a
    deterministic 50% md5 sample (CCNet's sample-thresholds design —
    the corpus is never sorted)."""
    from genie_spark.analytics.text import ccnet_buckets

    docs = _docs(spark, sf_dir)
    return ccnet_buckets(
        docs,
        docs.where(F.col("doc_id") % 50 != 0),
        backoff_bits=BIGRAM_BACKOFF,
        sample_bp=CCNET_SAMPLE_BP,
    )


CCNET_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
mt AS (SELECT unnest(toks) AS w FROM t WHERE doc_id % 50 != 0),
u AS (SELECT w, count(*) AS cu FROM mt GROUP BY w),
tt AS (SELECT length(bin(CAST(sum(cu) AS BIGINT))) - 1 AS tbits FROM u),
mb AS (
  SELECT toks[i] AS wp, toks[i + 1] AS w
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
        FROM t WHERE doc_id % 50 != 0)
),
b AS (SELECT wp, w, count(*) AS cb FROM mb GROUP BY wp, w),
occ AS (
  SELECT doc_id, toks[i] AS wp, toks[i + 1] AS w
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM t WHERE lang IS NOT NULL)
),
s AS (
  SELECT occ.doc_id,
         CASE WHEN b.cb IS NOT NULL
              THEN (length(bin(up.cu)) - 1) - (length(bin(b.cb)) - 1)
              ELSE {BIGRAM_BACKOFF} + (SELECT tbits FROM tt)
                   - (length(bin(coalesce(uw.cu, 0) + 1)) - 1)
         END AS bits
  FROM occ
  LEFT JOIN b ON b.wp = occ.wp AND b.w = occ.w
  LEFT JOIN u up ON up.w = occ.wp
  LEFT JOIN u uw ON uw.w = occ.w
),
g AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(bits) AS BIGINT) AS total_bits,
         CAST((sum(bits) * 100) // count(*) AS BIGINT) AS bpt_centibits
  FROM s GROUP BY doc_id
),
sc AS (SELECT g.*, d.lang FROM g JOIN documents d USING (doc_id)),
sm AS (
  SELECT lang, bpt_centibits FROM sc
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 10000 < {CCNET_SAMPLE_BP}
),
r AS (
  SELECT lang, bpt_centibits,
         row_number() OVER (PARTITION BY lang ORDER BY bpt_centibits) AS rn
  FROM sm
),
c AS (SELECT lang, CAST(max(rn) AS BIGINT) AS n FROM r GROUP BY lang),
tg AS (
  SELECT lang,
         (333 * (n - 1)) // 1000 + 1 AS rh,
         (667 * (n - 1)) // 1000 + 1 AS rm
  FROM c
),
th AS (
  SELECT r.lang,
         CAST(min(CASE WHEN rn = tg.rh THEN bpt_centibits END) AS BIGINT)
             AS t_head_centibits,
         CAST(min(CASE WHEN rn = tg.rm THEN bpt_centibits END) AS BIGINT)
             AS t_mid_centibits
  FROM r JOIN tg USING (lang) GROUP BY r.lang
)
SELECT sc.doc_id, sc.lang, sc.n_bigrams, sc.total_bits, sc.bpt_centibits,
       th.t_head_centibits, th.t_mid_centibits,
       CASE WHEN th.t_head_centibits IS NULL THEN 'unsampled'
            WHEN sc.bpt_centibits <= th.t_head_centibits THEN 'head'
            WHEN sc.bpt_centibits <= th.t_mid_centibits THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc LEFT JOIN th USING (lang)
"""


def text_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64 Gopher line/paragraph repetition section (Rae et al. 2021
    Table A1): duplicate-line and duplicate-paragraph fractions plus
    their character fractions, fully narrow (X11 sorted-run fold)."""
    from genie_spark.analytics.text import line_repetition_stats

    return line_repetition_stats(_docs(spark, sf_dir))


def _line_rep_unit_sql(sep_sql: str, prefix: str) -> str:
    """Relational mirror of one unit (lines / paragraphs): explode,
    per-(doc, unit) counts, excess occurrences + their characters.
    The ORACLE may shuffle — only the Spark side must stay narrow."""
    return f"""
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_{prefix},
         CAST(sum(c - 1) AS BIGINT) AS dup_{prefix},
         CAST(sum(c - 1) AS BIGINT)
             / greatest(CAST(sum(c) AS BIGINT), 1) AS dup_{prefix}_frac,
         CAST(sum((c - 1) * length(u)) AS BIGINT)
             / greatest(CAST(sum(c * length(u)) AS BIGINT), 1)
             AS dup_{prefix}_char_frac
  FROM (
    SELECT doc_id, u, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, {sep_sql})) AS u
          FROM documents)
    GROUP BY doc_id, u
  ) GROUP BY doc_id"""


LINE_REP_SQL = f"""
WITH l AS ({_line_rep_unit_sql("chr(10)", "lines")}),
p AS ({_line_rep_unit_sql("chr(10) || chr(10)", "paras")})
SELECT doc_id,
       n_lines, dup_lines, dup_lines_frac, dup_lines_char_frac,
       n_paras, dup_paras, dup_paras_frac, dup_paras_char_frac,
       (dup_lines_frac > 0.30 OR dup_paras_frac > 0.30
        OR dup_lines_char_frac > 0.20 OR dup_paras_char_frac > 0.20)
           AS flagged
FROM l JOIN p USING (doc_id)
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66 character-entropy proxy: integer-bit low-entropy /
    gibberish signal, fully narrow per-row."""
    from genie_spark.analytics.text import char_entropy

    return char_entropy(_docs(spark, sf_dir))


ENTROPY_SQL = """
WITH t AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM t),
g AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
n AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM g GROUP BY doc_id),
e AS (
  SELECT g.doc_id,
         CAST(sum(g.cnt * ((length(bin(n.n)) - 1)
                           - (length(bin(g.cnt)) - 1))) AS BIGINT)
             AS entropy_bits,
         CAST(count(*) AS BIGINT) AS n_distinct_chars,
         CAST(max(n.n) AS BIGINT) AS n_chars
  FROM g JOIN n USING (doc_id) GROUP BY g.doc_id
)
SELECT doc_id, n_chars, n_distinct_chars, entropy_bits,
       CAST((entropy_bits * 1000) // n_chars AS BIGINT)
           AS mean_entropy_milli,
       ((entropy_bits * 1000) // n_chars) < 2000 AS is_low_entropy
FROM e
"""


BLOCKLIST_TERMS = ("slow", "broken", "error")


def text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67 C4 blocklist filter: whole-token match against a bounded
    term list, with hit-count and first-term audit columns."""
    from genie_spark.analytics.text import blocklist_filter

    return blocklist_filter(_docs(spark, sf_dir), list(BLOCKLIST_TERMS))


_BLOCK_SQL_LIST = "[" + ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS) + "]"

BLOCKLIST_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform({_TOKS}, x -> lower(x)),
                     x -> list_contains({_BLOCK_SQL_LIST}, x)) AS hits
  FROM documents
)
SELECT doc_id,
       CAST(len(hits) AS BIGINT) AS n_blocked_tokens,
       CASE WHEN len(hits) > 0 THEN hits[1] END AS first_blocked_term,
       len(hits) > 0 AS is_blocked
FROM t
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91 exact-integer PageRank (analytics/graph.py) over the
    order⇄part co-purchase bipartite graph (both directions of every
    lineitem, multigraph semantics): 3 synchronous iterations,
    d=0.85 in milli units, every step a long ``div`` — the oracle
    unrolls identical integer iterations, so the driver hash pins the
    whole trajectory, not just the final ordering."""
    from genie_spark.analytics.graph import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(
        li.select(
            (F.col("l_partkey") * 2 + 1).alias("src"),
            (F.col("l_orderkey") * 2).alias("dst"),
        )
    )
    return pagerank(edges, iters=3, damping_milli=850)


def _pagerank_sql() -> str:
    steps = []
    prev = "r0"
    for i in (1, 2, 3):
        steps.append(
            f"""s{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS s
  FROM e JOIN d USING (src) JOIN {prev} r ON r.node = e.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(150000 + (850 * coalesce(s.s, 0)) // 1000 AS BIGINT) AS r
  FROM n LEFT JOIN s{i} s USING (node)
)"""
        )
        prev = f"r{i}"
    return (
        """WITH e AS MATERIALIZED (
  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
  UNION ALL
  SELECT l_partkey * 2 + 1 AS src, l_orderkey * 2 AS dst FROM lineitem
),
n AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION SELECT dst AS node FROM e)
),
d AS MATERIALIZED (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
"""
        + (",\n".join(steps))
        + "\nSELECT node, r AS rank FROM r3"
    )


def emb_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function battery (§2.8's array face): per
    vector, min/max/sum/positive-count over the QUANTIZED elements —
    aggregate/filter/size composed entirely inside whole-stage
    codegen (zero UDF, zero exchange beyond the scan)."""
    emb = _emb(spark, sf_dir)
    q = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0"
        " + 0.5) AS BIGINT))"
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.array_min(q).alias("min_q"),
        F.array_max(q).alias("max_q"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_q"),
        F.size(F.filter(q, lambda x: x > 0)).cast("long").alias("n_pos"),
    )


VECTOR_STATS_SQL = f"""
WITH q AS (SELECT vec_id, embedding, {_QUANT_SQL} AS v FROM embeddings)
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(list_min(v) AS BIGINT) AS min_q,
       CAST(list_max(v) AS BIGINT) AS max_q,
       CAST(list_sum(v) AS BIGINT) AS sum_q,
       CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos
FROM q
"""


def basket_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93 market-basket pair mining: top-25 co-purchased part pairs
    with min support 2 — the classic co-occurrence reduction (the
    frequent-itemset k=2 level, which at 100 TB is one per-basket
    pair expansion bounded by basket size² + one count aggregate with
    map-side partials; higher k levels compose by joining this
    output back as the candidate filter, the a-priori shape)."""
    lp = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # r16: per-basket pair expansion via ONE order-keyed groupBy +
    # two chained Generates (the setsim_prefix_pairs candidate form)
    # instead of the equi-self-join — one exchange of the
    # (order, part) stream rather than two join sides plus the same
    # pair-stream aggregate.  Basket size bounds the per-group fan-out
    # (the docstring's size² bound, unchanged); sort_array gives
    # p1 < p2 by construction.  Interleaved A/B at sf0.1: 1.65 vs
    # 1.73 s median (wash — adopted as the shape fix), identical
    # 25-row output.  (The r15 rejection was the nested-transform
    # struct-building form, measured 15% slower; the streamed
    # posexplode + tail-slice form has no per-element struct tower.)
    baskets = (
        lp.groupBy("o")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    lefts = baskets.select(F.posexplode("ps").alias("pos", "p1"), F.col("ps"))
    pairs = lefts.select(
        "p1",
        F.explode(
            F.slice(
                F.col("ps"),
                F.col("pos") + 2,
                F.greatest(F.size("ps") - F.col("pos") - 1, F.lit(0)),
            )
        ).alias("p2"),
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        .where(F.col("n_baskets") >= 2)
        .orderBy(F.desc("n_baskets"), F.asc("p1"), F.asc("p2"))
        .limit(25)
    )


BASKET_PAIRS_SQL = """
WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
c AS (
  SELECT x.p AS p1, y.p AS p2, CAST(count(*) AS BIGINT) AS n_baskets
  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
  GROUP BY x.p, y.p
  HAVING count(*) >= 2
)
SELECT p1, p2, n_baskets FROM c
ORDER BY n_baskets DESC, p1, p2
LIMIT 25
"""


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92 degree-oriented triangle count (analytics/graph.py) over
    the part co-purchase graph (parts linked when they share an
    order): the count is orientation-invariant, so the oracle's plain
    id-ordered 3-way join must agree with the skew-proof
    degree-oriented Spark plan exactly."""
    from genie_spark.analytics.graph import triangle_count

    lp = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # r16: same streamed per-basket expansion as basket_pair_mining
    # (one order-keyed exchange instead of the equi-self-join; edge
    # multiset identical, 1 196 000 rows asserted in the A/B —
    # 1.47 vs 1.55 s median, a wash adopted as the shape fix)
    baskets = (
        lp.groupBy("o")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    lefts = baskets.select(F.posexplode("ps").alias("pos", "src"), F.col("ps"))
    edges = (
        lefts.select(
            "src",
            F.explode(
                F.slice(
                    F.col("ps"),
                    F.col("pos") + 2,
                    F.greatest(F.size("ps") - F.col("pos") - 1, F.lit(0)),
                )
            ).alias("dst"),
        )
        .distinct()
    )
    return triangle_count(edges)


TRIANGLES_SQL = """
WITH lp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT DISTINCT x.p AS a, y.p AS b
  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
),
t AS (
  SELECT count(*) AS c
  FROM e0 e1
  JOIN e0 e2 ON e2.a = e1.b
  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
),
n AS (
  SELECT count(DISTINCT node) AS nn FROM (
    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
),
m AS (SELECT count(*) AS ne FROM e0)
SELECT CAST(nn AS BIGINT) AS n_nodes, CAST(ne AS BIGINT) AS n_edges,
       CAST(c AS BIGINT) AS n_triangles
FROM n, m, t
"""


def emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89 scalar-quantized (SQ8) search: per-dim min/max training,
    byte-code encoding, decode-then-cosine top-10 for the standard
    query set (vec_id < 20) — the FAISS/Lucene SQ codec expressed as
    one training aggregate + literal-array encode + the local-top-k
    Arrow engine scoring exact-integer reconstructions."""
    from genie_spark.analytics.similarity import sq8_topk

    return sq8_topk(
        _emb(spark, sf_dir), k=10, query_filter=F.col("vec_id") < 20
    )


SQ8_SQL = f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
u AS (
  SELECT vec_id, i, v[i] AS x
  FROM q, unnest(generate_series(1, len(v))) AS t(i)
),
mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i),
-- decode-then-score: d_i = 255*mn_i + code_i*(mx_i - mn_i), the
-- exact-integer SQ8 reconstruction (code dot products alone would be
-- order-broken by the affine min shift)
dec AS (
  SELECT vec_id,
         list(CAST(255 * mn
                   + (((x - mn) * 255) // greatest(1, mx - mn))
                     * (mx - mn) AS BIGINT)
              ORDER BY i) AS d
  FROM u JOIN mm USING (i) GROUP BY vec_id
),
n AS (SELECT vec_id, d, CAST(list_dot_product(d, d) AS BIGINT) AS nn
      FROM dec),
s AS (
  SELECT qa.vec_id AS query_id, cb.vec_id AS neighbor_id,
         CAST(list_dot_product(qa.d, cb.d) AS BIGINT)
             / (sqrt(qa.nn) * sqrt(cb.nn)) AS qcos
  FROM n qa JOIN n cb ON qa.vec_id != cb.vec_id
  WHERE qa.vec_id < 20
)
SELECT query_id, neighbor_id, rank, qcos FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 10
"""


def emb_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 Matryoshka two-stage retrieval: prefix-16 integer-dot
    candidate pass (top-50), full-dim cosine rerank (top-10) — the
    adaptive-retrieval funnel with an engine-reproducible candidate
    set (exact integer stage-1 scores, pinned tie order)."""
    from genie_spark.analytics.similarity import prefix_rerank_topk

    return prefix_rerank_topk(
        _emb(spark, sf_dir),
        prefix_dim=16,
        m=50,
        k=10,
        query_filter=F.col("vec_id") < 20,
    )


PREFIX_RERANK_SQL = f"""
WITH q AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
p AS (SELECT vec_id, list_slice(v, 1, 16) AS pv FROM q),
s1 AS (
  SELECT qa.vec_id AS query_id, cb.vec_id AS neighbor_id,
         CAST(list_dot_product(qa.pv, cb.pv) AS BIGINT) AS pdot
  FROM p qa JOIN p cb ON qa.vec_id != cb.vec_id
  WHERE qa.vec_id < 20
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY pdot DESC, neighbor_id) AS r
    FROM s1
  ) WHERE r <= 50
),
n AS (SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM q),
s2 AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_dot_product(a.v, b.v) AS BIGINT)
             / (sqrt(a.nn) * sqrt(b.nn)) AS cosine
  FROM cand c
  JOIN n a ON a.vec_id = c.query_id
  JOIN n b ON b.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM s2
) WHERE rank <= 10
"""


def ann_ivf_store_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88 driver-hard (VERDICT r14 item 3): build the persistent IVF
    index store in a scratch dir INSIDE the query body, probe it with
    the standard query set (vec_id < 20, k=10, n_probe=4), and return
    the ``ivf_topk`` schema.  The store answer is pytest-pinned
    row-for-row equal to the ephemeral ``ann_ivf_topk``
    (test_ivf_store_build_query_append_parity); this query turns that
    equality into a DRIVER-checked fact against the same DuckDB CTE
    oracle — the X82 ``corpus_leakage_split_store`` precedent applied
    to X88.  The result is localCheckpointed so the scratch store can
    be deleted before the driver collects.

    Scale note: the temp-dir store is a test harness; a deployment
    builds once at a durable path and only ``ivf_store_topk`` runs
    per query batch (partition-pruned to n_probe/n_centroids of the
    cells — see ann_store.py module docs)."""
    import shutil
    import tempfile

    from genie_spark.analytics.ann_store import (
        ivf_store_build,
        ivf_store_topk,
    )

    emb = _emb(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="genie_ivf_store_")
    try:
        ivf_store_build(emb, scratch, n_centroids=16)
        out = ivf_store_topk(
            spark,
            scratch,
            emb.where(F.col("vec_id") < 20),
            k=10,
            n_probe=4,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


def corpus_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87 driver-hard round-trip (VERDICT r14 item 6): write the
    corpus as WebDataset tar shards into a scratch dir, read the
    archives back with ``read_webdataset``, and return one row per
    member (doc_id, split, shard, shuffle_rank, n_chars) — so the
    sink's byte contract (member naming, shard assignment, shuffle
    order, utf-8 payload fidelity) is checked end-to-end against the
    md5 split/shard/shuffle oracle rule, not just pytest-pinned.
    The parsed rows are localCheckpointed so the scratch dir can be
    deleted before the driver collects."""
    import shutil
    import tempfile

    from genie_spark.analytics.corpus import (
        read_webdataset,
        write_webdataset_shards,
    )

    docs = _docs(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="genie_wds_")
    try:
        write_webdataset_shards(docs, scratch, n_shards=SPLIT_SHARDS)
        out = (
            read_webdataset(spark, scratch)
            .select(
                F.col("key").cast("long").alias("doc_id"),
                "split",
                "shard",
                "shuffle_rank",
                F.length("text").cast("long").alias("n_chars"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


WDS_ROUNDTRIP_SQL = f"""
WITH base AS ({SPLIT_SHUFFLE_SQL})
SELECT b.doc_id, b.split, b.shard, b.shuffle_rank,
       CAST(length(coalesce(d.text, '')) AS BIGINT) AS n_chars
FROM base b JOIN documents d USING (doc_id)
"""


ANALYTICS_QUERIES: dict = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_setsim_prefix": dedup_setsim_prefix,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_components": dedup_components,
    "dedup_embedding_drop": dedup_embedding_drop,
    "ann_cosine_pairs": ann_cosine_pairs,
    "ann_topk": ann_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_lsh_buckets": ann_lsh_buckets,
    "ann_lsh_banded": ann_lsh_banded,
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_tfidf_topk": text_tfidf_topk,
    "text_repetition": text_repetition,
    "text_lm_surprisal": text_lm_surprisal,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_bloom_decontaminate": corpus_bloom_decontaminate,
    "corpus_stratified_sample": corpus_stratified_sample,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_passage_dedup": corpus_passage_dedup,
    "corpus_split_shuffle": corpus_split_shuffle,
    "dedup_quality_survivors": dedup_quality_survivors,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "cluster_kmeans": cluster_kmeans,
    "cluster_balanced_sample": cluster_balanced_sample_q,
    "dedup_semantic": dedup_semantic,
    "sketch_kmv_distinct": sketch_kmv_distinct,
    "sketch_kmv_jaccard": sketch_kmv_jaccard,
    "sketch_quantiles": sketch_quantiles,
    "corpus_chunk_overlap": corpus_chunk_overlap,
    "text_pii_scrub": text_pii_scrub,
    "corpus_keep_list": corpus_keep_list_q,
    "multimodal_features": multimodal_features,
    "sketch_count_min": sketch_count_min,
    "sketch_hll_distinct": sketch_hll_distinct,
    "sketch_cm_sharded": sketch_cm_sharded,
    "sketch_hll_sharded": sketch_hll_sharded,
    "sketch_kmv_sharded": sketch_kmv_sharded,
    "multimodal_phash_dedup": multimodal_phash_dedup,
    "multimodal_audio_dedup": multimodal_audio_dedup,
    "corpus_token_budget": corpus_token_budget,
    "corpus_priority_sample": corpus_priority_sample,
    "sketch_heavy_hitters": sketch_heavy_hitters,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_substring_pairs": dedup_substring_pairs,
    "dedup_substring_clean": dedup_substring_clean,
    "text_bm25_topk": text_bm25_topk,
    "dedup_winnow_fingerprints": dedup_winnow_fingerprints,
    "dedup_winnow_pairs": dedup_winnow_pairs,
    "text_quality_classifier": text_quality_classifier,
    "corpus_dsir_sample": corpus_dsir_sample,
    "text_bpe_merges": text_bpe_merges,
    "dedup_substring_clean_min50": dedup_substring_clean_min50,
    "text_bpe_encode": text_bpe_encode,
    "text_normalize_nfc": text_normalize_nfc,
    "text_token_drift": text_token_drift,
    "corpus_domain_cap": corpus_domain_cap,
    "corpus_temperature_mix": corpus_temperature_mix,
    "sketch_kll_quantiles": sketch_kll_quantiles,
    "sketch_kll_grouped": sketch_kll_grouped,
    "sketch_moments": sketch_moments,
    "sketch_moments_sharded": sketch_moments_sharded,
    "ann_ivf_store_topk": ann_ivf_store_topk_q,
    "corpus_webdataset_roundtrip": corpus_webdataset_roundtrip,
    "graph_pagerank": graph_pagerank,
    "graph_triangles": graph_triangles,
    "basket_pair_mining": basket_pair_mining,
    "emb_vector_stats": emb_vector_stats,
    "emb_sq8_topk": emb_sq8_topk,
    "emb_prefix_rerank": emb_prefix_rerank,
    "corpus_ccnet_buckets": corpus_ccnet_buckets,
    "text_wordpiece_encode": text_wordpiece_encode,
    "text_wordpiece_coverage": text_wordpiece_coverage,
    "text_wordpiece_train": text_wordpiece_train,
    "text_unigram_encode": text_unigram_encode,
    "text_unigram_seed": text_unigram_seed,
    "emb_random_projection": emb_random_projection,
    "retrieval_rrf_fusion": retrieval_rrf_fusion,
    "corpus_leakage_safe_split": corpus_leakage_safe_split,
    "corpus_leakage_split_store": corpus_leakage_split_store,
    "corpus_epoch_allocation": corpus_epoch_allocation,
    "sketch_kmv_setops": sketch_kmv_setops,
    "sketch_kmv_containment": sketch_kmv_containment,
    "corpus_decontaminate_semantic": corpus_decontaminate_semantic,
    "corpus_soft_dedup": corpus_soft_dedup,
    "text_bpe_fertility": text_bpe_fertility,
    "text_gopher_filter": text_gopher_filter,
    "ann_pq_codes": ann_pq_codes,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_residual_topk": ann_ivfpq_residual_topk,
    "text_lm_bigram": text_lm_bigram,
    "text_line_repetition": text_line_repetition,
    "text_char_entropy": text_char_entropy,
    "text_blocklist": text_blocklist,
}

ANALYTICS_ORACLES: dict = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_JACCARD_SQL,
    "dedup_setsim_prefix": DEDUP_SETSIM_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_components": _components_sql(),
    "dedup_embedding_drop": _embedding_drop_sql().format(
        ann_pairs=_ivf_candidate_sql(EMB_DROP_CENTROIDS, EMB_DROP_PROBE)
    ),
    "ann_cosine_pairs": ANN_PAIRS_SQL,
    "ann_topk": ANN_TOPK_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "ann_lsh_buckets": ANN_LSH_SQL,
    "ann_lsh_banded": _lsh_banded_sql(),
    "text_token_stats": TOKEN_STATS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_lang_id": LANG_ID_SQL,
    "text_fingerprint": FINGERPRINT_SQL,
    "text_tfidf_topk": TFIDF_SQL,
    "text_repetition": REPETITION_SQL,
    "text_lm_surprisal": LM_SURPRISAL_SQL,
    "corpus_decontaminate": DECONTAMINATE_SQL,
    "corpus_bloom_decontaminate": _bloom_decontaminate_sql(),
    "corpus_stratified_sample": STRATIFIED_SAMPLE_SQL,
    "corpus_pack_sequences": PACK_SEQUENCES_SQL,
    "corpus_passage_dedup": PASSAGE_DEDUP_SQL,
    "corpus_split_shuffle": SPLIT_SHUFFLE_SQL,
    "dedup_quality_survivors": _quality_survivors_sql(),
    "dedup_incremental_minhash": _incremental_minhash_sql(),
    "cluster_kmeans": _kmeans_sql(),
    "cluster_balanced_sample": _cluster_sample_sql(),
    "dedup_semantic": DEDUP_SEMANTIC_SQL,
    "sketch_kmv_distinct": SKETCH_KMV_SQL,
    "sketch_kmv_jaccard": SKETCH_JACCARD_SQL,
    "sketch_quantiles": SKETCH_QUANTILES_SQL,
    "corpus_chunk_overlap": CHUNK_SQL,
    "text_pii_scrub": _pii_scrub_sql(),
    "corpus_keep_list": _keep_list_sql(),
    "multimodal_features": MULTIMODAL_SQL,
    "sketch_count_min": _count_min_sql(),
    "sketch_hll_distinct": _hll_sql(),
    # sharded forms share the GLOBAL oracles: equality IS the merge law
    "sketch_cm_sharded": _count_min_sql(),
    "sketch_hll_sharded": _hll_sql(),
    "sketch_kmv_sharded": SKETCH_KMV_SQL,
    "multimodal_phash_dedup": _phash_dedup_sql(),
    "multimodal_audio_dedup": _audio_dedup_sql(),
    "corpus_token_budget": TOKEN_BUDGET_SQL,
    "corpus_priority_sample": PRIORITY_SAMPLE_SQL,
    "sketch_heavy_hitters": HEAVY_HITTERS_SQL,
    "dedup_substring_spans": SUBSTRING_SPANS_SQL,
    "dedup_substring_pairs": SUBSTRING_PAIRS_SQL,
    "dedup_substring_clean": SUBSTRING_CLEAN_SQL,
    "text_bm25_topk": _bm25_sql(),
    "dedup_winnow_fingerprints": WINNOW_FP_SQL,
    "dedup_winnow_pairs": WINNOW_PAIRS_SQL,
    "text_quality_classifier": QUALITY_CLS_SQL,
    "corpus_dsir_sample": DSIR_SQL,
    "text_bpe_merges": _bpe_sql(BPE_MERGES),
    "dedup_substring_clean_min50": _substring_clean_sql(SPAN_MIN_LEN),
    "text_bpe_encode": _bpe_encode_sql(BPE_MERGES),
    "text_normalize_nfc": NORMALIZE_SQL,
    "text_token_drift": DRIFT_SQL,
    "corpus_domain_cap": DOMAIN_CAP_SQL,
    "corpus_temperature_mix": TEMP_MIX_SQL,
    "sketch_kll_quantiles": SKETCH_KLL_SQL,
    "sketch_kll_grouped": SKETCH_KLL_BY_SQL,
    "sketch_moments": SKETCH_MOMENTS_SQL,
    # the sharded form shares the GLOBAL oracle: equality IS the merge law
    "sketch_moments_sharded": SKETCH_MOMENTS_SQL,
    "ann_ivf_store_topk": ANN_IVF_SQL,
    "corpus_webdataset_roundtrip": WDS_ROUNDTRIP_SQL,
    "graph_pagerank": _pagerank_sql(),
    "graph_triangles": TRIANGLES_SQL,
    "basket_pair_mining": BASKET_PAIRS_SQL,
    "emb_vector_stats": VECTOR_STATS_SQL,
    "emb_sq8_topk": SQ8_SQL,
    "emb_prefix_rerank": PREFIX_RERANK_SQL,
    "corpus_ccnet_buckets": CCNET_SQL,
    "text_wordpiece_encode": _wordpiece_sql(WP_VOCAB, WP_MAX_WORD),
    "text_wordpiece_coverage": _wordpiece_coverage_sql(WP_VOCAB, WP_MAX_WORD),
    "text_wordpiece_train": _wordpiece_train_sql(WP_TRAIN_MERGES),
    "text_unigram_seed": _unigram_seed_sql(UNIG_SEED_VOCAB, UNIG_SEED_MAX_LEN),
    "emb_random_projection": _random_projection_sql(),
    "retrieval_rrf_fusion": _rrf_fusion_sql(),
    "text_unigram_encode": _unigram_sql(UNIGRAM_VOCAB, UNIG_MAX_WORD),
    "corpus_leakage_safe_split": LEAKAGE_SPLIT_SQL.format(minhash=_minhash_sql()),
    "corpus_leakage_split_store": _leakage_split_store_sql().format(
        minhash=_minhash_sql()
    ),
    "corpus_epoch_allocation": EPOCH_ALLOC_SQL,
    "sketch_kmv_setops": SKETCH_SETOPS_SQL,
    # containment wraps the set-ops SQL: same estimates, the same IEEE
    # division, NULL on an empty side, clamped at 1 from above
    "sketch_kmv_containment": f"""
WITH base AS MATERIALIZED ({SKETCH_SETOPS_SQL})
SELECT a, b, est_a, est_b, est_intersection,
       CASE WHEN est_a > 0 THEN least(1.0, est_intersection / est_a) END
           AS cont_ab,
       CASE WHEN est_b > 0 THEN least(1.0, est_intersection / est_b) END
           AS cont_ba
FROM base
""",
    "corpus_decontaminate_semantic": SEMDECON_SQL,
    "corpus_soft_dedup": SOFT_DEDUP_SQL,
    "text_bpe_fertility": _bpe_fertility_sql(BPE_MERGES),
    "text_gopher_filter": GOPHER_SQL,
    "ann_pq_codes": _pq_codes_sql(),
    "ann_pq_topk": _pq_topk_sql(),
    "ann_ivfpq_topk": _ivfpq_sql(),
    "ann_ivfpq_residual_topk": _ivfpq_residual_sql(),
    "text_lm_bigram": LM_BIGRAM_SQL,
    "text_line_repetition": LINE_REP_SQL,
    "text_char_entropy": ENTROPY_SQL,
    "text_blocklist": BLOCKLIST_SQL,
}
