"""Property-based tests (hypothesis) for the trickiest operators:
binned interval joins vs a brute-force oracle, upsert MERGE algebra,
and PHI-redaction invariants.  Small example counts — every example is
a Spark job."""

from __future__ import annotations

import pytest

try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from genie_spark.functions.redact import redact_phi
from genie_spark.operators.intervals import interval_anti_join, interval_semi_join
from genie_spark.operators.upsert import apply_upsert

_SETTINGS = dict(max_examples=12, deadline=None)

points_st = st.lists(
    st.tuples(st.sampled_from(["1", "2"]), st.integers(0, 300)),
    min_size=1, max_size=12,
)
intervals_st = st.lists(
    st.tuples(
        st.sampled_from(["1", "2"]), st.integers(0, 300), st.integers(0, 300)
    ),
    min_size=1, max_size=8,
)


@given(points=points_st, intervals=intervals_st, pad=st.sampled_from([0, 5]))
@settings(**_SETTINGS)
def test_interval_join_matches_bruteforce(spark, points, intervals, pad):
    """semi/anti partition the points exactly like the O(n·m) oracle —
    bin_size=64 with positions up to 300 exercises bin crossings."""
    ivs = [(c, min(s, e), max(s, e)) for c, s, e in intervals]
    pts_df = spark.createDataFrame(
        [(c, p, i) for i, (c, p) in enumerate(points)], "chrom string, pos long, rid long"
    )
    ivs_df = spark.createDataFrame(ivs, "chrom string, start long, stop long")

    def hits(c, p):
        return any(
            c == ic and s - pad <= p <= e + pad for ic, s, e in ivs
        )

    expect_semi = {i for i, (c, p) in enumerate(points) if hits(c, p)}
    semi = interval_semi_join(
        pts_df, ivs_df, on=["chrom"], pos="pos", start="start", end="stop",
        bin_size=64, pad=pad,
    )
    anti = interval_anti_join(
        pts_df, ivs_df, on=["chrom"], pos="pos", start="start", end="stop",
        bin_size=64, pad=pad,
    )
    got_semi = {r["rid"] for r in semi.collect()}
    got_anti = {r["rid"] for r in anti.collect()}
    assert got_semi == expect_semi
    assert got_anti == set(range(len(points))) - expect_semi


rows_st = st.lists(
    st.tuples(st.integers(0, 6), st.text("abc", min_size=1, max_size=3)),
    min_size=1, max_size=10,
)


@given(existing=rows_st, new=rows_st)
@settings(**_SETTINGS)
def test_upsert_algebra(spark, existing, new):
    """MERGE result: new wins on key collisions, union of keys
    otherwise; applying the same batch twice is a no-op."""
    # dedupe inputs by key (MERGE semantics presume unique keys per side)
    e = {k: v for k, v in existing}
    n = {k: v for k, v in new}
    e_df = spark.createDataFrame(list(e.items()), "k long, v string")
    n_df = spark.createDataFrame(list(n.items()), "k long, v string")

    once = apply_upsert(n_df, e_df, keys=["k"])
    got = {r["k"]: r["v"] for r in once.collect()}
    assert got == {**e, **n}

    twice = apply_upsert(n_df, once, keys=["k"])
    assert {r["k"]: r["v"] for r in twice.collect()} == got


day_value_st = st.one_of(
    st.integers(-100, 40000).map(str),
    st.sampled_from([">32485", "<6570", "Unknown", "Not Collected", ""]),
)


@given(age=day_value_st, by=st.integers(1900, 2010).map(str))
@settings(**_SETTINGS)
def test_redaction_invariants(spark, age, by):
    """No released interval value may exceed 89 years; '<'-marked
    values become 'withheld'; redaction is idempotent."""
    df = spark.createDataFrame(
        [(age, by)], "AGE_AT_SEQ_REPORT string, BIRTH_YEAR string"
    )
    out = redact_phi(df)
    row = out.collect()[0]
    val = row["AGE_AT_SEQ_REPORT"]
    try:
        assert int(val) <= 32485  # never release an age > 89y
    except ValueError:
        pass  # sentinel string — fine
    if "<" in age:
        assert val == "withheld"
    if age.lstrip("-").isdigit() and int(age) > 32485:
        assert val == ">32485"
        assert row["BIRTH_YEAR"] == "cannotReleaseHIPAA"

    again = redact_phi(out).collect()[0]
    assert again["AGE_AT_SEQ_REPORT"] == val
    assert again["BIRTH_YEAR"] == row["BIRTH_YEAR"]


pairs_st = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda t: t[0] != t[1]),
    min_size=1, max_size=15,
)


@given(pairs=pairs_st)
@settings(**_SETTINGS)
def test_connected_components_matches_bfs(spark, pairs):
    """Iterative min-label propagation equals a driver-side BFS
    union-find on arbitrary graphs."""
    from genie_spark.analytics.dedup import connected_components

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for start in adj:
        if start in expect:
            continue
        comp, stack = set(), [start]
        while stack:
            n = stack.pop()
            if n in comp:
                continue
            comp.add(n)
            stack.extend(adj[n] - comp)
        label = min(comp)
        for n in comp:
            expect[n] = label

    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert got == expect


# (id, group, colA value, colB value) rows for two release snapshots
_snap_row = st.tuples(
    st.integers(0, 8),
    st.sampled_from(["C1", "C2"]),
    st.sampled_from(["x", "y", None]),
    st.sampled_from(["p", "q"]),
)
snap_st = st.lists(_snap_row, min_size=1, max_size=10, unique_by=lambda r: r[0])


@given(older=snap_st, current=snap_st)
@settings(**_SETTINGS)
def test_value_count_decreases_matches_pandas_model(spark, older, current):
    """value_count_decreases equals the reference's per-group pandas
    value_counts diff (check_column_decreases semantics: current
    restricted to older ids; flag when any value's count drops)."""
    from collections import Counter

    from genie_spark.operators.aggregations import value_count_decreases

    cols = ["SAMPLE_ID", "CENTER", "A", "B"]
    older_rows = [(f"S{r[0]}", r[1], r[2], r[3]) for r in older]
    current_rows = [(f"S{r[0]}", r[1], r[2], r[3]) for r in current]

    old_ids = {r[0] for r in older_rows}
    cur_kept = [r for r in current_rows if r[0] in old_ids]

    expect = {}
    groups = {r[1] for r in older_rows} | {r[1] for r in cur_kept}
    for g in groups:
        for ci, cname in enumerate(cols):
            if cname == "CENTER":
                continue
            new_c = Counter(
                r[ci] for r in cur_kept if r[1] == g and r[ci] is not None
            )
            old_c = Counter(
                r[ci] for r in older_rows if r[1] == g and r[ci] is not None
            )
            expect[(g, cname)] = any(
                new_c.get(v, 0) < old_c[v] for v in set(old_c) | set(new_c)
            )

    schema = "SAMPLE_ID string, CENTER string, A string, B string"
    got = {
        (r["CENTER"], r["column"]): r["has_decrease"]
        for r in value_count_decreases(
            spark.createDataFrame(current_rows, schema),
            spark.createDataFrame(older_rows, schema),
        ).collect()
    }
    for key, exp in expect.items():
        assert got.get(key, False) == exp, (key, exp, got)


@given(pairs=pairs_st)
@settings(**_SETTINGS)
def test_near_dup_drop_list_matches_bfs(spark, pairs):
    """Drop list = every node except the min-id survivor of its
    component, for arbitrary pair graphs."""
    from genie_spark.analytics.dedup import near_dup_drop_list

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = set()
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            n = stack.pop()
            if n in comp:
                continue
            comp.add(n)
            stack.extend(adj[n] - comp)
        seen |= comp
        survivor = min(comp)
        expect |= {(n, survivor) for n in comp if n != survivor}

    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        (r["drop_id"], r["cluster_id"])
        for r in near_dup_drop_list(df).collect()
    }
    assert got == expect


docs_st = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8),
    min_size=1,
    max_size=6,
)


@given(docs=docs_st)
@settings(**_SETTINGS)
def test_passage_dedup_matches_sequential_model(spark, docs):
    """Token-window passage dedup equals the obvious sequential model:
    walk documents in id order, keep a chunk iff its text was never
    seen before (any doc, any position)."""
    from genie_spark.analytics.corpus import passage_dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    out = {
        r["doc_id"]: r
        for r in passage_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"), n_tokens=2
        ).collect()
    }

    seen: set[str] = set()
    for i, toks in enumerate(docs):
        chunks = [" ".join(toks[j : j + 2]) for j in range(0, len(toks), 2)]
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        if not chunks:
            assert i not in out  # empty doc yields no passages
            continue
        r = out[i]
        assert r["n_passages"] == len(chunks)
        assert r["n_kept"] == len(kept)
        assert r["cleaned_text"] == " ".join(kept)


vecs_st = st.lists(
    st.tuples(st.integers(-3, 3), st.integers(-3, 3)), min_size=2, max_size=10
)


@given(vecs=vecs_st, k=st.sampled_from([2, 3]))
# planted distance ties: duplicates of other points and points
# equidistant between centroids (on-axis, off-axis, diagonal)
@example(
    vecs=[(1.0, 0.0), (-1.0, 0.0), (1.0, 0.0), (-1.0, 0.0),
          (0.0, 0.0), (0.0, 5.0), (0.5, 0.5), (-0.5, -0.5)],
    k=2,
)
@settings(**_SETTINGS)
def test_kmeans_matches_sequential_lloyd(spark, vecs, k):
    """kmeans_assign equals a NumPy-free sequential Lloyd model with
    the same deterministic rules (k smallest (md5(id), id) init,
    (d2, cid) ties, floor-mean update, empty cluster keeps
    centroid)."""
    from genie_spark.analytics.clustering import kmeans_assign

    rows = [(i, [float(x), float(y)]) for i, (x, y) in enumerate(vecs)]
    got = {
        r["vec_id"]: (r["cluster_id"], r["d2"])
        for r in kmeans_assign(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
            k=k,
            iters=2,
        ).collect()
    }

    import hashlib
    import math

    q = {i: [int(math.floor(x * 1000.0 + 0.5)) for x in v] for i, v in rows}
    seed_order = sorted(
        q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    cents = {
        c: list(q[i]) for c, i in enumerate(seed_order[: min(k, len(q))])
    }

    def assign():
        a = {}
        for i, v in q.items():
            best = min(
                (sum((a_ - b_) ** 2 for a_, b_ in zip(v, cv)), c)
                for c, cv in cents.items()
            )
            a[i] = best  # (d2, cid)
        return a

    for _ in range(2):
        a = assign()
        members: dict[int, list] = {}
        for i, (_, c) in a.items():
            members.setdefault(c, []).append(q[i])
        for c in cents:
            if c in members:
                vs = members[c]
                cents[c] = [
                    int(math.floor(sum(col) / len(vs)))
                    for col in zip(*vs)
                ]
    final = assign()
    expect = {i: (c, d2) for i, (d2, c) in final.items()}
    assert got == expect


asof_left_st = st.lists(
    st.tuples(st.integers(0, 3), st.one_of(st.none(), st.integers(0, 50))),
    min_size=1, max_size=10,
)
asof_right_st = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.one_of(st.none(), st.integers(0, 50)),
        st.integers(0, 9),
    ),
    min_size=0, max_size=10,
)


@given(left=asof_left_st, right=asof_right_st,
       direction=st.sampled_from(["backward", "forward"]))
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right, direction):
    """Both directions match the O(n·m) sequential model on random
    key/ts/tiebreak data including null timestamps and duplicate
    (key, ts) right rows."""
    from genie_spark.operators.windows import asof_join

    lrows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    rrows = [(100 + i, k, ts, v) for i, (k, ts, v) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "lid long, k long, ts long")
    rdf = spark.createDataFrame(rrows, "rid long, k long, ts long, val long")

    def model(lk, lts):
        if lts is None:
            return (None, None)
        cand = [
            (rid, ts, v)
            for rid, k, ts, v in rrows
            if k == lk and ts is not None
            and (ts <= lts if direction == "backward" else ts >= lts)
        ]
        if not cand:
            return (None, None)
        if direction == "backward":
            best_ts = max(ts for _, ts, _ in cand)
            picked = max((r for r in cand if r[1] == best_ts), key=lambda r: r[0])
        else:
            best_ts = min(ts for _, ts, _ in cand)
            picked = min((r for r in cand if r[1] == best_ts), key=lambda r: r[0])
        return (picked[0], picked[2])

    out = {
        r["lid"]: (r["asof_rid"], r["asof_val"])
        for r in asof_join(
            ldf, rdf, on=["k"], ts_col="ts",
            payload=["rid", "val"], tiebreak="rid", direction=direction,
        ).collect()
    }
    assert len(out) == len(lrows)
    for lid, lk, lts in lrows:
        assert out[lid] == model(lk, lts), (lid, direction)


pii_frag_st = st.lists(
    st.sampled_from(
        [
            "hello world",
            "a.b@ex.org",
            "4111111111111111",
            "10.0.0.1",
            "555-123-4567",
            "4111111111111111@bank.com",
            "x 12345678901234 y",
            "192.168.0.255 555.987.6543",
        ]
    ),
    min_size=0,
    max_size=5,
)


@given(frags=st.lists(pii_frag_st, min_size=1, max_size=4))
@settings(**_SETTINGS)
def test_scrub_pii_counts_equal_placeholders(spark, frags):
    """The count-then-replace staging invariant: for ANY text, the sum
    of per-category audit counts equals the number of placeholders
    actually inserted (overlapping matches never double-count)."""
    from genie_spark.analytics.text import scrub_pii

    rows = [(i, " ".join(parts)) for i, parts in enumerate(frags)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in scrub_pii(df).collect():
        inserted = sum(
            r["scrubbed"].count(p)
            for p in ("<EMAIL>", "<IP>", "<PHONE>", "<NUM>")
        )
        total = r["n_email"] + r["n_ip"] + r["n_phone"] + r["n_longnum"]
        assert total == inserted, (r["scrubbed"], total, inserted)


bloom_docs_st = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
        min_size=8,
        max_size=14,
    ),
    min_size=2,
    max_size=6,
)


@given(docs=bloom_docs_st, m_bits=st.sampled_from([8, 1 << 16]))
@settings(**_SETTINGS)
def test_bloom_decontaminate_superset_of_exact(spark, docs, m_bits):
    """Zero-false-negative property under ANY corpus/benchmark split
    and ANY filter size: per doc, the Bloom path's n_flagged ≥ the
    exact path's n_contaminated, with equality when m_bits is large
    enough that no positions collide."""
    from genie_spark.analytics.corpus import (
        bloom_build,
        bloom_decontaminate,
        decontaminate_ngram,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.where("doc_id % 2 = 0")
    corpus = df.where("doc_id % 2 = 1")
    exact = {
        r["doc_id"]: r["n_contaminated"]
        for r in decontaminate_ngram(corpus, bench, n=8).collect()
    }
    bloom = bloom_build(bench, n=8, m_bits=m_bits, k_hashes=2)
    flagged = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_decontaminate(
            corpus, bloom, n=8, m_bits=m_bits, k_hashes=2
        ).collect()
    }
    assert set(flagged) == set(exact)
    for d, n_exact in exact.items():
        assert flagged[d] >= n_exact, (d, flagged[d], n_exact)
        if m_bits == 1 << 16:
            # 2 hashes over at most ~60 distinct n-grams in 65536 bits:
            # collisions are possible in principle but the superset
            # bound is the property; equality is asserted only loosely
            assert flagged[d] <= exact.get(d, 0) + 3


token_budget_docs_st = st.lists(
    st.tuples(
        st.integers(0, 500),                      # doc_id (dups dropped)
        st.sampled_from(["en", "fr"]),
        st.integers(0, 8),                        # token count (0 = empty)
    ),
    min_size=1,
    max_size=14,
    unique_by=lambda t: t[0],
)


@given(
    docs=token_budget_docs_st,
    budget=st.sampled_from([0, 1, 5, 17, 10**6]),
)
@settings(**_SETTINGS)
def test_token_budget_matches_naive_window(spark, docs, budget):
    """For ANY corpus (including empty docs and exact-boundary
    budgets), the binned two-pass keeps exactly the naive
    global-window set: docs whose tokens-before in (md5(id), id)
    order are < budget."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from genie_spark.analytics.corpus import token_budget_select
    from genie_spark.analytics.dedup import shingle_hash
    from genie_spark.analytics.text import tokens

    rows = [
        (i, g, " ".join(f"w{i}x{j}" for j in range(n))) for i, g, n in docs
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]
        for r in token_budget_select(df, budget, group_col="lang").collect()
    }
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("__h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        df.select(
            "doc_id", "lang",
            shingle_hash(F.col("doc_id").cast("string")).alias("__h"),
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        )
        .withColumn("before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .where(F.col("before") < budget)
    )
    assert got == {r["doc_id"] for r in naive.collect()}


count_min_vals_st = st.lists(
    st.sampled_from([f"t{i}" for i in range(9)]), min_size=1, max_size=30
)


@given(vals=count_min_vals_st, width=st.sampled_from([4, 64]))
@settings(**_SETTINGS)
def test_count_min_never_underestimates(spark, vals, width):
    """For ANY occurrence multiset and ANY width (4 forces heavy
    collisions), est(v) ≥ true(v) for every distinct value — the
    Count-Min one-sided bound."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.sketches import count_min_lookup, count_min_sketch

    occ = spark.createDataFrame([(v,) for v in vals], ["value"])
    sk = count_min_sketch(occ, "value", width=width, depth=3)
    probes = occ.distinct()
    est = {
        r["value"]: r["est_count"]
        for r in count_min_lookup(sk, probes, "value", width=width, depth=3).collect()
    }
    true = {
        r["value"]: r["n"]
        for r in occ.groupBy("value").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for v, t in true.items():
        assert est[v] >= t, (v, est[v], t)


# word pool for span/winnow corpora: tiny vocabulary maximizes shared
# n-grams across random docs, exercising merges/ties hard
_words_st = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=24
)
_span_docs_st = st.lists(_words_st, min_size=1, max_size=6)


def _span_mask_model(docs: list[list[str]], k: int, min_count: int):
    """Sequential model of duplicate_span_mask: count anchors
    corpus-wide, mask positions with count >= min_count, merge ranges
    with gap <= k."""
    from collections import Counter

    counts = Counter()
    anchors = {}  # doc -> [(pos, gram)]
    for did, toks in enumerate(docs):
        pos_list = []
        for i in range(len(toks) - k + 1):
            g = " ".join(toks[i : i + k])
            pos_list.append((i + 1, g))
            counts[g] += 1
        anchors[did] = pos_list
    out = set()
    for did, pos_list in anchors.items():
        dup = sorted(p for p, g in pos_list if counts[g] >= min_count)
        if not dup:
            continue
        runs = [[dup[0], dup[0]]]
        for p in dup[1:]:
            if p - runs[-1][1] <= k:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for s, e in runs:
            n_anchors = sum(1 for p in dup if s <= p <= e)
            out.add((did, s, e - s + k, n_anchors))
    return out


@given(docs=_span_docs_st)
@settings(**_SETTINGS)
def test_duplicate_span_mask_matches_model(spark, docs):
    """X47 mask == the O(n·m) sequential model on dense tiny-vocab
    corpora (hot anchors, island merges, within-doc repeats)."""
    from genie_spark.analytics.dedup import duplicate_span_mask

    k = 3
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_len"], r["n_anchors"])
        for r in duplicate_span_mask(df, k=k, min_count=2).collect()
    }
    assert got == _span_mask_model(docs, k, 2)


def _winnow_model(docs: list[list[str]], k: int, w: int, hash_fn):
    """Sequential robust winnowing (Schleimer et al.): rightmost min
    per window, selections deduped per doc."""
    out = set()
    for did, toks in enumerate(docs):
        hs = [
            hash_fn(" ".join(toks[i : i + k]))
            for i in range(len(toks) - k + 1)
        ]
        if len(hs) < w:
            continue
        for i in range(len(hs) - w + 1):
            window = hs[i : i + w]
            m = min(window)
            # rightmost index of the min
            j = max(idx for idx, v in enumerate(window) if v == m)
            out.add((did, i + j + 1, m))
    return out


@given(docs=_span_docs_st)
@settings(**_SETTINGS)
def test_winnow_fingerprints_match_model(spark, docs):
    """X49 == the sequential robust-winnowing model, including the
    rightmost tie rule under a colliding tiny vocabulary."""
    import hashlib

    from genie_spark.analytics.dedup import winnow_fingerprints

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    k, w = 3, 3
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    assert got == _winnow_model(docs, k, w, h60)


_bm25_docs_st = st.lists(
    st.lists(
        st.sampled_from(["spark", "hash", "join", "scan", "x", "y"]),
        min_size=1, max_size=15,
    ),
    min_size=1, max_size=6,
)


@given(docs=_bm25_docs_st)
@settings(**_SETTINGS)
def test_bm25_matches_integer_model(spark, docs):
    """X48 scores == the exact-integer sequential BM25 model (same
    scaled idf, same cross-multiplied floored division)."""
    from collections import Counter

    from genie_spark.analytics.text import bm25_topk

    terms = ["spark", "hash"]
    n = len(docs)
    total = sum(len(d) for d in docs)
    dfreq = Counter()
    tfs = {}
    for did, toks in enumerate(docs):
        c = Counter(t for t in toks if t in terms)
        tfs[did] = c
        for t in c:
            dfreq[t] += 1
    want = {}
    for did, c in tfs.items():
        if not c:
            continue
        dl = len(docs[did])
        s = 0
        for t, tf in c.items():
            idf_s = (1_000_000 * n) // dfreq[t]
            s += (idf_s * 22 * tf * total) // (
                10 * total * tf + 3 * total + 9 * dl * n
            )
        want[did] = (s, len(c))
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["score"], r["n_terms_hit"])
        for r in bm25_topk(df, terms, k=100).collect()
    }
    assert got == want


_batch_seq_st = st.lists(
    st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["aa bb cc dd ee", "ff gg hh ii jj", "aa bb cc dd ff"])),
        min_size=1, max_size=3,
    ),
    min_size=1, max_size=3,
)


@given(batches=_batch_seq_st)
@settings(max_examples=6, deadline=None)
def test_upsert_store_sequence_equals_final_state_build(spark, tmp_path_factory, batches):
    """ANY sequence of upsert batches (including id overwrites with
    changed text) leaves the signature store equivalent to a
    from-scratch minhash_docinfo build over the FINAL corpus state —
    the invariant that makes the streaming store trustworthy."""
    from genie_spark.analytics.dedup import minhash_docinfo
    from genie_spark.analytics.signature_store import (
        read_docinfo_store,
        upsert_docinfo_store,
    )

    store = str(tmp_path_factory.mktemp("props") / "sigstore")
    final = {}
    k = 5
    for batch in batches:
        # dedupe ids within a batch (the operator rejects in-batch
        # duplicates by contract — keep the last occurrence)
        dedup = {}
        for did, text in batch:
            dedup[did] = text * 3
        final.update(dedup)
        bdf = spark.createDataFrame(
            list(dedup.items()), "doc_id long, text string"
        )
        upsert_docinfo_store(
            spark, bdf, store, k=k, n_perm=8, n_buckets=2
        )
    got = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in read_docinfo_store(spark, store).collect()
    }
    fdf = spark.createDataFrame(list(final.items()), "doc_id long, text string")
    want = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in minhash_docinfo(fdf, k=k, n_perm=8).collect()
    }
    assert got == want


@given(batches=st.lists(
    st.lists(
        st.tuples(st.integers(0, 6), st.text("abcd ", min_size=0, max_size=12)),
        min_size=1, max_size=4,
    ),
    min_size=1, max_size=4,
))
@settings(max_examples=6, deadline=None)
def test_winnow_upsert_sequence_equals_final_state_build(
    spark, tmp_path_factory, batches
):
    """ANY sequence of winnow-store upsert batches (including id
    overwrites) leaves the store equivalent to a from-scratch
    winnow_fp_docinfo build over the final corpus state — the same
    invariant the minhash store carries."""
    from genie_spark.analytics.dedup import winnow_fp_docinfo
    from genie_spark.analytics.signature_store import (
        read_winnow_store,
        upsert_winnow_store,
    )

    store = str(tmp_path_factory.mktemp("props") / "winstore")
    final = {}
    for batch in batches:
        dedup = {}
        for did, text in batch:
            dedup[did] = (text + " ") * 4
        final.update(dedup)
        bdf = spark.createDataFrame(
            list(dedup.items()), "doc_id long, text string"
        )
        upsert_winnow_store(spark, bdf, store, k=3, w=2, n_buckets=2)
    got = {
        r["doc_id"]: tuple(r["__fps"])
        for r in read_winnow_store(spark, store).collect()
    }
    fdf = spark.createDataFrame(
        list(final.items()), "doc_id long, text string"
    )
    want = {
        r["doc_id"]: tuple(r["__fps"])
        for r in winnow_fp_docinfo(fdf, k=3, w=2).collect()
    }
    assert got == want


@given(texts=st.lists(
    st.lists(st.sampled_from("ab cd ef gh ij kl".split()), min_size=0, max_size=8),
    min_size=1, max_size=10,
))
@settings(max_examples=8, deadline=None)
def test_dsir_matches_python_model(spark, texts):
    """X51 against an INDEPENDENT sequential model (third
    implementation — shares neither the Spark plan nor the DuckDB SQL):
    hashed unigram+bigram bit-log importance scores and the
    md5-tiebroken ranking reproduce exactly on arbitrary corpora."""
    import hashlib

    from genie_spark.analytics.corpus import dsir_sample

    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    # deterministic target split: even ids
    target = [(i, t) for i, t in docs if i % 2 == 0]
    B = 64

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def feats(text):
        ws = text.split()
        return [h60(w) % B for w in ws] + [
            h60(f"{a} {b}") % B for a, b in zip(ws, ws[1:])
        ]

    def ilog2(x):
        return x.bit_length() - 1

    fq = [b for _, t in docs for b in feats(t)]
    fp = [b for _, t in target for b in feats(t)]
    from collections import Counter

    cq, cp = Counter(fq), Counter(fp)
    c_norm = ilog2(len(fq) + B) - ilog2(len(fp) + B)
    want = []
    for i, t in docs:
        fs = feats(t)
        if not fs:
            continue
        s = sum(ilog2(cp.get(b, 0) + 1) - ilog2(cq[b] + 1) for b in fs)
        tie = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        want.append((-(s + len(fs) * c_norm), tie, i, len(fs)))
    want.sort()
    want = [
        (i, -neg, nf, rank + 1)
        for rank, (neg, tie, i, nf) in enumerate(want[:5])
    ]

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    tdf = sdf.where("doc_id % 2 = 0")
    got = [
        (r["doc_id"], r["score_bits"], r["n_features"], r["rank"])
        for r in dsir_sample(sdf, tdf, k=5, n_buckets=B).collect()
    ]
    assert sorted(got) == sorted(want)


@given(texts=st.lists(
    st.lists(st.sampled_from("aa bb cc dd ee".split()), min_size=0, max_size=9),
    min_size=1, max_size=10,
))
@settings(max_examples=8, deadline=None)
def test_soft_dedup_matches_python_model(spark, texts):
    """X58 against an INDEPENDENT sequential model (third
    implementation — shares neither the Spark plan nor the DuckDB SQL):
    3-gram bit-log commonness, the +1 weight, the IEEE priority
    divide, and the (priority DESC, id) top-k reproduce exactly on
    arbitrary small-vocab corpora (heavy gram collisions by design)."""
    import hashlib
    from collections import Counter

    from genie_spark.analytics.corpus import soft_dedup

    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]

    def grams(text):
        ws = text.split()
        return [" ".join(ws[j:j + 3]) for j in range(len(ws) - 2)]

    cnt = Counter(g for _, t in docs for g in grams(t))
    T = sum(cnt.values())
    tbits = max(T.bit_length() - 1, 0)
    want = []
    for i, t in docs:
        gs = grams(t)
        if not gs:
            continue
        rarity = sum(tbits - (cnt[g].bit_length() - 1) for g in gs)
        mean = (rarity * 1000) // len(gs)
        w = mean + 1
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        prio = (float(w) / (h + 1)) * float(2**32)  # same IEEE op order
        want.append((-prio, i, len(gs), rarity, mean, w))
    want.sort()
    want = [
        (i, ng, rb, mm, w, rank + 1)
        for rank, (negp, i, ng, rb, mm, w) in enumerate(want[:5])
    ]

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["doc_id"], r["n_ngrams"], r["rarity_bits"],
         r["mean_rarity_mbits"], r["weight"], r["rank"])
        for r in soft_dedup(sdf, n=3, k=5).collect()
    ]
    assert sorted(got) == sorted(want)


_GOPHER_VOCAB = (
    "the be to of and that have with data 12345 #tag ... a word "
    "- * •x longishword …"
).split()


@given(lines=st.lists(
    st.lists(st.sampled_from(_GOPHER_VOCAB), min_size=0, max_size=12),
    min_size=1, max_size=5,
))
@settings(max_examples=10, deadline=None)
def test_gopher_filter_matches_python_model(spark, lines):
    """X60 against an independent pure-Python model: every metric and
    every rule boolean reproduces on arbitrary multi-line documents
    mixing stop words, symbols, bullets, ellipses, and numerics."""
    import re

    from genie_spark.analytics.text import (
        GOPHER_STOPWORDS,
        gopher_quality_filter,
    )

    text = "\n".join(" ".join(ws) for ws in lines)
    toks = text.split()
    lns = text.split("\n")
    wc = max(len(toks), 1)
    word_chars = sum(len(w) for w in toks)
    n_hash = text.count("#")
    n_ellipsis = text.count("...") + text.count("…")
    n_bullet = sum(1 for ln in lns if re.match(r"^[-*•]", ln.lstrip(" ")))
    n_ell_end = sum(
        1 for ln in lns if re.search(r"(\.\.\.|…)$", ln.rstrip(" "))
    )
    n_alpha = sum(1 for w in toks if re.search("[A-Za-z]", w))
    n_stop = sum(
        1 for s in GOPHER_STOPWORDS if s in {w.lower() for w in toks}
    )
    want = {
        "n_words": len(toks),
        "mean_word_len_milli": (word_chars * 1000) // wc,
        "symbol_word_ratio": (n_hash + n_ellipsis) / wc,
        "bullet_line_frac": n_bullet / len(lns),
        "ellipsis_line_frac": n_ell_end / len(lns),
        "alpha_word_frac": n_alpha / wc,
        "n_stop_hits": n_stop,
        "r_word_count": 50 <= len(toks) <= 100_000,
        "r_mean_word_len": 3000 <= (word_chars * 1000) // wc <= 10_000,
        "r_symbol_ratio": (n_hash + n_ellipsis) / wc <= 0.1,
        "r_bullet_lines": n_bullet / len(lns) <= 0.9,
        "r_ellipsis_lines": n_ell_end / len(lns) <= 0.3,
        "r_alpha_words": n_alpha / wc >= 0.8,
        "r_stop_words": n_stop >= 2,
    }
    want["keep"] = all(
        want[k] for k in want if k.startswith("r_")
    )

    sdf = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = gopher_quality_filter(sdf).collect()[0].asDict()
    got.pop("doc_id")
    assert got == want


@given(texts=st.lists(
    st.lists(st.sampled_from("aa bb cc dd".split()), min_size=0, max_size=7),
    min_size=2, max_size=10,
))
@settings(max_examples=8, deadline=None)
def test_lm_bigram_matches_python_model(spark, texts):
    """X63 against an INDEPENDENT sequential model: conditional bits
    for seen bigrams, penalty + smoothed unigram for held-out ones
    (model = even ids, score = all), exact on arbitrary small-vocab
    corpora where collisions and backoffs both occur."""
    from collections import Counter

    from genie_spark.analytics.text import lm_surprisal_bigram

    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    model = [(i, t) for i, t in docs if i % 2 == 0]

    def bigrams(t):
        ws = t.split()
        return list(zip(ws, ws[1:]))

    c1 = Counter(w for _, t in model for w in t.split())
    c2 = Counter(b for _, t in model for b in bigrams(t))
    T = sum(c1.values())
    tb = max(T.bit_length() - 1, 0)

    def il(x):
        return x.bit_length() - 1

    want = {}
    for i, t in docs:
        bs = bigrams(t)
        if not bs:
            continue
        bits, nback = 0, 0
        for wp, w in bs:
            if (wp, w) in c2:
                bits += il(c1[wp]) - il(c2[(wp, w)])
            else:
                nback += 1
                bits += 4 + tb - il(c1.get(w, 0) + 1)
        want[i] = (len(bs), nback, bits)

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["n_backoff"], r["total_bits"])
        for r in lm_surprisal_bigram(
            sdf, sdf.where("doc_id % 2 = 0"), backoff_bits=4
        ).collect()
    }
    assert got == want


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 5000), st.sampled_from(["a", "b", "c"])),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    n_target=st.integers(0, 80),
    halvings=st.integers(0, 2),
)
@settings(**_SETTINGS)
def test_temperature_mix_matches_sequential_model(
    spark, docs, n_target, halvings
):
    """X69 vs an independent pure-Python model: isqrt^a weights,
    integer // targets, md5-ppm admission — the kept SET must be
    identical for any corpus, target, and halving count."""
    import hashlib
    import math

    from genie_spark.analytics.corpus import temperature_mix

    df = spark.createDataFrame(docs, "doc_id long, grp string")
    got = {
        r["doc_id"]: (r["n_docs"], r["s_alpha"], r["weight_ppm"], r["admit_ppm"])
        for r in temperature_mix(
            df, n_target=n_target, group_col="grp", alpha_halvings=halvings
        ).collect()
    }
    # sequential model
    n_by = {}
    for _, g in docs:
        n_by[g] = n_by.get(g, 0) + 1
    s_by = {}
    for g, n in n_by.items():
        s = n
        for _ in range(halvings):
            s = math.isqrt(s)
        s_by[g] = s
    S = sum(s_by.values())
    want = {}
    for i, g in docs:
        s = s_by[g]
        target = (n_target * s) // S
        admit = min(1_000_000, (target * 1_000_000) // n_by[g])
        u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1_000_000
        if u < admit:
            w = (s * 1_000_000) // S
            want[i] = (n_by[g], s, w, admit)
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.integers(1, 100_000), st.integers(-1000, 1000)),
        min_size=1, max_size=80, unique_by=lambda t: t[0],
    ),
    k_max=st.sampled_from([4, 16, 64]),
)
@settings(**_SETTINGS)
def test_quantile_sketch_matches_sequential_model(spark, vals, k_max):
    """X70 vs an independent pure-Python model: trailing-zero levels
    from the 60-bit md5 key hash, smallest level fitting k_max, the
    identical survivor set and level."""
    import hashlib

    from genie_spark.analytics.sketches import quantile_level_sketch

    df = spark.createDataFrame(vals, "k long, v long")
    rows = quantile_level_sketch(df, "v", "k", k_max=k_max).collect()
    # model
    def h60(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    def tz(h):
        return 60 if h == 0 else (h & -h).bit_length() - 1

    items = [(v, h60(k), tz(h60(k))) for k, v in vals]
    level = 0
    while sum(1 for _, _, t in items if t >= level) > k_max:
        level += 1
    want = {(v, h) for v, h, t in items if t >= level}
    assert {(r["v"], r["h60"]) for r in rows} == want
    if rows:
        assert rows[0]["level"] == level
        assert rows[0]["n_items"] == len(vals)


# ---------------------------------------------------------------------------
# BPE trainer loops: the driver-side histogram loop's lazy heap and
# the vocabulary-table loop's batched prefix rule must BOTH reproduce the
# sequential reference on arbitrary corpora (including pathological
# repetition, ties, self-pairs, and phantom-match spellings).
# ---------------------------------------------------------------------------

_bpe_word_st = st.text(alphabet="abcd", min_size=1, max_size=8)
_bpe_corpus_st = st.lists(
    st.lists(_bpe_word_st, min_size=1, max_size=5).map(" ".join),
    min_size=1,
    max_size=10,
)
# weighted corpora (r14 ADVICE): skewed word counts make phantom-
# prefix rank flips reachable — a word like 'abqd' at low count next
# to 'ab'/'bqd' at high counts is exactly the shape that breaks a
# disjoint-only batch rule
_bpe_weighted_corpus_st = st.lists(
    st.tuples(_bpe_word_st, st.integers(1, 60)),
    min_size=2,
    max_size=8,
).map(lambda pairs: [w for w, n in pairs for _ in range(n)])


def _seq_bpe_model(texts, n_merges):
    """The test_analytics sequential reference, duplicated here in its
    row-list (no dict collapse) form — per-WORD states with freqs,
    string replace semantics, (count DESC, lhs, rhs) tie order."""
    import collections

    wf = collections.Counter(w for t in texts for w in t.split())
    states = [[" " + " ".join(w), f] for w, f in sorted(wf.items())]
    merges = []
    for step in range(1, n_merges + 1):
        pc: collections.Counter = collections.Counter()
        for s, f in states:
            syms = s.strip().split(" ")
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (l, r), c = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((step, l, r, l + r, c))
        for row in states:
            row[0] = row[0].replace(f" {l} {r}", f" {l}{r}")
    return merges


@given(texts=_bpe_corpus_st, n=st.integers(1, 8))
@settings(max_examples=100, deadline=None)
def test_bpe_histogram_engine_matches_sequential_model(texts, n):
    """Pure-python check (no Spark job per example): the lazy-heap
    histogram trainer == the recount-everything sequential model on
    random small-alphabet corpora — dense ties and phantom corners."""
    import collections

    from genie_spark.analytics.text import _bpe_train_histogram

    wf = collections.Counter(w for t in texts for w in t.split())
    got = _bpe_train_histogram(sorted(wf.items()), n)
    assert got == _seq_bpe_model(texts, n)


@given(texts=_bpe_corpus_st, bk=st.integers(2, 16))
@settings(max_examples=6, deadline=None)
def test_bpe_batched_prefix_matches_sequential(spark, texts, bk):
    """Spark batched trainer (every example is several Spark jobs —
    few examples, wide batch_k range): the provably-sequential-
    equivalent prefix rule == the sequential model on random corpora
    whose small alphabet maximizes overlap/tie/created-pair traffic."""
    from genie_spark.analytics.text import _bpe_train_table, _word_counts

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = _bpe_train_table(_word_counts(docs, "text"), 6, batch_k=bk)
    assert got == _seq_bpe_model(texts, 6)


@given(texts=_bpe_weighted_corpus_st, n=st.integers(1, 8))
@settings(max_examples=150, deadline=None)
def test_bpe_histogram_matches_sequential_on_weighted_corpora(texts, n):
    """Pure-python: the histogram trainer == sequential model on
    SKEWED-count corpora where phantom-prefix decay changes merge
    order (the r14 ADVICE failure shape)."""
    import collections

    from genie_spark.analytics.text import _bpe_train_histogram

    wf = collections.Counter(texts)
    got = _bpe_train_histogram(sorted(wf.items()), n)
    assert got == _seq_bpe_model([" ".join(texts)], n)


@given(texts=_bpe_weighted_corpus_st, bk=st.integers(2, 64))
@settings(max_examples=6, deadline=None)
def test_bpe_batched_matches_sequential_on_weighted_corpora(
    spark, texts, bk
):
    """Spark batched trainer on skewed-count corpora (few examples,
    each is several Spark jobs): the prefix-relation + phantom-
    capability acceptance rule == the sequential model where the
    plain disjoint rule provably diverged."""
    from genie_spark.analytics.text import _bpe_train_table, _word_counts

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(texts)], ["doc_id", "text"]
    )
    got = _bpe_train_table(_word_counts(docs, "text"), 6, batch_k=bk)
    assert got == _seq_bpe_model([" ".join(texts)], 6)


@given(texts=_bpe_weighted_corpus_st, vs=st.integers(1, 30))
@settings(max_examples=5, deadline=None)
def test_unigram_seed_vocab_matches_python_model(spark, texts, vs):
    """X84 seed vocab == a pure-python positional-substring model on
    weighted random corpora: alphabet always complete, multi-char fill
    exactly the top (score DESC, piece ASC) slice."""
    import collections

    from genie_spark.analytics.text import unigram_seed_vocab

    max_len = 4
    wf = collections.Counter(texts)
    pc: collections.Counter = collections.Counter()
    for w, f in wf.items():
        for ln in range(1, min(len(w), max_len) + 1):
            for i in range(len(w) - ln + 1):
                pc[w[i:i + ln]] += f
    alpha = {p for p in pc if len(p) == 1}
    multi = sorted(
        ((p, n) for p, n in pc.items() if len(p) > 1),
        key=lambda t: (-t[1] * len(t[0]), t[0]),
    )[: max(0, vs - len(alpha))]
    want = {
        p: (len(p), n, n * len(p), len(p) == 1)
        for p, n in list(pc.items()) if len(p) == 1
    }
    want.update({p: (len(p), n, n * len(p), False) for p, n in multi})

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["piece"]: (
            r["piece_len"], r["n_hits"], r["score"], r["in_alphabet"]
        )
        for r in unigram_seed_vocab(
            docs, vocab_size=vs, max_piece_len=max_len
        ).collect()
    }
    assert got == want
