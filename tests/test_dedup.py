"""Dedup operators vs pure-Python oracles (exact Jaccard over shingle
sets) on a corpus with planted near-duplicates."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river edge"),  # near-dup of 0
    (2, "spark shuffles partitions across executors during wide transformations"),
    (3, "spark shuffles partitions across executors during wide operations today"),  # near-dup of 2
    (4, "completely unrelated text about cooking pasta with tomato sauce"),
    (5, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (6, "short text"),
    (7, "another entirely different document mentioning gradient descent optimization"),
]


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = tokenize(text)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _py_jaccard_pairs(docs, n=3, tau=0.5):
    sh = {i: _py_shingles(t, n) for i, t in docs}
    out = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sorted(sh.items()), 2):
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= tau:
            out[(ia, ib)] = j
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs_df):
    got = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs_df).collect()}
    assert got[0] == 2          # doc 5 is an exact copy of doc 0
    assert 5 not in got         # keep-first: 5 collapsed into 0
    assert sum(got.values()) == len(DOCS)


def test_shingles_match_python(docs_df):
    got = {}
    for r in shingles(docs_df, n=3).collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    for i, t in DOCS:
        assert got.get(i, set()) == _py_shingles(t, 3), f"doc {i}"


def test_ngram_jaccard_exact(spark, docs_df):
    expected = _py_jaccard_pairs(DOCS, n=3, tau=0.5)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, n=3, tau=0.5).collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-6


def test_minhash_lsh_finds_planted_neardups(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs_df, n=3, tau=0.5).collect()
    }
    # verified pairs are a SUBSET of exact pairs (no false positives after
    # verify) and must include the exact duplicate pair (identical
    # signatures collide in every band)
    exact = set(_py_jaccard_pairs(DOCS, n=3, tau=0.5))
    assert got <= exact
    assert (0, 5) in got


_M64 = (1 << 64) - 1


def _ham(a: int, b: int) -> int:
    """64-bit Hamming distance; signatures are signed int64 (bit 63 is the
    two's-complement sign bit), so mask before popcount."""
    return bin((a ^ b) & _M64).count("1")


def test_simhash_properties(spark, docs_df):
    got = {r["id"]: r["simhash"] for r in simhash(docs_df).collect()}
    assert got[0] == got[5]  # identical docs -> identical simhash
    assert _ham(got[0], got[1]) < _ham(got[0], got[4])  # near-dup closer


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """Banded Hamming pairing is EXACT (pigeonhole): compare against the
    all-pairs bit_count oracle on a corpus with planted near-duplicates."""
    import random

    from visionsearch_spark.operators.dedup import simhash_pairs

    rng = random.Random(7)
    vocab = ["join", "filter", "stream", "spark", "index", "merge", "scan",
             "sort", "cache", "row", "group", "hash", "table", "query"]
    rows = []
    for d in range(120):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(12)]
        rows.append((d, " ".join(words)))
        if d % 3 == 0:  # planted near-dup: one word changed
            mutated = list(words)
            mutated[rng.randrange(len(words))] = vocab[rng.randrange(len(vocab))]
            rows.append((1000 + d, " ".join(mutated)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    ids = sorted(sigs)
    expected = {
        (a, b, _ham(sigs[a], sigs[b]))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if _ham(sigs[a], sigs[b]) <= 3
    }
    assert expected, "fixture must produce close pairs"
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    assert got == expected

    # 64-bit scale guard: every 16-bit band must be well-spread — in
    # particular the HIGH bands, which under a single-31-bit-hash scheme
    # would be constant (every doc in one bucket => quadratic candidates).
    vals = [s & _M64 for s in sigs.values()]
    n = len(set(vals))
    for band in range(4):
        buckets = {(v >> (band * 16)) & 0xFFFF for v in vals}
        assert len(buckets) > 0.5 * n, (band, len(buckets), n)


def test_cross_contamination_matches_bruteforce(spark, docs_df):
    """Cross-table decontamination vs a pure-python exact-Jaccard replica
    over the SAME banded candidate rule: corpus = DOCS, benchmark = docs
    {0, 3, 6} with one near-dup rewrite. Pairs only cross tables; an
    identical doc on both sides scores jaccard 1.0."""
    from visionsearch_spark.operators.dedup import cross_contamination

    bench_rows = [
        (0, DOCS[0][1]),                       # identical to corpus doc 0
        (3, DOCS[3][1].replace("today", "now")),  # near-dup of corpus 3
        (6, "short text"),                     # < n tokens: no shingles
    ]
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    got = {
        (r["corpus_id"], r["benchmark_id"]): r["jaccard"]
        for r in cross_contamination(docs_df, bench, n=3, tau=0.4).collect()
    }

    def sh_set(text, n=3):
        toks = tokenize(text)
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    want = {}
    for cid, ctext in DOCS:
        for bid, btext in bench_rows:
            a, b = sh_set(ctext), sh_set(btext)
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if j >= 0.4:
                want[(cid, bid)] = round(j, 6)
    # near-dup jaccards here are far from the banded-LSH miss regime, so
    # the exact replica IS the expectation (candidate recall = 1 at these
    # similarities on 8 docs)
    assert got == want
    assert got[(0, 0)] == 1.0 and got[(5, 0)] == 1.0  # cross-side only
    assert all(cid != 6 or bid != 6 for cid, bid in got)


def test_minhash_collapse_exact_equals_uncollapsed(spark):
    """The duplicate-cluster guard (collapse_exact=True, the default)
    returns EXACTLY the uncollapsed result — cross-cluster pairs inherit
    their representatives' jaccard, intra-cluster pairs are 1.0, and
    too-short-to-shingle duplicate docs yield no pairs either way."""
    rows = list(DOCS) + [
        (8, DOCS[1][1]),   # dup of a near-dup doc
        (9, DOCS[2][1]),   # dup inside the other near-dup family
        (10, "short text"),  # dup of doc 6: 2 tokens < n=3 -> no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    on = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in minhash_lsh_pairs(df, n=3, tau=0.5).collect()}
    off = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(df, n=3, tau=0.5,
                                      collapse_exact=False).collect()}
    assert on == off
    assert (0, 5) in on and on[(0, 5)] == 1.0   # intra-cluster pair
    assert (1, 8) in on and (5, 8) in on        # dup-of-near-dup expands
    assert not any(6 in p or 10 in p for p in on)  # shingle-less dups


def test_minhash_dup_cluster_candidates_linear(spark):
    """A big byte-identical cluster must generate O(distinct²)-shaped
    candidate volume, not O(cluster²): with 400 copies of one text the
    uncollapsed band join would enqueue C(400,2)·bands ≈ 319k pairs; the
    rep-level join sees one signature per distinct text."""
    from visionsearch_spark.operators.dedup import (
        _band_candidates,
        _exact_clusters,
        minhash_signatures,
        shingle_ids,
    )

    n_copies, boiler = 400, "common boilerplate header repeated on every page of the crawl"
    rows = [(i, boiler) for i in range(n_copies)]
    rows += [(n_copies + i, t) for i, (_, t) in enumerate(DOCS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    mem = _exact_clusters(df, "text", "doc_id")
    rep_docs = df.join(
        mem.filter(F.col("id") == F.col("rep"))
        .select(F.col("id").alias("doc_id")), "doc_id")
    n_distinct = rep_docs.count()
    assert n_distinct == len(DOCS)  # boiler + 7 distinct DOCS texts ... 
    sids = shingle_ids(shingles(rep_docs, 3, "text", "doc_id"))
    sig = minhash_signatures(sids)
    n_cands = _band_candidates(sig).count()
    assert n_cands <= n_distinct * (n_distinct - 1) // 2
    # and the full operator still returns the complete expanded pair set
    # for a (smaller) cluster: 30 copies -> C(30,2) intra pairs
    small = spark.createDataFrame(
        [(i, boiler) for i in range(30)] + [(100, DOCS[4][1])],
        "doc_id long, text string")
    pairs = minhash_lsh_pairs(small, n=3, tau=0.5).collect()
    assert len(pairs) == 30 * 29 // 2
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_cross_contamination_collapse_equals_uncollapsed(spark, docs_df):
    """Per-side duplicate collapse changes nothing about the emitted
    (corpus_id, benchmark_id, jaccard) set — including texts duplicated
    WITHIN a side and texts identical ACROSS sides."""
    from visionsearch_spark.operators.dedup import cross_contamination

    corpus = spark.createDataFrame(
        list(DOCS) + [(8, DOCS[0][1])], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(50, DOCS[0][1]), (51, DOCS[0][1]),  # in-side dup, cross-side identical
         (52, DOCS[3][1]), (53, "nothing shared with anything here at all")],
        "doc_id long, text string")
    on = {(r["corpus_id"], r["benchmark_id"]): r["jaccard"]
          for r in cross_contamination(corpus, bench, n=3, tau=0.5).collect()}
    off = {(r["corpus_id"], r["benchmark_id"]): r["jaccard"]
           for r in cross_contamination(corpus, bench, n=3, tau=0.5,
                                        collapse_exact=False).collect()}
    assert on == off
    assert (0, 50) in on and on[(0, 50)] == 1.0
    assert (8, 51) in on        # both sides' dup members expand
    assert (3, 52) in on
    assert not any(b == 53 for (_, b) in on)


def test_neardup_clusters(spark):
    """Min-label propagation = connected components: a chain merges into
    one component labeled by its min id; disjoint components stay
    separate; the persisted frame is released via unpersist_handle."""
    from visionsearch_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        # component {1,2,3,4} as a chain (diameter 3), component {10,11}
        [(2, 3), (1, 2), (3, 4), (10, 11)],
        "id_a long, id_b long",
    )
    handle: list = []
    got = {r["doc_id"]: r["cluster_id"]
           for r in neardup_clusters(pairs, unpersist_handle=handle).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    for df in handle:
        df.unpersist()

    # keep-one-per-cluster composition: representative = label owner
    keep = {d for d, c in got.items() if d == c}
    assert keep == {1, 10}

    # diameter == max_iter must CONVERGE (the quiet confirmation round
    # runs outside the budget): the 1-2-3-4 chain has diameter 3
    got3 = {r["doc_id"]: r["cluster_id"] for r in
            neardup_clusters(pairs, max_iter=3).collect()}
    assert got3 == got


def test_neardup_clusters_nonconvergence_raises(spark):
    from visionsearch_spark.operators.dedup import neardup_clusters

    # a 6-chain has diameter 5: algorithm="label" with max_iter=2 must
    # fail loudly, not return partial labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(pairs, max_iter=2, algorithm="label")


def _uf_oracle(edges):
    """Driver-side union-find: cluster = min node id per component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_components_random_graphs_match_label_prop(spark):
    """Property: the star alternation labels every random graph
    identically to min-label propagation AND to a driver union-find
    oracle — including duplicate edges, self-referential orderings, and
    multi-component shapes."""
    import random

    from visionsearch_spark.operators.dedup import neardup_clusters

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(5, 60)
        edges = [(rng.randrange(n) + 100, rng.randrange(n) + 100)
                 for _ in range(rng.randint(3, 2 * n))]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        exp = _uf_oracle(edges)
        star = {r["doc_id"]: r["cluster_id"] for r in
                neardup_clusters(pairs, algorithm="star").collect()}
        lab = {r["doc_id"]: r["cluster_id"] for r in
               neardup_clusters(pairs, algorithm="label").collect()}
        assert star == exp == lab, trial


def test_star_components_long_chain_and_auto_fallback(spark):
    """A 10k-node path (diameter 9 999) converges in O(log^2 n) star
    rounds — label propagation would need ~10k. algorithm='auto' with a
    tiny round budget must fall back to the star result instead of
    raising."""
    from visionsearch_spark.operators.dedup import neardup_clusters

    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    star = neardup_clusters(pairs, algorithm="star")
    assert star.filter(F.col("cluster_id") != 0).count() == 0
    assert star.count() == n
    # auto: 2 propagation rounds cannot close the chain -> star fallback
    auto = neardup_clusters(pairs, max_iter=2, algorithm="auto")
    assert auto.filter(F.col("cluster_id") != 0).count() == 0
    assert auto.count() == n


def test_dedup_corpus_end_to_end(spark):
    """docs -> pairs -> components -> survivors: exact dups and
    near-dups collapse to the min-id representative; unaffected docs
    pass through with all columns."""
    from visionsearch_spark.operators.dedup import dedup_corpus

    rows = list(DOCS) + [(8, DOCS[1][1])]  # extra exact dup of doc 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    handle: list = []
    kept = sorted(r["doc_id"] for r in
                  dedup_corpus(df, n=3, tau=0.5,
                               unpersist_handle=handle).collect())
    for c in handle:
        c.unpersist()
    # component {0,1,5,8} (near-dups + exact dups) -> keep 0;
    # component {2,3} -> keep 2; 4, 6, 7 untouched
    assert kept == [0, 2, 4, 6, 7]


def test_ngram_overlap_contamination_matches_bruteforce(spark):
    """Exact n-gram decontamination vs a python brute force, including
    the benchmark-side Zipf cap and the no-pair-blowup output shape."""
    from visionsearch_spark.operators.dedup import (
        ngram_overlap_contamination,
    )

    corpus = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "unrelated words only here nothing shared at all"),
        (3, "alpha beta gamma delta epsilon other ending"),
    ]
    bench = [
        (100, "intro text alpha beta gamma delta epsilon outro"),
        (101, "quick brown fox jumps over something"),
    ]
    n = 4
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "doc_id long, text string")
    got = {r["corpus_id"]: r["n_shared"] for r in
           ngram_overlap_contamination(cdf, bdf, n=n).collect()}

    def grams(t):
        tk = tokenize(t)
        return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}

    bgrams = set()
    for _i, t in bench:
        bgrams |= grams(t)
    exp = {}
    for i, t in corpus:
        hits = len(grams(t) & bgrams)
        if hits:
            exp[i] = hits
    assert got == exp
    # Zipf cap: a shingle in >max_shingle_df benchmark docs is ignored
    many = [(200 + j, "alpha beta gamma delta") for j in range(3)]
    bdf2 = spark.createDataFrame(bench + many, "doc_id long, text string")
    capped = {r["corpus_id"]: r["n_shared"] for r in
              ngram_overlap_contamination(cdf, bdf2, n=4,
                                          max_shingle_df=2).collect()}
    # "alpha beta gamma delta" now appears in 4 benchmark docs > cap 2:
    # docs 0 and 3 lose exactly that one shared 4-gram
    assert capped.get(0, 0) == exp[0] - 1
    assert capped.get(3, 0) == exp.get(3, 0) - 1


# ---------------------------------------------------------------------------
# duplicated spans (Lee et al.-style substring dedup, r6)
# ---------------------------------------------------------------------------

def _span_docs(spark):
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (0, f"intro one two {shared} outro three"),
        (1, f"different head {shared} different tail words"),
        (2, "self repeat block one two three self repeat block one two "
            "three trailing unique"),
        (3, "totally unique text with nothing shared anywhere here"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_exact(spark):
    from visionsearch_spark.operators.dedup import duplicate_spans

    docs = _span_docs(spark)
    got = {(r.doc_id, r.span_start, r.span_end, r.n_grams)
           for r in duplicate_spans(docs, length=4).collect()}
    # doc0 tokens: intro one two alpha beta gamma delta epsilon zeta
    #             outro three  (idx 0..10); shared = idx 3..8
    # dup 4-grams = those fully inside the shared block: starts 3,4,5
    # -> one span [3, 9)
    # doc1: different head alpha..zeta different tail words; shared at
    # idx 2..7 -> starts 2,3,4 -> span [2, 8)
    # doc2: "self repeat block one two three" repeated at 0 and 6 ->
    # every 4-gram of the 6-token period repeats: starts 1..3 (0-based
    # 0..2 within first copy) ... compute via python oracle instead
    from visionsearch_spark.analyzer import tokenize
    import collections

    toks = {r.doc_id: tokenize(r.text) for r in docs.collect()}
    L = 4
    cnt = collections.Counter(
        tuple(t[i:i + L])
        for t in toks.values() for i in range(len(t) - L + 1)
    )
    want = set()
    for d, t in toks.items():
        starts = [i for i in range(len(t) - L + 1)
                  if cnt[tuple(t[i:i + L])] >= 2]
        run = []
        for s in starts:
            if run and s == run[-1] + 1:
                run.append(s)
            else:
                if run:
                    want.add((d, run[0], run[-1] + L, len(run)))
                run = [s]
        if run:
            want.add((d, run[0], run[-1] + L, len(run)))
    assert got == want
    assert any(d == 2 for d, *_ in got)   # within-doc repeat counts
    assert not any(d in (3, 4) for d, *_ in got)


def test_dup_span_stats_interval_union(spark):
    """Spans with start-gap < length overlap as intervals — the union
    must not double-count (two dup 3-grams at starts 0 and 2 of a
    5-token doc cover 5 tokens, not 6)."""
    from visionsearch_spark.operators.dedup import dup_span_stats

    # docs 0/1 share gram A = "a b c" (starts 0); docs 0/2 share gram
    # B = "c d e" (doc0 start 2). Doc0 = "a b c d e": islands {0} and
    # {2} -> spans [0,3) and [2,5): union covers 5 of 5 tokens.
    rows = [
        (0, "a b c d e"),
        (1, "x a b c y"),
        (2, "z c d e w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.dl, r.dup_tokens, r.dup_ratio)
           for r in dup_span_stats(docs, length=3).collect()}
    assert got[0] == (5, 5, 1.0)
    assert got[1] == (5, 3, 0.6)
    assert got[2] == (5, 3, 0.6)


def test_duplicate_spans_by_hash_parity(spark):
    from visionsearch_spark.operators.dedup import duplicate_spans

    docs = _span_docs(spark)
    a = sorted(tuple(r) for r in
               duplicate_spans(docs, length=4).collect())
    b = sorted(tuple(r) for r in
               duplicate_spans(docs, length=4, by_hash=True).collect())
    assert a == b


def test_duplicate_spans_validates(spark):
    from visionsearch_spark.operators.dedup import duplicate_spans

    docs = _span_docs(spark)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="length"):
        duplicate_spans(docs, length=1)


def test_hashed_signature_fold_matches_per_hash_reference(spark):
    """r7 pin: minhash_signatures_hashed computes all N minima in one
    F.aggregate fold (Catalyst does not CSE across HOF lambdas — N
    array_min(transform(...)) columns re-evaluated the md5 chain N
    times). The fold must stay value- AND dtype-identical to the
    straightforward per-hash reference, including the all-NULL contract
    for docs too short to shingle and null texts."""
    from visionsearch_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_PRIME,
        N_HASHES,
        _shingle_hash,
        minhash_signatures_hashed,
    )
    from visionsearch_spark.analyzer import tokens_col

    edge = [(100, ""), (101, None), (102, "one two"), (103, "one two three"),
            (104, "İstanbul ß ligature ﬁ x y z")]
    docs = spark.createDataFrame(DOCS + edge, "doc_id long, text string")

    n = 3
    toks = tokens_col("text")
    idxs = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idxs, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    sid = F.transform(sh, _shingle_hash)

    def affine(i):
        return lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i])) \
            % F.lit(MINHASH_PRIME)

    ref = docs.select(
        F.col("doc_id").alias("id"),
        *[F.array_min(F.transform(sid, affine(i))).alias(f"h{i}")
          for i in range(N_HASHES)],
    ).toPandas().sort_values("id").reset_index(drop=True)
    got = minhash_signatures_hashed(docs).toPandas() \
        .sort_values("id").reset_index(drop=True)
    assert list(got.columns) == list(ref.columns)
    assert list(map(str, got.dtypes)) == list(map(str, ref.dtypes))
    assert got.equals(ref)


def test_band_candidates_single_join_matches_per_band_union(spark):
    """r7 pin: _band_candidates generates candidates with ONE self-join
    on band-tagged keys; the pair set must equal the per-band-join
    union it replaced, in both normal and cross_side modes."""
    import random

    from visionsearch_spark.operators.dedup import (
        N_BANDS,
        N_HASHES,
        _band_candidates,
    )

    rng = random.Random(7)
    rows = []
    for i in range(60):
        # small value range forces plenty of band collisions
        rows.append(tuple([i] + [rng.randrange(3) for _ in range(N_HASHES)]))
    sig = spark.createDataFrame(
        rows, "id long, " + ", ".join(f"h{i} long" for i in range(N_HASHES))
    ).cache()

    rpb = N_HASHES // N_BANDS
    sig_pdf = sig.toPandas()
    for cross in (False, True):
        ref = set()
        for b in range(N_BANDS):
            cols = [f"h{i}" for i in range(b * rpb, (b + 1) * rpb)]
            # every (a, b) row pair equal on this band's hashes
            same = sig_pdf.merge(sig_pdf, on=cols, suffixes=("_a", "_b"))
            for ia, ib in zip(same["id_a"].tolist(), same["id_b"].tolist()):
                if cross:
                    if ia % 2 == 0 and ib % 2 == 1:
                        ref.add((ia, ib))
                elif ia < ib:
                    ref.add((ia, ib))
        got = {(r["id_a"], r["id_b"])
               for r in _band_candidates(sig, cross_side=cross).collect()}
        assert got == ref, f"cross_side={cross}"
