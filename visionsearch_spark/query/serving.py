"""LocalSearcher — the load-once serving layer over built index segments.

The reference serves queries from an index loaded once at process start
(`/root/reference/visionsearch/common_utils/aisearch/main.py:26-36`) with
per-process model/index caches (`api/routers/caption/queries/analyze_image.py:34-44`);
its per-query latency is in-memory FAISS, not a batch job. The Spark path
(`query/wand.py`) is the distributed analog for batch/offline workloads, but
a Spark job costs ~0.5-1.5 s of scheduling regardless of data size — wrong
tool for interactive serving.

LocalSearcher closes that gap: it memory-loads the compressed segments
(pyarrow, zero Spark) and answers top-k in pure numpy using the IDENTICAL
frozen scoring spec and tie-break, rank-identical with the oracle and the
Spark path (tested). At 10^12-turn scale one process cannot hold the index;
the deployment story is one searcher per docid-shard group behind a
scatter-gather router — the same shard partitioning the Spark path uses,
served warm. `shards=` loads a subset for exactly that.

Import rule: loading and /search, /suggest, /healthz import neither
pyspark/py4j nor pandas/pyarrow.dataset/pyarrow.compute, and start no
Arrow pool thread: those would cost about 55 MB of resident memory per
serving process, paid once per shard group (it serves the 1500-conv
query store in about 82 MB). Tables come in through index/store's
single-threaded file_tables/read_columns and cross into numpy through
the codec's buffer views: the postings through codec.PostingRuns, the
same numpy-only reader the Spark kernels use.
tests/test_serving_lean.py guards the rule.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.bm25 import idf as idf_fn
from visionsearch_spark.bm25 import tf_weight
from visionsearch_spark.index.codec import (
    PostingRuns,
    dl_lookup,
    fixed_values,
    gather_dl,
)
from visionsearch_spark.index.store import (
    DL_TERM,
    IndexStore,
    count_rows,
    file_tables,
    read_columns,
    tombstone_docids,
)
from visionsearch_spark.query import score_core, termdict


def _cat(parts: list[np.ndarray]) -> np.ndarray:
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


class LocalSearcher:
    def __init__(self, store: IndexStore, shards: list[int] | None = None):
        self.store = store
        # one meta snapshot: stats, segments and tombstones of one flip
        snap = store.snapshot()
        meta = snap.built_meta()
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta["avgdl"])
        self.shards = shards
        # load keeps each file's posting columns as read and maps every
        # term to its row runs per file (codec.PostingRuns) — no sort,
        # cast or copy of the postings. Posting bytes stay Arrow buffers
        # and decode LAZILY on a term's first query, cached decoded: cold
        # start is column-scan cheap, the warm working set is as fast as
        # eager. The DL_TERM runs are decoded at once into the docid ->
        # dl lookup every term's first decode gathers from.
        cols = ["term", "n", "docids_bin", "tfs_bin"]
        self._runs = PostingRuns(
            [t.to_batches() for t in file_tables(
                snap.segment_paths(),
                cols + ([] if shards is None else ["shard"]),
                read_dictionary=["term"])], shards)
        dl = self._runs.decode([DL_TERM])
        self._lengths = dl_lookup(dl.docids, dl.tf)
        self._decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        # the term dictionary /suggest and did_you_mean read: terms in
        # sorted order, each with its df
        names, ptr = self._runs.terms, self._runs.ptr
        live = [g for g in np.flatnonzero(ptr[1:] > ptr[:-1]).tolist()
                if names[g] != DL_TERM]
        live.sort(key=names.__getitem__)
        self._terms = [names[g] for g in live]
        self._blocks = dict(zip(self._terms, live))
        self._dfs = self._runs.df[live]
        # docmap: docid is dense 0..n-1, so position == docid. conv_id is
        # read dictionary-encoded, so the docs of one conversation share
        # one str
        dm = file_tables([store.docmap_path],
                         ["docid", "conv_id", "turn_idx"],
                         read_dictionary=["conv_id"])
        order = np.argsort(_cat([fixed_values(t["docid"]) for t in dm]),
                           kind="stable")
        self._conv = _cat([
            np.asarray(c.dictionary.to_pylist(), dtype=object)[
                fixed_values(c.indices)]
            for t in dm for c in t["conv_id"].chunks])[order]
        self._turn = _cat([fixed_values(t["turn_idx"]) for t in dm])[order]

        self._first: np.ndarray | None = None  # derived lazily

        # pending tombstones (index/deletes.py): loaded once per process,
        # masked in _scored before every cut, as the wand kernel masks
        # them in-task. Restricted to this searcher's shards (a
        # shard-group process holds only its slice).
        dead = tombstone_docids(snap.tombstone_paths())
        if shards is not None and dead.size:
            dead = dead[np.isin(dead // int(meta["shard_range"]),
                                np.asarray(shards, dtype=np.int64))]
        self._dead: np.ndarray | None = dead if dead.size else None

    def _get_postings(self, term: str) -> tuple[np.ndarray, np.ndarray] | None:
        """(docids, tf_weight) for a term — decoded on first use, cached."""
        p = self._decoded.get(term)
        if p is not None:
            return p
        if term not in self._blocks:
            return None
        post = self._runs.decode([term])
        d = post.docids
        order = np.argsort(d, kind="stable")
        tfw = tf_weight(post.tf.astype(np.float64),
                        gather_dl(self._lengths, d).astype(np.float64),
                        self.avgdl)
        p = (d[order], tfw[order])
        self._decoded[term] = p
        return p

    def df(self, term: str) -> int:
        g = self._blocks.get(term)
        return 0 if g is None else int(self._runs.df[g])

    def _vocab(self, lo: str | None, hi: str | None):
        """(term, df) over the dictionary's terms in [lo, hi), or over
        every term when lo is None (query/termdict's vocab source)."""
        i = 0 if lo is None else bisect_left(self._terms, lo)
        j = len(self._terms) if hi is None else bisect_left(self._terms, hi)
        return zip(self._terms[i:j], self._dfs[i:j].tolist())

    def mask_convs(self, conv_ids: list[str]) -> int:
        """Fold freshly tombstoned conversations into the in-process
        deny set — the serving DELETE endpoint's immediate-visibility
        hook (the on-disk tombstone dir covers every FUTURE searcher;
        this covers the running one without a reload). Returns the
        number of newly masked unit docids."""
        if not conv_ids:
            return 0
        hits = np.flatnonzero(np.isin(self._conv, list(set(conv_ids))))
        if not hits.size:
            return 0
        before = 0 if self._dead is None else self._dead.size
        self._dead = (
            np.unique(hits.astype(np.int64)) if self._dead is None
            else np.unique(np.concatenate([self._dead,
                                           hits.astype(np.int64)]))
        )
        return int(self._dead.size - before)

    def search_docs(self, query: str, k: int = 5, threshold: float = 0.0,
                    term_weights: dict[str, float] | None = None
                    ) -> list[tuple[int, str, float]]:
        """Doc-level top-k over a UNIT store: per-unit scores collapse to
        per-document max (units.py semantics, served in-memory), keyed on
        the conv_id of the loaded docmap. Over a transcript store this
        collapses turns per conversation (conv-level search). Returns
        [(first_unit_docid, conv_id, score)]: the conv's first unit in
        the store, as batch_topk(collapse=True) reports it."""
        return _docs_topk([self._parented(query, threshold, term_weights)],
                          k)

    def _parented(self, query: str, threshold: float,
                  term_weights: dict[str, float] | None = None):
        """(conv_ids, first-unit docids, scores) of the matched units. A
        conv appended in a later increment owns several runs of docids;
        the collapse keys on its conv_id all the same."""
        if self._first is None:
            # positions are docids: each conv's first index is its
            # lowest docid, dead units included, as the docmap holds it
            _convs, first, inv = np.unique(self._conv, return_index=True,
                                           return_inverse=True)
            self._first = first[inv].astype(np.int64)
        uniq, sums = self._scored(query, threshold, term_weights)
        return self._conv[uniq], self._first[uniq], sums

    def _scored(self, query: str, threshold: float,
                term_weights: dict[str, float] | None = None
                ) -> tuple[np.ndarray, np.ndarray]:
        """(docids ascending, scores) of every live doc above threshold,
        summed by score_core in term-rank order; empty when every term
        is OOV.

        term_weights: precomputed per-term idf. REQUIRED when this
        searcher holds a shard subset: its local posting count is not the
        corpus df, so the router (ShardedSearcher) computes global df
        across groups and passes the weights down. A full-index searcher
        derives the identical weights locally (local df == global df)."""
        postings = []
        for t in sorted(set(tokenize(query))):  # canonical rank order
            p = self._get_postings(t)
            if p is None:
                continue
            d, tfw = p
            w = (term_weights[t] if term_weights is not None
                 else idf_fn(self.n_docs, d.size))
            postings.append((d, w * tfw))
        return score_core.admit(*score_core.accumulate(postings, threshold),
                                deny=self._dead)

    def _prefix_mask(self, uniq: np.ndarray, conv_prefix: str
                     ) -> np.ndarray:
        """Boolean mask over matched docids whose conv_id starts with
        the prefix — the reference's S2 key-prefix filter served
        in-memory (filter ∧ top-k with UNCHANGED global stats, masked
        BEFORE the k-cut, exactly like wand's allow-set). The
        conv gather is the same O(matches) indexing the collapse path
        already performs."""
        return np.fromiter(
            (c.startswith(conv_prefix) for c in self._conv[uniq]),
            dtype=bool, count=uniq.size,
        )

    def search(self, query: str, k: int = 5, threshold: float = 0.0,
               term_weights: dict[str, float] | None = None,
               conv_prefix: str | None = None,
               search_after: tuple[float, int] | None = None
               ) -> list[tuple[int, str, int, float]]:
        """[(docid, conv_id, turn_idx, score)] — rank-identical with the
        oracle: the oracle's term-rank summation order (score_core),
        (score desc, docid asc) tie-break, OOV -> [] (never padded hits).
        conv_prefix: serve only docs whose conv_id starts with it.
        search_after: (score, docid) of the previous page's last hit —
        cursor pagination in this searcher's own total order; scores are
        deterministic float64, so the strict-after test is exact."""
        uniq, sums = self._scored(query, threshold, term_weights)
        if conv_prefix is not None:
            m = self._prefix_mask(uniq, conv_prefix)
            uniq, sums = uniq[m], sums[m]
        sel = score_core.select(k, sums, uniq, after=search_after)
        return [
            (int(d), str(self._conv[d]), int(self._turn[d]), float(s))
            for d, s in zip(uniq[sel], sums[sel])
        ]

    def suggest(self, prefix: str, n: int = 10) -> list[tuple[str, int]]:
        """Autocomplete: top-n dictionary completions of `prefix` as
        (term, df), df-desc — the term dictionary IS the suggester
        (Lucene's TermsComponent); answered from the in-memory
        dictionary, ValueError for a non-token prefix
        (query/termdict.complete)."""
        return termdict.complete(self._vocab, prefix, n)

    def did_you_mean(self, query: str, max_edits: int = 2
                     ) -> tuple[str, int] | None:
        """Spell correction over the term dictionary ('did you mean' —
        ES phrase suggester): OOV query terms replaced by their
        highest-df dictionary term within max_edits; None when nothing
        to correct. In-memory (query/termdict.did_you_mean)."""
        return termdict.did_you_mean(self.df, self._vocab, query,
                                     max_edits=max_edits)

    def term_vector(self, conv_id: str, turn_idx: int
                    ) -> list[tuple[str, int, list[int], int]]:
        """ES _termvectors for one unit: [(term, tf, positions, df)],
        staged point lookup + in-memory df — no Spark job
        (query/termvectors.term_vector_local)."""
        from visionsearch_spark.query.termvectors import term_vector_local

        return term_vector_local(self, conv_id, turn_idx)

    def more_like_this(self, conv_id: str, turn_idx: int, k: int = 5,
                       max_query_terms: int = 10
                       ) -> list[tuple[int, str, int, float]]:
        """ES more_like_this served in-process: take the unit's top
        `max_query_terms` terms by tf·idf (idf from this searcher's df —
        rare-but-frequent-here terms characterize the doc), search them
        as a disjunction, and drop the seed unit itself from the hits.
        [] for an unknown key or an all-OOV unit."""
        import math as _math

        tv = self.term_vector(conv_id, turn_idx)
        if not tv:
            return []
        scored = sorted(
            ((tf * _math.log((self.n_docs + 1) / df), t)
             for t, tf, _ps, df in tv if df > 0),
            key=lambda x: (-x[0], x[1]),
        )[:max_query_terms]
        if not scored:
            return []
        query = " ".join(sorted(t for _s, t in scored))
        hits = self.search(query, k=k + 1)
        return [h for h in hits
                if not (h[1] == conv_id and h[2] == turn_idx)][:k]

    def search_highlighted(self, query: str, k: int = 5,
                           threshold: float = 0.0,
                           term_weights: dict[str, float] | None = None,
                           conv_prefix: str | None = None,
                           max_tokens: int = 30,
                           search_after: tuple[float, int] | None = None,
                           ) -> list[tuple[int, str, int, float, str]]:
        """search() plus a query-focused snippet per hit (last element),
        resolved from the staged table with an O(k) point lookup
        (query/highlight.highlight_hits)."""
        from visionsearch_spark.query.highlight import highlight_hits

        hits = self.search(query, k=k, threshold=threshold,
                           term_weights=term_weights,
                           conv_prefix=conv_prefix,
                           search_after=search_after)
        return highlight_hits(self.store, hits, query,
                              max_tokens=max_tokens)


def _docs_topk(parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
               k: int) -> list[tuple[int, str, float]]:
    """Conv-level top-k over (conv_ids, first-unit docids, scores)
    parts: per conv the max score, ranked (score desc, conv_id asc) like
    the distributed path."""
    convs, reps, sums = (np.concatenate(col) for col in zip(*parts))
    convs, sums, reps = score_core.collapse(convs, sums, reps)
    return [(int(reps[i]), str(convs[i]), float(sums[i]))
            for i in score_core.select(k, sums, convs)]


def _popcount64(v: np.ndarray) -> np.ndarray:
    """Per-element popcount of an int64 array (numpy<2 lacks
    np.bitwise_count): unpack the underlying bytes and sum bits."""
    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(v)
    b = np.unpackbits(v.astype("<i8").view(np.uint8).reshape(-1, 8),
                      axis=1)
    return b.sum(axis=1)


class LocalVectorSearcher:
    """In-process ANN serving over a build_ann_index LSH sidecar — the
    vector twin of LocalSearcher (load once, answer in numpy, no Spark
    job per query). Loads (id, sig) from the sidecar and the embedding
    vectors keyed by id; a query Hamming-prunes on the signatures and
    exact-cosines the survivors, bit-for-bit the plan of
    operators/similarity.cosine_topk_lsh_indexed (rank-parity pinned in
    tests). At 10^12-row scale the per-process load is a shard of the
    embedding table behind the same scatter-gather story as
    ShardedSearcher; here one process holds the fixture corpus.

    conv_of: maps the embedding id to the text store's conv_id key (the
    id mapping is corpus knowledge, not engine knowledge; default str)."""

    def __init__(self, ann_root: str, emb_path: str,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 conv_of=None):
        import json
        import os

        from visionsearch_spark.operators.similarity import (
            SIG_DIR,
            SIG_META,
            _hyperplanes,
        )

        with open(os.path.join(ann_root, SIG_META)) as f:
            m = json.load(f)
        self.dim = int(m["dim"])
        self._planes = _hyperplanes(self.dim, int(m["n_planes"]),
                                    int(m["seed"]))
        sig = read_columns([os.path.join(ann_root, SIG_DIR)], ["id", "sig"])
        sig_ids = fixed_values(sig["id"]).astype(np.int64)
        sigs = fixed_values(sig["sig"]).astype(np.int64)
        emb = read_columns([emb_path], [id_col, vec_col])
        emb_ids = fixed_values(emb[id_col]).astype(np.int64)
        vecs = np.asarray(emb.column(vec_col).to_pylist(),
                          dtype=np.float64)
        order = np.argsort(emb_ids, kind="stable")
        emb_ids, vecs = emb_ids[order], vecs[order]
        # align signatures to the vector order by id
        pos = np.searchsorted(emb_ids, sig_ids)
        if not (pos < emb_ids.size).all() or not \
                (emb_ids[np.minimum(pos, emb_ids.size - 1)]
                 == sig_ids).all():
            raise ValueError("ANN sidecar ids not all present in the "
                             "embedding table")
        self._ids = emb_ids
        self._vecs = vecs
        self._sigs = np.zeros(emb_ids.size, dtype=np.int64)
        self._sigs[pos] = sigs
        self._norms = np.sqrt((vecs * vecs).sum(axis=1))
        self.conv_of = conv_of or str

    def topk(self, query_vec, k: int = 10, max_hamming: int = 4
             ) -> list[tuple[str, int, float]]:
        """[(conv_id, rank, cos)] — Hamming prune on signatures, exact
        cosine on survivors, (cos desc, id asc) order, identical to the
        Spark cosine_topk_lsh_indexed plan."""
        qv = np.asarray(query_vec, dtype=np.float64)
        if qv.size != self.dim:
            raise ValueError(
                f"query dim {qv.size} != index dim {self.dim}")
        qsig = 0
        for i, plane in enumerate(self._planes):
            if float(plane @ qv) >= 0:
                qsig |= 1 << i
        surv = np.flatnonzero(
            _popcount64(self._sigs ^ np.int64(qsig)) <= max_hamming)
        if not surv.size:
            return []
        qn = float(np.sqrt(qv @ qv))
        denom = self._norms[surv] * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0,
                           (self._vecs[surv] @ qv) / denom, 0.0)
        order = np.lexsort((self._ids[surv], -cos))[:k]
        sel = surv[order]
        return [
            (self.conv_of(int(self._ids[i])), r + 1, float(c))
            for r, (i, c) in enumerate(zip(sel, cos[order]))
        ]


def hybrid_serve(text_searcher, vec_searcher: LocalVectorSearcher,
                 query: str, query_vec, k: int = 10, depth: int = 50,
                 c: int = 60, max_hamming: int = 4
                 ) -> list[tuple[str, int, float]]:
    """Serving-tier hybrid retrieval: RRF-fuse the text searcher's
    conv-collapsed top-`depth` (rank = first appearance of the conv in
    the turn-level ranking, the serving analog of hybrid_topk's min-rank
    collapse) with the vector searcher's ANN top-`depth`. Returns
    [(conv_id, rank, fused)], ties broken conv asc — the same RRF
    contract as query/hybrid.rrf_fuse, served without a Spark job."""
    ranks: dict[str, float] = {}
    conv_rank: dict[str, int] = {}
    for pos, (_d, cv, _t, _s) in enumerate(
            text_searcher.search(query, k=depth), start=1):
        # min TURN-level rank per conv, gaps preserved — matching
        # hybrid_topk's groupBy(conv).min(rank), not a dense renumber
        if cv not in conv_rank:
            conv_rank[cv] = pos
    for cv, r in conv_rank.items():
        ranks[cv] = ranks.get(cv, 0.0) + 1.0 / (c + r)
    for cv, r, _cos in vec_searcher.topk(query_vec, k=depth,
                                         max_hamming=max_hamming):
        ranks[cv] = ranks.get(cv, 0.0) + 1.0 / (c + r)
    fused = sorted(ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(cv, i + 1, f) for i, (cv, f) in enumerate(fused)]


class ShardedSearcher:
    """Scatter-gather router over per-shard-group LocalSearchers — the
    deployment story at 10^12-turn scale, where one process cannot hold
    the index: shards (docid ranges) are partitioned into n_groups, each
    group loads only its slice of the segments (`LocalSearcher(shards=)`),
    and a query fans out to every group and heap-merges with the frozen
    tie-break. The reference runs a single serving worker holding the
    whole FAISS index (`supervisord.conf [program:app]`,
    `aisearch/main.py:26-36`) — this router is the horizontal version.

    Correctness invariants:
      * idf uses GLOBAL df: the router sums per-group df (cheap — block
        metadata) and passes explicit term weights down; a group's local
        posting count is not the corpus df.
      * each docid's postings live in exactly one group (shard = docid
        range), so per-group scores are final — the merge never re-sums.
      * global top-k ⊆ union of per-group top-k (scores are doc-local),
        so gathering k per group is lossless; merge re-sorts by the same
        (score desc, key asc) order the single searcher uses.
    Rank-identity with a single full searcher is pinned by
    tests/test_serving.py."""

    def __init__(self, store: IndexStore, n_groups: int = 4):
        self.store = store
        snap = store.snapshot()  # every group loads the same flip
        meta = snap.read_meta()
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta["avgdl"])
        shard_range = int(meta["shard_range"])
        # docids are dense over the staged rows, dead ones included: a
        # compaction that folds deletes lowers n_docs, not the top docid
        n_ids = count_rows(store.staged_path)
        max_shard = max(0, (n_ids - 1) // shard_range)
        groups: list[list[int]] = [
            list(range(g, max_shard + 1, n_groups))
            for g in range(min(n_groups, max_shard + 1))
        ]
        self.searchers = [LocalSearcher(snap, shards=g) for g in groups]

    def df(self, term: str) -> int:
        return sum(s.df(term) for s in self.searchers)

    def mask_convs(self, conv_ids: list[str]) -> int:
        """Fan the serving-tier delete out to every shard group (each
        group masks only its own docids — np.isin finds nothing in the
        others)."""
        return sum(s.mask_convs(conv_ids) for s in self.searchers)

    def _weights(self, query: str) -> dict[str, float]:
        qterms = sorted(set(tokenize(query)))
        out = {}
        for t in qterms:
            d = self.df(t)
            if d > 0:
                out[t] = idf_fn(self.n_docs, d)
        return out

    def search(self, query: str, k: int = 5, threshold: float = 0.0,
               conv_prefix: str | None = None,
               search_after: tuple[float, int] | None = None
               ) -> list[tuple[int, str, int, float]]:
        # pagination composes with scatter-gather for free: each group
        # applies the cursor before its local cut (so per-group top-k of
        # the strictly-after set is a superset of the global page), and
        # the merge re-cuts in the same total order
        w = self._weights(query)
        if not w:
            return []
        hits = [
            h for s in self.searchers
            for h in s.search(query, k=k, threshold=threshold,
                              term_weights=w, conv_prefix=conv_prefix,
                              search_after=search_after)
        ]
        sel = score_core.select(
            k, np.array([h[3] for h in hits], dtype=np.float64),
            np.array([h[0] for h in hits], dtype=np.int64))
        return [hits[i] for i in sel]

    def _vocab(self, lo: str | None, hi: str | None):
        """The FULL dictionary: the union of the groups' terms, df summed
        (a term's blocks spread over every group holding its docs)."""
        agg: dict[str, int] = {}
        for s in self.searchers:
            for t, d in s._vocab(lo, hi):
                agg[t] = agg.get(t, 0) + d
        return agg.items()

    def suggest(self, prefix: str, n: int = 10) -> list[tuple[str, int]]:
        """Autocomplete over the FULL dictionary (query/termdict)."""
        return termdict.complete(self._vocab, prefix, n)

    def did_you_mean(self, query: str, max_edits: int = 2
                     ) -> tuple[str, int] | None:
        """Spell correction over the FULL dictionary with global df."""
        return termdict.did_you_mean(self.df, self._vocab, query,
                                     max_edits=max_edits)

    def search_highlighted(self, query: str, k: int = 5,
                           threshold: float = 0.0,
                           conv_prefix: str | None = None,
                           max_tokens: int = 30,
                           search_after: tuple[float, int] | None = None,
                           ) -> list[tuple[int, str, int, float, str]]:
        """Scatter-gather search() plus per-hit snippets — ONE staged
        point lookup for the merged k, not one per group."""
        from visionsearch_spark.query.highlight import highlight_hits

        hits = self.search(query, k=k, threshold=threshold,
                           conv_prefix=conv_prefix,
                           search_after=search_after)
        return highlight_hits(self.store, hits, query,
                              max_tokens=max_tokens)

    def search_docs(self, query: str, k: int = 5, threshold: float = 0.0
                    ) -> list[tuple[int, str, float]]:
        """Doc-level (conv-collapsed) scatter-gather: a parent's units can
        span shard groups, so every group's matched units (scored ONCE
        per group, pre-cut) collapse together by conv — score = max
        across groups, representative docid = the conv's first unit in
        the store (every group loads the whole docmap), even when the
        group holding it would not rank the conv in its own top-k."""
        w = self._weights(query)
        if not w:
            return []
        return _docs_topk([s._parented(query, threshold, term_weights=w)
                           for s in self.searchers], k)
