"""Positional postings (pos_bin, r6): codec round-trip, exact parity of
the index-only phrase/proximity verify with the staged-text fallback and
with exhaustive Python oracles, lifecycle survival (append / delete /
compaction), plan shape, and fsck coverage."""

from __future__ import annotations

import numpy as np
import pytest

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.index.codec import (
    decode_positions,
    decode_varint,
    encode_positions,
)
from visionsearch_spark.index.spimi import build_index, compact_store
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.query.boolean import (
    matching_docids,
    phrase_docids,
    positional_docids,
    proximity_docids,
)


@pytest.fixture(scope="module")
def pos_store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("positx"))
    return build_index(transcripts, root, n_partitions=8, n_shards=16,
                       positions=True)


@pytest.fixture(scope="module")
def nopos_store(spark, transcripts, tmp_path_factory):
    """Flagless twin of pos_store (same rows, same docids): its phrase
    and proximity verify takes the staged-text fallback."""
    root = str(tmp_path_factory.mktemp("nopos"))
    return build_index(transcripts, root, n_partitions=8, n_shards=16)


def _live_tokens(store, dead_convs=()):
    """docid -> analyzed tokens of every live row of `store`."""
    import pyarrow.parquet as pq

    st = pq.read_table(store.staged_path,
                       columns=["docid", "conv_id", "text"]).to_pandas()
    return {int(r.docid): tokenize(r.text)
            for r in st.itertuples(index=False)
            if r.conv_id not in dead_convs}


@pytest.fixture(scope="module")
def doc_tokens(pos_store):
    return _live_tokens(pos_store)


def _ids(df):
    return sorted(r.docid for r in df.collect())


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def test_positions_codec_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(200):
        ndocs = int(rng.integers(1, 40))
        tfs = rng.integers(1, 8, size=ndocs)
        pos = np.concatenate([
            np.sort(rng.choice(4096, size=int(t), replace=False))
            for t in tfs
        ])
        assert (decode_positions(encode_positions(pos, tfs), tfs)
                == pos).all()


def test_positions_codec_slice_validity():
    """The load-bearing codec property: any doc-boundary-aligned slice of
    the DELTA stream is itself a valid encoding (compaction re-chunks
    and delete-masking filter by slicing, never re-deriving absolutes)."""
    tfs = np.array([3, 1, 4, 2, 5])
    pos = np.concatenate([[5, 9, 11], [0], [2, 3, 7, 100],
                          [50, 51], [1, 2, 3, 4, 90]])
    buf = encode_positions(pos, tfs)
    deltas = decode_varint(buf, int(tfs.sum())).astype(np.int64)
    occ = np.concatenate(([0], np.cumsum(tfs)))
    for a in range(len(tfs)):
        for b in range(a + 1, len(tfs) + 1):
            sub_tfs = tfs[a:b]
            sub = deltas[occ[a]:occ[b]].astype(np.uint64)
            from visionsearch_spark.index.codec import encode_varint

            got = decode_positions(encode_varint(sub), sub_tfs)
            assert (got == pos[occ[a]:occ[b]]).all(), (a, b)


def test_positions_codec_empty():
    assert encode_positions(np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.int64)) == b""
    assert decode_positions(b"", np.empty(0, dtype=np.int64)).size == 0


# ---------------------------------------------------------------------------
# phrase / proximity exactness on the positional path
# ---------------------------------------------------------------------------

def _phrase_match(doc_tokens, toks):
    m = len(toks)
    return sorted(
        d for d, tk in doc_tokens.items()
        if any(tk[i:i + m] == toks for i in range(len(tk) - m + 1))
    )


def _prox_match(doc_tokens, terms, window):
    out = set()
    for d, tk in doc_tokens.items():
        for i in range(max(1, len(tk) - window + 1)):
            win = set(tk[i:i + window])
            if all(t in win for t in terms):
                out.add(d)
                break
    return sorted(out)


def test_phrase_positional_exact(spark, pos_store, doc_tokens):
    assert pos_store.has_positions()
    for phrase in ["join filter", "the fast", "filter join",
                   "join filter stream", "zzz notaword"]:
        toks = tokenize(phrase)
        got = _ids(phrase_docids(spark, pos_store, phrase))
        assert got == _phrase_match(doc_tokens, toks), phrase


def test_phrase_repeated_token(spark, pos_store, doc_tokens):
    """A phrase whose token repeats exercises the per-index key shift."""
    # find any doc with an adjacent repeated token to build the query from
    for d, tk in doc_tokens.items():
        for a, b in zip(tk, tk[1:]):
            if a == b:
                phrase = f"{a} {b}"
                got = _ids(phrase_docids(spark, pos_store, phrase))
                assert got == _phrase_match(doc_tokens, tokenize(phrase))
                assert d in got
                return
    pytest.skip("fixture corpus has no adjacent repeated token")


def test_proximity_positional_exact(spark, pos_store, doc_tokens):
    for terms, window in [(["join", "filter"], 3),
                          (["scan", "merge"], 5),
                          (["the", "fast"], 2),
                          (["join", "filter", "stream"], 8)]:
        got = _ids(proximity_docids(spark, pos_store, terms, window))
        assert got == _prox_match(doc_tokens, terms, window), (terms,
                                                               window)


def test_positional_store_flag_gates_path(spark, pos_store, nopos_store,
                                          doc_tokens):
    """A store built WITHOUT positions falls back to the staged-text
    verify — same answers as the positional twin and the brute force —
    and positional_docids refuses it loudly."""
    assert not nopos_store.has_positions()
    for phrase in ["join filter", "the fast", "join filter stream"]:
        got = _ids(phrase_docids(spark, nopos_store, phrase))
        assert got == _phrase_match(doc_tokens, tokenize(phrase)), phrase
        assert got == _ids(phrase_docids(spark, pos_store, phrase)), phrase
    for terms, window in [(["join", "filter"], 3), (["scan", "merge"], 5)]:
        got = _ids(proximity_docids(spark, nopos_store, terms, window))
        assert got == _prox_match(doc_tokens, terms, window), terms
        assert got == _ids(proximity_docids(spark, pos_store, terms,
                                            window)), terms
    with pytest.raises(Exception, match="pos_bin"):
        positional_docids(spark, nopos_store, ["join", "filter"]).collect()


# ---------------------------------------------------------------------------
# lifecycle: append, delete, compaction
# ---------------------------------------------------------------------------

def test_positions_survive_lifecycle(spark, transcripts,
                                     tmp_path_factory):
    from pyspark.sql import functions as F

    from visionsearch_spark.index.deletes import delete_convs_local
    from visionsearch_spark.index.fsck import fsck
    from visionsearch_spark.streaming.incremental import incremental_build

    root = str(tmp_path_factory.mktemp("poslife"))
    base = transcripts.filter(F.col("conv_id") < "conv-000070")
    store = build_index(base, root, n_partitions=8, n_shards=16,
                        positions=True)
    incremental_build(transcripts, root, n_partitions=8)
    store = IndexStore(root)
    assert store.has_positions()  # appends inherit the flag
    assert len(store.read_meta()["segment_dirs"]) > 1  # really multi-dir

    def parity(tag, dead_convs=()):
        live = _live_tokens(store, dead_convs)
        for phrase in ["join filter", "select join"]:
            assert _ids(phrase_docids(spark, store, phrase)) \
                == _phrase_match(live, tokenize(phrase)), (tag, phrase)
        terms, w = ["join", "filter"], 6
        assert _ids(proximity_docids(spark, store, terms, w)) \
            == _prox_match(live, terms, w), tag

    parity("appended")
    victims = sorted(
        r.conv_id for r in
        phrase_docids(spark, store, "join filter")
        .join(spark.read.parquet(store.docmap_path)
              .select("docid", "conv_id"), "docid").limit(3).collect()
    )
    assert victims
    delete_convs_local(store, victims)
    hit_ids = _ids(phrase_docids(spark, store, "join filter"))
    dm = {int(r.docid): r.conv_id for r in
          spark.read.parquet(store.docmap_path)
          .select("docid", "conv_id").collect()}
    assert not any(dm[d] in victims for d in hit_ids)  # tombstones mask
    parity("deleted-pending", victims)
    # the tombstone anti-join sits on top of the one-stage launcher: no
    # Exchange anywhere beneath the kernel
    for df in (positional_docids(spark, store, ["join", "filter"]),
               matching_docids(spark, store, all_of=["join", "filter"])):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        sub = _kernel_subtree(plan)
        assert any("Range (" in ln for ln in sub), plan
        assert not any("Exchange" in ln for ln in sub), plan
    compact_store(spark, root, n_partitions=8)
    store = IndexStore(root)
    assert len(store.read_meta()["segment_dirs"]) == 1
    parity("compacted", victims)
    rep = fsck(root)
    assert rep["positions"]["ok"], rep["positions"]


# ---------------------------------------------------------------------------
# plan shape + fsck
# ---------------------------------------------------------------------------

def _kernel_subtree(plan: str) -> list[str]:
    """Lines of the first MapInArrow node of a plan string and of every
    node beneath it (deeper indentation)."""
    import re

    lines = plan.splitlines()
    i = next(j for j, ln in enumerate(lines) if "MapInArrow" in ln)
    col = lines[i].index("MapInArrow")
    sub = [lines[i]]
    for ln in lines[i + 1:]:
        m = re.search(r"[A-Za-z]", ln)
        if m is None or m.start() <= col:
            break
        sub.append(ln)
    return sub


def test_positional_plan_zero_shuffle(spark, pos_store):
    """Positional verify rides the same one-stage file-aligned plan as
    membership: no Spark FileScan of segment dirs and no Exchange at all
    (the store has no tombstones, so no anti-join either)."""
    df = positional_docids(spark, pos_store, ["join", "filter"])
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any(d in plan for d in pos_store.segment_paths())
    assert "Exchange" not in plan
    assert "hashpartitioning(shard" not in plan


def test_fsck_catches_null_pos_bin(spark, transcripts, tmp_path_factory):
    """Flipping meta.positions on a store built without pos payloads must
    trip the fsck positions check (the misconfiguration the query path
    would otherwise hit as an in-task ValueError)."""
    from visionsearch_spark.index.fsck import fsck

    root = str(tmp_path_factory.mktemp("posfsck"))
    store = build_index(transcripts, root, n_partitions=8, n_shards=16)
    meta = store.read_meta()
    meta["positions"] = True
    store.write_meta(meta)
    rep = fsck(root)
    assert not rep["positions"]["ok"]


# ---------------------------------------------------------------------------
# ordered sloppy phrase (SpanNear inOrder=true)
# ---------------------------------------------------------------------------

def _slop_match(doc_tokens, toks, slop):
    """Exhaustive oracle: exists in-order positions with span <=
    len(toks)-1+slop."""
    m = len(toks)
    out = []
    for d, tk in doc_tokens.items():
        hit = False
        for p0 in range(len(tk)):
            if tk[p0] != toks[0]:
                continue
            # greedy earliest successors
            cur = p0
            ok = True
            for t in toks[1:]:
                nxt = next((j for j in range(cur + 1, len(tk))
                            if tk[j] == t), None)
                if nxt is None:
                    ok = False
                    break
                cur = nxt
            if ok and cur - p0 <= m - 1 + slop:
                hit = True
                break
        if hit:
            out.append(d)
    return sorted(out)


def test_sloppy_phrase_exact(spark, pos_store, doc_tokens):
    for phrase, slop in [("join filter", 2), ("join filter", 0),
                         ("the fast", 3), ("join filter stream", 4),
                         ("filter join", 1)]:
        toks = tokenize(phrase)
        got = _ids(phrase_docids(spark, pos_store, phrase, slop=slop))
        assert got == _slop_match(doc_tokens, toks, slop), (phrase, slop)


def test_sloppy_phrase_slop0_equals_exact(spark, pos_store):
    for phrase in ["join filter", "table scan"]:
        assert _ids(phrase_docids(spark, pos_store, phrase, slop=0)) \
            == _ids(phrase_docids(spark, pos_store, phrase))


def test_sloppy_phrase_widens_monotonically(spark, pos_store):
    prev: set = set()
    for slop in [0, 1, 3, 8]:
        cur = set(_ids(phrase_docids(spark, pos_store, "join filter",
                                     slop=slop)))
        assert prev <= cur, slop
        prev = cur


def test_sloppy_phrase_requires_positions(spark, transcripts,
                                          tmp_path_factory):
    from visionsearch_spark.index.spimi import build_index as _bi

    root = str(tmp_path_factory.mktemp("noposslop"))
    store = _bi(transcripts, root, n_partitions=8)
    with pytest.raises(ValueError, match="positions"):
        phrase_docids(spark, store, "join filter", slop=2)
    with pytest.raises(ValueError, match="slop"):
        phrase_docids(spark, store, "join filter", slop=-1)


def test_compact_refuses_mixed_pos_runs(spark):
    """Through the vectorized compaction kernel, fully-positional runs
    round-trip their positions and postings exactly; an input mixing
    positional and NULL pos_bin blocks is corruption (a store's
    positions flag is fixed at build) and raises, naming fsck."""
    import numpy as np
    from visionsearch_spark.index.codec import (
        decode_docids,
        decode_positions,
        decode_varint,
        encode_docids,
        encode_positions,
        encode_varint,
    )
    from visionsearch_spark.index.spimi import _compact_segments
    from visionsearch_spark.index.store import SEGMENT_SCHEMA_DDL

    def block(term, docids, tfs, dls, pos_flat):
        d = np.asarray(docids, dtype=np.int64)
        t = np.asarray(tfs, dtype=np.int64)
        L = np.asarray(dls, dtype=np.int64)
        pb = (encode_positions(np.asarray(pos_flat, dtype=np.int64), t)
              if pos_flat is not None else None)
        return (term, int(d[0]), int(d[-1]), len(d),
                bytes(encode_docids(d)),
                bytes(encode_varint(t.astype(np.uint64))),
                bytes(encode_varint(L.astype(np.uint64))),
                int(t.max()), int(L.min()), pb)

    shard_range = 1000
    rows = [
        # run A ("alpha", shard 0): two fragments, BOTH positional
        block("alpha", [1, 5], [2, 1], [9, 9], [0, 3, 7]),
        block("alpha", [20, 40], [1, 2], [9, 9], [2, 1, 4]),
        # run B ("beta", shard 0): two positional fragments
        block("beta", [2, 6], [1, 1], [9, 9], [5, 6]),
        block("beta", [30], [2], [9], [0, 8]),
    ]
    frags = spark.createDataFrame(rows, SEGMENT_SCHEMA_DDL)
    out = _compact_segments(frags, shard_range, n_tasks=1).collect()
    by_term = {}
    for r in out:
        by_term.setdefault(r["term"], []).append(r)
    for term, exp_docids, exp_tfs, exp_pos in [
        ("alpha", [1, 5, 20, 40], [2, 1, 1, 2], [0, 3, 7, 2, 1, 4]),
        ("beta", [2, 6, 30], [1, 1, 2], [5, 6, 0, 8]),
    ]:
        blocks = sorted(by_term[term], key=lambda r: r["min_docid"])
        d = np.concatenate(
            [decode_docids(r["docids_bin"], r["n"]) for r in blocks])
        t = np.concatenate(
            [decode_varint(r["tfs_bin"], r["n"]) for r in blocks])
        p = np.concatenate([
            decode_positions(
                r["pos_bin"],
                decode_varint(r["tfs_bin"], r["n"]).astype(np.int64))
            for r in blocks
        ])
        assert d.tolist() == exp_docids
        assert t.tolist() == exp_tfs
        assert p.tolist() == exp_pos and t.sum() == len(exp_pos)

    # one positionless block in the same input -> refused, not degraded
    mixed = rows[:3] + [block("beta", [30], [2], [9], None)]
    frags = spark.createDataFrame(mixed, SEGMENT_SCHEMA_DDL)
    with pytest.raises(Exception, match="run fsck"):
        _compact_segments(frags, shard_range, n_tasks=1).collect()
