"""Streaming operators vs their batch oracles.

End-to-end: the sf0.001 events fixture spooled as chronological chunks,
streamed with maxFilesPerTrigger=1 + availableNow; a far-future sentinel
event then advances the watermark so open state flushes. The union of
emitted rows must EQUAL the batch twin:

* sessionize_stream (applyInPandasWithState) vs F.session_window
* tumbling_counts_stream (watermarked window agg)  vs the batch
  tumbling_window_events shape
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from visionsearch_spark.streaming.aggregates import tumbling_counts_stream
from visionsearch_spark.streaming.sessionize import (
    _fold_sessions,
    sessionize_stream,
)

SF_DIR = "/root/testdata/sf0.001"
GAP_SEC = 3600
STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)
SENTINEL_USER = -1


def _spool_write(table: pa.Table, path: str, **kw) -> None:
    """Write one spool file that ARRIVES after every file already in its
    dir. The file source takes files in modification-time order, and
    files written within the same millisecond tie in an arbitrary
    order; the order-sensitive operators here need the write order."""
    pq.write_table(table, path, **kw)
    d = os.path.dirname(path)
    prior = [os.stat(os.path.join(d, f)).st_mtime for f in os.listdir(d)
             if os.path.join(d, f) != path]
    if prior:
        t = max(prior) + 1
        os.utime(path, (t, t))


def test_fold_matches_session_window_semantics(spark):
    """Boundary pin: an event at exactly last+gap starts a NEW session
    (session_window's end is exclusive); one inside extends. Checked
    against F.session_window itself on crafted timestamps."""
    base = 1_700_000_000_000_000  # epoch-us
    gap_us = GAP_SEC * 1_000_000
    ts = [
        base,
        base + 10_000_000,
        base + 10_000_000 + gap_us - 1,   # extends (strictly inside)
        base + 10_000_000 + 2 * gap_us,   # exactly last+gap => new session
        base + 10_000_000 + 3 * gap_us - 1,
    ]
    closed, state = _fold_sessions(ts, gap_us, None)
    got = [(s, n) for s, n in closed] + [(state[0], state[2])]

    rows = [(1, t) for t in ts]
    df = spark.createDataFrame(rows, "user_id long, ts_us long").select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    want = [
        (r["ss"], r["n"])
        for r in df.groupBy(
            "user_id", F.session_window("ts", f"{GAP_SEC} seconds").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("ss"), "n")
        .orderBy("ss")
        .collect()
    ]
    assert got == want


def test_fold_late_event_extends_back():
    gap_us = GAP_SEC * 1_000_000
    closed, state = _fold_sessions([1_000_000], gap_us, None)
    assert closed == [] and state == (1_000_000, 1_000_000, 1)
    # a late (but in-watermark) event older than the open session start
    closed, state = _fold_sessions([500_000], gap_us, state)
    assert closed == [] and state == (500_000, 1_000_000, 2)


@pytest.fixture(scope="module")
def spool(spark, tmp_path_factory):
    """Fixture events sorted by ts, written as 4 chronological parquet
    chunks (epoch-us timestamps — Spark can't read pandas' default ns),
    plus the max event ts. Sentinel NOT yet written."""
    root = str(tmp_path_factory.mktemp("stream_spool"))
    pdf = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    n_chunks = 4
    step = (len(pdf) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk = pdf.iloc[i * step:(i + 1) * step]
        _spool_write(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(root, f"{i:04d}.parquet"),
            coerce_timestamps="us",
        )
    return root, int(pdf["ts"].astype("int64").max() // 1000)


def _write_sentinel(spool_dir: str, max_us: int) -> None:
    path = os.path.join(spool_dir, "9999.parquet")
    if os.path.exists(path):
        return
    sentinel = pa.table(
        {
            "event_id": pa.array([10**9], pa.int64()),
            "ts": pa.array(
                [max_us + 2 * 86400 * 1_000_000], pa.timestamp("us")
            ),
            "user_id": pa.array([SENTINEL_USER], pa.int64()),
            "event_type": pa.array(["sentinel"], pa.string()),
            "value": pa.array([0.0], pa.float64()),
        }
    )
    _spool_write(sentinel, path)


def _run_stream(spark, spool_dir: str, transform, ckpt: str, out: str) -> None:
    """One availableNow pass into an exactly-once parquet sink (the memory
    sink cannot recover from a checkpoint across restarts)."""
    q = (
        transform(
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(spool_dir)
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)


def test_streaming_sessions_equal_batch_session_window(
    spark, spool, tmp_path_factory
):
    spool_dir, max_us = spool
    base = str(tmp_path_factory.mktemp("sess"))
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "out")
    tf = lambda sdf: sessionize_stream(sdf, gap_sec=GAP_SEC,  # noqa: E731
                                       watermark="1 second")

    # run 1: sessions closed by in-stream gaps; run 2: the sentinel
    # advances the watermark past every open session's last_ts + gap =>
    # EventTimeTimeout flushes the rest (restart also proves the state
    # store recovers from the checkpoint)
    _run_stream(spark, spool_dir, tf, ckpt, out)
    _write_sentinel(spool_dir, max_us)
    _run_stream(spark, spool_dir, tf, ckpt, out)

    got = {}
    for r in spark.read.parquet(out).collect():
        key = (r["user_id"], r["session_start"] // 1_000_000)
        assert key not in got, f"duplicate session {key}"
        got[key] = r["n_events"]

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in ev.groupBy(
            "user_id", F.session_window("ts", f"{GAP_SEC} seconds").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
        .collect()
    }
    assert {k: v for k, v in got.items() if k[0] != SENTINEL_USER} == want


def test_streaming_tumbling_agg_equals_batch(spark, spool, tmp_path_factory):
    """Watermarked streaming window agg in append mode: after the
    sentinel finalizes every fixture window, emitted rows == the batch
    tumbling aggregation (excluding the sentinel's own window)."""
    spool_dir, max_us = spool
    _write_sentinel(spool_dir, max_us)
    base = str(tmp_path_factory.mktemp("win"))
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "out")
    tf = lambda sdf: tumbling_counts_stream(  # noqa: E731
        sdf, window="1 hour", watermark="1 second"
    )
    _run_stream(spark, spool_dir, tf, ckpt, out)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
        if r["event_type"] != "sentinel"
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .collect()
    }
    assert set(got) == set(want)
    for key, (n, sv) in want.items():
        # counts exact; sums within FP noise of the incremental partials
        assert got[key][0] == n, key
        assert abs(got[key][1] - sv) < 1e-6, key


def test_streaming_dedup_equals_batch_keep_first(spark, tmp_path_factory):
    """dedup_stream over id-ordered chunks (with planted cross-chunk and
    in-chunk duplicates) == batch exact_dedup's keep-first winners; a
    restart (second availableNow run over a new chunk) must not re-emit
    texts already seen — the state survives the checkpoint."""
    from visionsearch_spark.operators.dedup import exact_dedup
    from visionsearch_spark.streaming.dedup_stream import dedup_stream

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").orderBy("doc_id").limit(200).collect()
    rows = [(int(r["doc_id"]), r["text"]) for r in base]
    n = len(rows)
    # planted duplicates: ids 10000+ duplicate earlier texts
    rows += [(10000 + i, rows[i * 3][1]) for i in range(30)]

    root = str(tmp_path_factory.mktemp("dedup_stream"))
    spool_dir = os.path.join(root, "spool")
    os.makedirs(spool_dir)
    chunks = [rows[: n // 2], rows[n // 2: n], rows[n:]]
    for i, chunk in enumerate(chunks):
        _spool_write(
            pa.table(
                {
                    "doc_id": pa.array([c[0] for c in chunk], pa.int64()),
                    "text": pa.array([c[1] for c in chunk], pa.string()),
                }
            ),
            os.path.join(spool_dir, f"{i:04d}.parquet"),
        )
    ckpt, out = os.path.join(root, "ckpt"), os.path.join(root, "out")

    def run():
        q = (
            dedup_stream(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(spool_dir),
                n_groups=8,
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run()
    # restart with one more chunk: half re-duplicates, half fresh
    extra = [(20000, rows[0][1]), (20001, "a brand new unseen text")]
    _spool_write(
        pa.table(
            {
                "doc_id": pa.array([c[0] for c in extra], pa.int64()),
                "text": pa.array([c[1] for c in extra], pa.string()),
            }
        ),
        os.path.join(spool_dir, "0005.parquet"),
    )
    run()

    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    all_rows = rows + extra
    df = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = sorted(r["keep_id"] for r in exact_dedup(df).collect())
    assert kept == want


def test_streaming_dedup_multichunk_batch_keeps_min_id(
        spark, tmp_path_factory):
    """A single micro-batch whose hash groups span MULTIPLE Arrow chunks
    (maxRecordsPerBatch=16, rows spooled in DESCENDING id order so the
    duplicate with the SMALLER id arrives in a later chunk): the keeper
    must still be the min id — r3 review: sorting each chunk alone made
    the in-batch winner arrival-dependent."""
    from visionsearch_spark.operators.dedup import exact_dedup
    from visionsearch_spark.streaming.dedup_stream import dedup_stream

    rows = [(i, f"text number {i % 20}") for i in range(100)]  # 5 copies each
    root = str(tmp_path_factory.mktemp("dedup_chunks"))
    spool_dir = os.path.join(root, "spool")
    os.makedirs(spool_dir)
    desc = sorted(rows, key=lambda r: -r[0])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in desc], pa.int64()),
                "text": pa.array([r[1] for r in desc], pa.string()),
            }
        ),
        os.path.join(spool_dir, "0000.parquet"),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        out = os.path.join(root, "out")
        q = (
            dedup_stream(
                spark.readStream.schema("doc_id long, text string")
                .parquet(spool_dir),
                n_groups=2,  # 10 texts per group >> 16-row chunks? no —
                             # 50 rows per group => 4 chunks per group
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(r["keep_id"] for r in exact_dedup(df).collect())
    assert kept == want == sorted(range(20))


def test_streaming_dedup_state_writes_flat(spark, tmp_path_factory):
    """The r3 scale-killer regression guard: state BYTES WRITTEN per
    micro-batch must be O(batch), not O(seen). With constant-size
    all-new batches, per-version state delta bytes stay flat as the
    cumulative seen-set grows 8x (the old per-group seen-array design
    re-serialized the whole history every trigger, so late deltas grew
    ~linearly with seen)."""
    from visionsearch_spark.streaming.dedup_stream import dedup_stream

    root = str(tmp_path_factory.mktemp("dedup_state_vol"))
    spool_dir = os.path.join(root, "spool")
    os.makedirs(spool_dir)
    n_batches, bsz = 8, 400
    for i in range(n_batches):
        ids = list(range(i * bsz, (i + 1) * bsz))
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([f"unique text {j}" for j in ids],
                                 pa.string()),
            }),
            os.path.join(spool_dir, f"{i:04d}.parquet"),
        )
    ckpt, out = os.path.join(root, "ckpt"), os.path.join(root, "out")
    q = (
        dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(spool_dir),
            n_groups=8,
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert spark.read.parquet(out).count() == n_batches * bsz

    # sum .delta bytes per state version (snapshots excluded: those are
    # periodic full-state compactions, not per-batch write volume)
    sizes: dict[int, int] = {}
    state0 = os.path.join(ckpt, "state", "0")
    for part in os.listdir(state0):
        pdir = os.path.join(state0, part)
        if not os.path.isdir(pdir):
            continue
        for f in os.listdir(pdir):
            if f.endswith(".delta"):
                v = int(f.split(".")[0])
                sizes[v] = sizes.get(v, 0) + os.path.getsize(
                    os.path.join(pdir, f))
    versions = sorted(sizes)
    assert len(versions) >= n_batches, versions
    # every batch inserts the same number of new keys => flat deltas;
    # allow 1.5x slack for framing noise. Under the old design the last
    # batch's delta carried ~8x the first's.
    first, last = sizes[versions[0]], sizes[versions[-1]]
    assert last <= first * 1.5, (first, last, sizes)


def test_streaming_source_counts_equal_batch(spark, tmp_path_factory):
    """Running per-source (n_docs, n_tokens) totals over a chunked doc
    stream == the batch source_mixture aggregation after the last
    micro-batch. Complete-mode foreachBatch capture (memory sink cannot
    recover checkpoints; the parquet sink cannot do complete mode)."""
    from visionsearch_spark.operators.textstats import source_mixture
    from visionsearch_spark.streaming.aggregates import (
        source_token_counts_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text", "source").orderBy("doc_id").limit(300)
    rows = [(int(r["doc_id"]), r["text"], r["source"])
            for r in docs.collect()]
    root = str(tmp_path_factory.mktemp("src_counts"))
    spool = os.path.join(root, "spool")
    os.makedirs(spool)
    for i in range(3):
        chunk = rows[i * 100:(i + 1) * 100]
        pq.write_table(
            pa.table({
                "doc_id": pa.array([c[0] for c in chunk], pa.int64()),
                "text": pa.array([c[1] for c in chunk], pa.string()),
                "source": pa.array([c[2] for c in chunk], pa.string()),
            }),
            os.path.join(spool, f"{i:04d}.parquet"),
        )
    out = os.path.join(root, "out")

    def capture(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out)  # latest totals win

    q = (
        source_token_counts_stream(
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1).parquet(spool)
        )
        .writeStream.outputMode("complete")
        .foreachBatch(capture)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {r["source"]: (r["n_docs"], r["n_tokens"])
           for r in spark.read.parquet(out).collect()}
    batch = spark.createDataFrame(rows, "doc_id long, text string, source string")
    want = {r["source"]: (r["n_docs"], r["n_tokens"])
            for r in source_mixture(batch).collect()}
    assert got == want
