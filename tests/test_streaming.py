"""Streaming sketch state: file-source micro-batches → merged sketch state
equals the batch answer; running per-key estimates via applyInPandasWithState."""

import math

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from hllspark import agg, jvm_udaf
from hllspark.core.hll import HLL
from hllspark.streaming import SketchStream, running_distinct

BOUND = 3 * 1.04 / math.sqrt(2**14)
HASH_KIND_REFUSAL = "hash kind of (sketches|estimators) differs"
REFUSED = (Py4JJavaError, PythonException)  # the jar's merge / the python merge


@pytest.fixture(autouse=True)
def no_leaked_queries(spark):
    """Stop any streaming query a test left running: a leftover stateful
    query keeps scheduling micro-batches and slows every later test."""
    yield
    for q in spark.streams.active:
        q.stop()


def _sketches(df, key):
    return {r[key]: bytes(r["sketch"]) for r in df.collect()}


@pytest.fixture()
def staged_events(spark, sf001_dir, tmp_path):
    """events split into 3 files in a streaming source dir."""
    src = str(tmp_path / "src")
    e = spark.read.parquet(f"{sf001_dir}/events.parquet")
    e.repartition(3).write.parquet(src)
    return src, e


def test_sketch_stream_matches_batch(spark, staged_events, tmp_path):
    src, e = staged_events
    ss = SketchStream(str(tmp_path / "state"), "user_id", by=["event_type"])
    stream = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        stream.writeStream.foreachBatch(ss)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = _sketches(ss.state(spark), "event_type")
    # the stream's deltas are default agg.sketch builds → same engine, same hash
    assert got == _sketches(agg.sketch(e, "user_id", by=["event_type"]), "event_type")

    ests = {r["event_type"]: r["est"] for r in ss.estimates(spark).collect()}
    exact = {r["event_type"]: r["d"] for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()}
    for k, v in exact.items():
        assert abs(ests[k] - v) / v < BOUND


def test_sketch_stream_idempotent_replay(spark, staged_events, tmp_path):
    src, e = staged_events
    ss = SketchStream(str(tmp_path / "state2"), "user_id")
    batch = spark.read.parquet(src)
    ss(batch, 0)
    before = bytes(ss.state(spark).first()["sketch"])
    ss(batch, 0)  # replayed batch id → no-op
    assert bytes(ss.state(spark).first()["sketch"]) == before


def test_running_distinct_stateful(spark, staged_events, tmp_path):
    src, e = staged_events
    stream = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", "1").parquet(src)
    out = running_distinct(stream, "user_id", by=["event_type"])
    q = (
        out.writeStream.format("memory")
        .queryName("running_d")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # last update per key = final state after all 3 micro-batches
    final = (
        spark.table("running_d")
        .groupBy("event_type")
        .agg(F.max("rows_seen").alias("rows_seen"), F.max_by("est", "rows_seen").alias("est"))
        .collect()
    )
    exact = {r["event_type"]: r["d"] for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()}
    rows_exact = {r["event_type"]: r["c"] for r in e.groupBy("event_type").count().withColumnRenamed("count", "c").collect()}
    assert len(final) == len(exact)
    for r in final:
        k = r["event_type"]
        assert r["rows_seen"] == rows_exact[k]
        assert abs(r["est"] - exact[k]) / exact[k] < BOUND


@pytest.fixture()
def no_empty_batches(spark):
    """Processing-time timeouts make Spark follow every micro-batch with a
    no-data batch, so an availableNow query never ends; with those off, idle
    keys expire in the next batch that has data."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    yield
    spark.conf.unset(key)


def test_running_distinct_ttl_evicts_idle_keys(spark, tmp_path, no_empty_batches):
    """Round-5 fix: with ttl_ms set, a key idle past the TTL is evicted at
    the next micro-batch — its final estimate is emitted with expired=true,
    its state is removed, and a later arrival starts a fresh sketch (so the
    state table stays bounded over an unbounded key domain)."""
    import time

    src = str(tmp_path / "ttl_src")
    ckpt = str(tmp_path / "ttl_ckpt")
    sunk: list = []  # foreachBatch sink: memory sink can't restart from ckpt

    def run_batch(rows):
        mark = len(sunk)
        spark.createDataFrame(rows, "k string, v long").write.mode("append").parquet(src)
        stream = spark.readStream.schema("k string, v long").parquet(src)
        out = running_distinct(stream, "v", by=["k"], ttl_ms=1000)
        q = (
            out.writeStream.foreachBatch(lambda bdf, bid: sunk.extend(bdf.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return sunk[mark:]  # only THIS run's emissions

    r1 = run_batch([("a", 1), ("a", 2), ("a", 3)])
    time.sleep(2.5)  # key "a" idles past the 1s TTL
    r2 = run_batch([("b", 10)])
    # "a" expires exactly ONCE, in run 2's batch (no trailing no-data
    # batches); the eviction row carries the final estimate and rows_seen
    expired = [r for r in r1 + r2 if r["k"] == "a" and r["expired"]]
    assert len(expired) == 1
    assert expired[0]["rows_seen"] == 3
    # "b" was updated live in run 2
    assert any(not r["expired"] for r in r2 if r["k"] == "b")

    time.sleep(2.5)
    rows = run_batch([("a", 99)])  # "a" returns after eviction: fresh state
    fresh = [r for r in rows if r["k"] == "a" and not r["expired"]]
    assert fresh and max(r["rows_seen"] for r in fresh) == 1

    # default (no ttl) schema is unchanged — no expired column
    stream = spark.readStream.schema("k string, v long").parquet(src)
    assert "expired" not in running_distinct(stream, "v", by=["k"]).columns


def test_sketch_stream_incremental_deltas(spark, tmp_path):
    """Per-batch written rows must track the batch's TOUCHED keys, not the
    full accumulated key set — a delta holds one partial per (batch
    partition, touched key) — and compaction must fold deltas without
    changing the merged state."""
    sd = str(tmp_path / "state_inc")
    ss = SketchStream(sd, "v", by=["k"], compact_every=3)

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v long")

    def delta_keys(batch_id, df):
        """The keys of a delta, checked to hold at most one row per
        (batch partition, key)."""
        rows = spark.read.parquet(f"{sd}/delta/v={batch_id}").collect()
        keys = {r["k"] for r in rows}
        assert len(rows) <= df.rdd.getNumPartitions() * len(keys)
        return keys

    b0, b1 = batch([("a", 1), ("a", 2)]), batch([("b", 3)])
    ss(b0, 0)
    # a lone delta holds partials: the view merges them to one row per key
    assert [r["k"] for r in ss.state(spark).collect()] == ["a"]
    assert _sketches(ss.state(spark), "k") == _sketches(agg.sketch(b0, "v", by=["k"]), "k")
    ss(b1, 1)
    # two deltas, no compact yet; each delta holds only its touched keys
    assert delta_keys(0, b0) == {"a"}
    assert delta_keys(1, b1) == {"b"}

    before = {r["k"]: bytes(r["sketch"]) for r in ss.state(spark).collect()}
    ss(batch([("a", 9)]), 2)  # third delta triggers compaction
    # folded deltas survive ONE compaction cycle for readers in flight
    # (deferred deletion); they are no longer part of the live view
    assert ss._versions(spark, "compact") == [2]
    assert ss._ids(spark) == (2, [])
    assert ss._versions(spark, "delta") == [0, 1, 2]

    # 1000-key prior state, then a batch touching ONE key: the new delta
    # holds that key only (the old design rewrote all 1001 keys every batch)
    many = batch([(f"k{i}", i) for i in range(1000)])
    ss(many, 3)
    assert delta_keys(3, many) == {f"k{i}" for i in range(1000)}
    b4 = batch([("a", 10)])
    ss(b4, 4)
    assert delta_keys(4, b4) == {"a"}
    ss(batch([("b", 11)]), 5)  # second compaction: NOW the cycle-old deltas go
    assert ss._versions(spark, "compact") == [2, 5]
    assert all(d > 2 for d in ss._versions(spark, "delta"))

    # merged view = batch-built sketches over the full concatenation
    allrows = batch(
        [("a", 1), ("a", 2), ("b", 3), ("a", 9)]
        + [(f"k{i}", i) for i in range(1000)]
        + [("a", 10), ("b", 11)]
    )
    assert _sketches(ss.state(spark), "k") == _sketches(agg.sketch(allrows, "v", by=["k"]), "k")


ROWS = [(f"k{i % 4}", (i * 2654435761) % 50_000) for i in range(6000)]


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _slices(spark, n):
    """ROWS cut into n micro-batches (round robin, so keys repeat)."""
    return [_batch(spark, ROWS[i::n]) for i in range(n)]


def test_sketch_stream_murmur_pinned(spark, tmp_path):
    """input_type="int64" pins MurmurHash: the deltas run the python
    builder and the state equals the python engine's murmur sketch byte for
    byte (hash_kind 0) — the way to keep writing an integer-column state
    built before streams hashed with xxhash64."""
    ss = SketchStream(str(tmp_path / "mm"), "v", by=["k"], input_type="int64", compact_every=2)
    for i, b in enumerate(_slices(spark, 3)):
        ss(b, i)  # delta, delta + compact, delta
    got = _sketches(ss.state(spark), "k")
    want = agg.sketch(_batch(spark, ROWS), "v", by=["k"], engine="python", input_type="int64")
    assert got == _sketches(want, "k")
    assert {HLL.from_bytes(v).hash_kind for v in got.values()} == {0}


def test_sketch_stream_without_jar_matches_default_engine(spark, tmp_path, monkeypatch):
    """No loadable jar: deltas, view and estimates run the python engine
    with the xxhash64 prehash, and the state equals the default-engine bytes
    (the jar's, when it loads here)."""
    want = _sketches(agg.sketch(_batch(spark, ROWS), "v", by=["k"]), "k")
    monkeypatch.setattr(jvm_udaf, "available", lambda spark: False)
    monkeypatch.setattr(jvm_udaf, "_FALLBACK_LOGGED", set())
    ss = SketchStream(str(tmp_path / "nojar"), "v", by=["k"], compact_every=2)
    for i, b in enumerate(_slices(spark, 3)):
        ss(b, i)
    assert _sketches(ss.state(spark), "k") == want
    assert {HLL.from_bytes(v).hash_kind for v in want.values()} == {1}
    ests = {r["k"]: r["est"] for r in ss.estimates(spark).collect()}
    assert ests == pytest.approx({k: HLL.from_bytes(v).estimate() for k, v in want.items()}, rel=1e-12)


@pytest.mark.parametrize("jar", [True, False], ids=["jar", "nojar"])
def test_sketch_stream_refuses_mixed_hash_domains(spark, tmp_path, monkeypatch, jar):
    """A murmur delta (an integer-column state from before the xxhash64
    default) followed by a default-hash delta: every merge of the state
    raises the hash_kind refusal — state(), estimates() and compaction, in
    the jar's merge and in the python one — and none returns a merged
    sketch."""
    if not jar:
        monkeypatch.setattr(jvm_udaf, "available", lambda spark: False)
        monkeypatch.setattr(jvm_udaf, "_FALLBACK_LOGGED", set())
    sd = str(tmp_path / "mixed")
    b = _batch(spark, [("a", 1), ("a", 2), ("b", 3)])
    SketchStream(sd, "v", by=["k"], input_type="int64")(b, 0)
    ss = SketchStream(sd, "v", by=["k"], compact_every=3)
    ss(b, 1)
    for read in (ss.state, ss.estimates):
        with pytest.raises(REFUSED, match=HASH_KIND_REFUSAL):
            read(spark).collect()
    with pytest.raises(REFUSED, match=HASH_KIND_REFUSAL):
        ss(b, 2)  # the third live delta triggers compaction
    assert ss._versions(spark, "compact") == []


class _DeleteFails:
    """Hadoop FileSystem proxy whose delete raises: a crash after the
    compact was written, before the folded deltas are removed."""

    def __init__(self, fs):
        self._fs = fs

    def delete(self, *args):
        raise OSError("crash before delete")

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_sketch_stream_crash_after_compact_write(spark, tmp_path, monkeypatch):
    """fs.delete fails after the compact write; the same batch id re-run
    after the crash is skipped, and the state stays byte-identical to a
    one-shot sketch of the same rows — also once later compactions have
    cleaned up what the crash left."""
    from hllspark import io as hio

    batches = _slices(spark, 6)
    oneshot = [_sketches(agg.sketch(_batch(spark, [r for i in range(n) for r in ROWS[i::6]]), "v", by=["k"]), "k")
               for n in (4, 6)]
    ss = SketchStream(str(tmp_path / "crash"), "v", by=["k"], compact_every=2)
    for i in range(3):
        ss(batches[i], i)  # compact 1 deletes nothing; batch 2 is a live delta
    real = hio._hadoop_fs

    def crashing(spark, path):
        fs, hpath, jvm = real(spark, path)
        return _DeleteFails(fs), hpath, jvm

    monkeypatch.setattr(hio, "_hadoop_fs", crashing)
    with pytest.raises(OSError, match="crash before delete"):
        ss(batches[3], 3)  # compact 3 written, then deleting deltas <= 1 fails
    monkeypatch.undo()
    assert ss._versions(spark, "compact") == [1, 3]
    assert _sketches(ss.state(spark), "k") == oneshot[0]
    ss(batches[3], 3)  # the restarted query re-runs the batch: covered by compact 3
    assert _sketches(ss.state(spark), "k") == oneshot[0]
    for i in (4, 5):
        ss(batches[i], i)  # compact 5 removes the deltas the crash left behind
    assert all(d > 3 for d in ss._versions(spark, "delta"))
    assert _sketches(ss.state(spark), "k") == oneshot[1]


def test_sketch_stream_replay_of_compacted_batch(spark, tmp_path):
    """Replaying batch ids already folded into a compact — while their
    delta still exists, and after it was deleted — changes nothing: the
    state stays byte-identical to a one-shot sketch of the same rows."""
    batches = _slices(spark, 4)
    oneshot = _sketches(agg.sketch(_batch(spark, ROWS), "v", by=["k"]), "k")
    ss = SketchStream(str(tmp_path / "replay"), "v", by=["k"], compact_every=2)
    ss(batches[0], 0)
    ss(batches[1], 1)  # compact 1 folds deltas 0 and 1
    ss(batches[0], 0)
    ss(batches[1], 1)
    assert ss._ids(spark) == (1, [])
    ss(batches[2], 2)
    ss(batches[3], 3)  # compact 3; deltas 0 and 1 are deleted now
    assert all(d > 1 for d in ss._versions(spark, "delta"))
    for i in (0, 1, 3):
        ss(batches[i], i)
    assert ss._ids(spark) == (3, [])
    assert _sketches(ss.state(spark), "k") == oneshot
