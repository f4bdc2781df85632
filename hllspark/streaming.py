"""Structured Streaming surface: continuously-updated sketch state.

The reference's counters are updatable state without any notion of event
time (SURVEY.md §1.4), which maps to two Spark streaming patterns:

- ``SketchStream`` (foreachBatch): each micro-batch is one
  ``agg.build_partials`` over the batch, written as a per-batch DELTA of
  one partial sketch per (batch partition, TOUCHED key) — per-batch write
  cost is O(touched keys × batch partitions), not O(all keys ever seen).
  Every ``compact_every`` batches the deltas are folded with the previous
  compact into a new full state and dropped.  Deltas are keyed
  by batch_id, so retries are idempotent (skip if the delta — or a compact
  covering it — exists) and merge idempotence makes duplicate input
  harmless.  ``state``/``estimates`` serve the current merged view at any
  time (lazy merge of compact + live deltas) — the streaming twin of the
  checkpoint-resumable batch path (hllspark.io).

  Routing: with the udaf jar loadable, a delta is one narrow JVM stage
  (scan → xxhash64 → HllPartialBuilder per partition → parquet, no
  shuffle), the view is one ``hll_merge_udaf`` over the compact and the
  live deltas, and ``estimates`` finishes that same aggregate to estimates
  in the JVM — no Python stage anywhere.  Without the jar every step runs
  the python engine with the same xxhash64 prehash, so the bytes do not
  depend on which engine ran.  A view with a delta in it is always merged,
  so deltas of earlier releases (one merged row per key) read the same way.

  Hash domain: a stream hashes like a default ``agg.sketch`` — xxhash64
  (hash_kind=1) for every column type.  Pass ``input_type`` (e.g.
  ``"int64"``) to pin the MurmurHash reference domain instead (hash_kind=0,
  python builder).  Earlier releases streamed every column but strings and
  binaries with murmur; such a state refuses to merge with new default-hash
  deltas (the hash_kind check raises) — keep writing it with the
  ``input_type`` the old default picked (``"int64"`` for integers and
  booleans, ``"float64"``, ``"timestamp"``; README "Upgrade notes").

- ``running_distinct`` (applyInPandasWithState): per-key running distinct
  estimates emitted every micro-batch, state = the serialized sketch itself
  (bounded: ≤16 KiB per key at b=14 regardless of stream length).  Optional
  ``ttl_ms`` evicts idle keys (ProcessingTimeTimeout) so the state TABLE is
  bounded too over unbounded key domains.
"""

from __future__ import annotations

import re
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from . import agg, jvm_udaf
from .core.hll import HLL
from .functions import DEFAULT_B, DEFAULT_BINBITS, _hll_estimate, build_sketch
from .io import _read_parquet

# the characters Hadoop's glob treats as pattern syntax
_GLOB_CHARS = re.compile(r"[\\*?\[\]{}]")
# one committed version in _versions' listing: its id ends each matched path
_COMMITTED = re.compile(r"/v=(\d+)/_SUCCESS(?=,|\}$)")


class SketchStream:
    """foreachBatch sink maintaining merged sketch state in parquet,
    incrementally: per-batch DELTAS (touched keys only) + periodic
    compaction (see module doc — per-batch write cost is O(touched keys)
    per batch partition).

    Layout: ``{state_dir}/delta/v={batch_id}`` per-batch sketches;
    ``{state_dir}/compact/v={batch_id}`` full states, rewritten every
    ``compact_every`` batches.

    A delta is ``agg.build_partials(batch, value_col, by, b, binbits,
    input_type=input_type, lineage=False, jvm_prehash=True)``: the jar's
    builder when it loads, else the python builder, one partial per (batch
    partition, touched key) either way.  The default hash is xxhash64 for
    every column type, the domain of a default ``agg.sketch``;
    ``input_type="int64"`` (or any explicit type) pins MurmurHash on the
    python builder, which a non-string-column state written by an earlier
    release needs — mixing the two domains in one state raises at its next
    merge.

    >>> ss = SketchStream("/state/url_by_lang", "url", by=["lang"])
    >>> q = (stream.writeStream.foreachBatch(ss)
    ...        .option("checkpointLocation", "/ckpt").start())
    >>> ss.estimates(spark).show()     # queryable while the stream runs
    """

    def __init__(
        self,
        state_dir: str,
        value_col: str,
        by: Sequence[str] | None = None,
        b: int = DEFAULT_B,
        binbits: int = DEFAULT_BINBITS,
        input_type: str = "auto",
        compact_every: int = 8,
    ):
        self.state_dir = state_dir.rstrip("/")
        self.value_col = value_col
        self.by = list(by or [])
        self.b = b
        self.binbits = binbits
        self.input_type = input_type
        self.compact_every = max(1, compact_every)

    def _delta_dir(self, batch_id: int) -> str:
        return f"{self.state_dir}/delta/v={batch_id}"

    def _compact_dir(self, batch_id: int) -> str:
        return f"{self.state_dir}/compact/v={batch_id}"

    def _versions(self, spark: SparkSession, sub: str) -> list[int]:
        """Committed version ids under state_dir/sub, sorted: the ``v=N``
        directories holding a ``_SUCCESS`` marker.  A half-written version
        (no marker yet), an entry that is no ``v=N`` and a missing ``sub``
        are left out.

        One ``globStatus(<root>/v=*/_SUCCESS)`` lists them, and the matched
        paths cross py4j as one joined string, so the listing costs the same
        few round trips for one version as for many; the sink lists twice
        per micro-batch.  Glob characters in ``state_dir`` are escaped."""
        from .io import _hadoop_fs

        root = _GLOB_CHARS.sub(r"\\\g<0>", f"{self.state_dir}/{sub}")
        fs, hpath, _ = _hadoop_fs(spark, f"{root}/v=*/_SUCCESS")
        found = fs.globStatus(hpath)  # null when no directory matches at all
        if found is None:
            return []
        paths = jvm_udaf.jvm_handle(spark, "org.apache.hadoop.fs.FileUtil.stat2Paths")(found)
        # "{<root>/v=0/_SUCCESS,<root>/v=1/_SUCCESS}"; py4j cannot pass a
        # Path[] where Java takes an Object[], so no join(Object[], sep)
        listed = jvm_udaf.jvm_handle(spark, "org.apache.commons.lang3.ArrayUtils.toString")(paths)
        return sorted(int(v) for v in _COMMITTED.findall(listed))

    def _ids(self, spark: SparkSession) -> tuple[int, list[int]]:
        """(latest compact id or -1, live delta ids) — file listings only, no
        parquet reads (the per-batch hot path needs just these)."""
        compacts = self._versions(spark, "compact")
        cv = compacts[-1] if compacts else -1
        return cv, [d for d in self._versions(spark, "delta") if d > cv]

    def _rows(self, spark: SparkSession) -> tuple[int, DataFrame | None, int]:
        """(latest compact id or -1, the rows of that compact and the live
        deltas read as one parquet relation, unmerged — None when there are
        none — and the number of live deltas read)."""
        cv, deltas = self._ids(spark)
        paths = ([self._compact_dir(cv)] if cv >= 0 else []) + [self._delta_dir(d) for d in deltas]
        if not paths:
            return cv, None, 0
        return cv, _read_parquet(spark, *paths).select(*self.by, "sketch"), len(deltas)

    def _view(self, spark: SparkSession) -> tuple[int, DataFrame | None]:
        """(latest compact id or -1, lazy merged state or None).  A lone
        compact already is the merged state; a delta holds partials."""
        cv, rows, ndeltas = self._rows(spark)
        if ndeltas:
            rows = agg.merge_partials(rows, self.by)
        return cv, rows

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cv, deltas = self._ids(spark)
        if batch_id <= cv or batch_id in deltas:
            return  # replayed batch — state already includes it (idempotent)
        # one partial per (batch partition, key TOUCHED BY THIS BATCH) — the
        # whole prior state is neither read nor rewritten on the hot path
        agg.build_partials(
            batch_df, self.value_col, self.by, self.b, self.binbits, input_type=self.input_type,
            lineage=False, jvm_prehash=True,
        ).write.mode("overwrite").parquet(self._delta_dir(batch_id))
        if len(deltas) + 1 >= self.compact_every:
            self._compact(spark, batch_id)

    def _compact(self, spark: SparkSession, batch_id: int) -> None:
        """Fold the previous compact + all live deltas into compact/v=batch_id.

        Deletion is DEFERRED one compaction cycle for readers in flight: a
        lazy state() plan built just before this compact still references
        the folded delta directories, so only deltas already covered by the
        PREVIOUS compact (and compacts older than the last two) are removed
        now — the just-folded deltas go when the NEXT compaction lands, by
        which time any reader of the old view is a full cycle stale (the
        same grace the pre-round-4 design gave its keep-last-2 versions)."""
        from .io import _hadoop_fs

        cv_prev, merged = self._view(spark)
        if merged is None:
            return
        merged.write.mode("overwrite").parquet(self._compact_dir(batch_id))
        fs, _, Path = _hadoop_fs(spark, self.state_dir)
        for d in self._versions(spark, "delta"):
            if d <= cv_prev:
                fs.delete(Path(self._delta_dir(d)), True)
        for c in self._versions(spark, "compact")[:-2]:
            fs.delete(Path(self._compact_dir(c)), True)

    def state(self, spark: SparkSession) -> DataFrame | None:
        """Current merged state (lazy merge of compact + live deltas)."""
        return self._view(spark)[1]

    def estimates(self, spark: SparkSession) -> DataFrame | None:
        """Per-key estimates (``by..., est double``) of the current state:
        one JVM merge-and-estimate aggregate when the jar loads, else the
        merged state through the pandas estimate, so no jar code runs."""
        if jvm_udaf.resolve_engine(spark, "auto") == "jvm_udaf":
            rows = self._rows(spark)[1]
            return None if rows is None else jvm_udaf.hll_merge_udaf(rows, "sketch", self.by, finalize="estimate")
        st = self.state(spark)
        if st is None:
            return None
        return st.select(*self.by, _hll_estimate(F.col("sketch")).alias("est"))


def running_distinct(
    stream_df: DataFrame,
    value_col: str,
    by: Sequence[str],
    b: int = DEFAULT_B,
    binbits: int = DEFAULT_BINBITS,
    input_type: str = "auto",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Per-key running approximate-distinct over a stream: state is the
    sketch bytes, output (key..., est, rows_seen) refreshed per micro-batch.

    ``ttl_ms`` (round-4 verdict item #3): without it the state store grows
    forever over an unbounded key domain (urls/users never expire under
    ``NoTimeout``).  With ``ttl_ms`` set, a key idle for that many ms of
    processing time is EVICTED at the next micro-batch: its final estimate
    is emitted once more with ``expired=true`` (the extra boolean column
    exists only in TTL mode, so the default output schema is unchanged) and
    its state is removed — a later arrival of the same key starts a fresh
    sketch.  Use the durable SketchStream delta/compact path when evicted
    keys must remain mergeable.

    Processing-time timeouts make Spark follow every micro-batch with a
    no-data batch, so a ``Trigger.AvailableNow`` query with ``ttl_ms`` never
    terminates on its own; set ``spark.sql.streaming.noDataMicroBatches.enabled``
    to false for it, and idle keys expire with the next batch that has data."""
    by = list(by or [])
    extra = [] if ttl_ms is None else [StructField("expired", BooleanType(), False)]
    out_schema = StructType(
        [StructField(c, stream_df.schema[c].dataType, True) for c in by]
        + [StructField("est", DoubleType(), True), StructField("rows_seen", LongType(), True)]
        + extra
    )
    state_schema = StructType(
        [StructField("sketch", BinaryType(), True), StructField("rows_seen", LongType(), True)]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            # idle-key eviction: emit the final estimate, drop the state
            if state.exists:
                blob, rows_seen = state.get
                h = HLL.from_bytes(bytes(blob))
                state.remove()
                yield pd.DataFrame(
                    [{**dict(zip(by, key)), "est": h.estimate(), "rows_seen": rows_seen, "expired": True}]
                )
            else:
                state.remove()
            return
        if state.exists:
            blob, rows_seen = state.get
            h = HLL.from_bytes(bytes(blob))
        else:
            h, rows_seen = HLL.create(b=b, binbits=binbits), 0
        for pdf in pdfs:
            rows_seen += len(pdf)
            h.merge(build_sketch(pdf[value_col], b=b, binbits=binbits, input_type=input_type))
        state.update((h.to_bytes(), rows_seen))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        row = {**dict(zip(by, key)), "est": h.estimate(), "rows_seen": rows_seen}
        if ttl_ms is not None:
            row["expired"] = False
        yield pd.DataFrame([row])

    timeout = GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.ProcessingTimeTimeout
    return stream_df.groupBy(*by).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )
