"""Two-phase distributed sketch aggregation — the scale path.

This reproduces the reference's Greenplum distributed-aggregation contract
(sfunc per segment → motion → prefunc register-max → finalfunc,
sql/greenplum.sql:289-295, SURVEY.md §3.2) with explicit Spark stages:

  phase 1  build_partials   one partial sketch per (input partition, group),
                            a narrow stage with no shuffle: the jar's
                            HllPartialBuilder (a JVM mapPartitions over the
                            xxhash64 prehash) when the jar loads, else — and
                            for murmur-pinned input and factory sketches —
                            the mapInArrow builder (Arrow batches hashed
                            with numpy, no per-row Python)
  shuffle  Exchange         partial sketches only — P×G rows of ≤16 KiB, not
                            raw rows; this is what tames skew: a hot group
                            costs P sketches, not N rows
  phase 2  merge_partials   register-max merge (associative+commutative →
                            any arrival order gives byte-identical registers):
                            the jar's blob-merge aggregate, else applyInPandas
                            or a tree fan-in

``sketch`` with the jar skips the explicit phases: one JVM aggregate
(jvm_udaf.sketch_jvm_udaf) partial-aggregates map-side before its shuffle.
Spark's pandas GROUPED_AGG UDAFs (the SQL ``*_agg`` surface) have no
map-side partial aggregation at all: they shuffle raw rows.

Skew note: because phase 1 collapses each partition to one sketch per group,
a hot key ('en' at 55% of a Common-Crawl table) shuffles the same number of
bytes as a cold key.  For extreme partition counts, `merge_rounds=2` (default
when the input has >256 partitions) pre-merges partials in buckets of
`pmod(partition_id, sqrt(P))` before the final per-key merge, bounding any
single reducer's fan-in — the salted-repartition pattern with merge
associativity guaranteeing correctness.
"""

from __future__ import annotations

import math
import time
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .core.hash import hash_arrow_array
from .core.hll import HLL, merge_blobs
from .functions import DEFAULT_B, DEFAULT_BINBITS, _hll_estimate, _round_bigint

# partial sketches merged per task at each level of the global merge tree
_MERGE_FANIN = 64
# agg.distinct (python engine) merges a global sketch's partials on the
# driver up to this default parallelism
_DRIVER_MERGE_MAX_PARALLELISM = 256

LINEAGE_FIELDS = [
    StructField("partition_id", IntegerType(), False),
    StructField("rows_seen", LongType(), False),
    StructField("nulls_skipped", LongType(), False),
    StructField("wall_ms", DoubleType(), False),
]


def _partial_schema(df: DataFrame, by: Sequence[str], lineage: bool) -> StructType:
    fields = [df.schema[c] for c in by]
    fields.append(StructField("sketch", BinaryType(), True))
    if lineage:
        fields.extend(LINEAGE_FIELDS)
    return StructType(fields)


def _make_builder(
    value_col: str,
    by: Sequence[str],
    b: int,
    binbits: int,
    input_type: str,
    lineage: bool,
    hash_kind: int = 0,
    factory=None,
):
    """Per-partition partial-sketch builder (the reference's sfunc, run over
    Arrow batches: hyperloglog_add_item_agg_default, hyperloglog_counter.c:495-554).

    Runs as mapInArrow — raw Arrow RecordBatches, no pandas conversion — so
    int64 columns with NULLs keep exact values (Spark's pandas conversion
    would degrade them to float64) and string hashing reads the Arrow
    buffers zero-copy.  ``factory`` overrides the per-group state
    constructor — any object with ``update_arrow(arr, input_type)`` /
    ``merge`` / ``to_bytes`` works (the Sketch protocol of hllspark.sketches).
    """

    def build(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        t0 = time.monotonic()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        rows_seen = 0
        nulls = 0
        states: dict = {}
        touched: set = set()  # keys that received ≥1 non-NULL value
        key_arrays: list[pa.Array] | None = None

        for batch in batches:
            rows_seen += batch.num_rows
            vcol = batch.column(batch.schema.get_field_index(value_col))
            nnull = vcol.null_count
            nulls += nnull
            make_state = factory if factory is not None else (
                lambda: HLL.create(b=b, binbits=binbits, hash_kind=hash_kind)
            )
            if not by:
                st = states.get(())
                if st is None:
                    st = states[()] = make_state()
                nn = vcol.drop_null() if nnull else vcol
                if len(nn):
                    st.update_arrow(nn, input_type)
                    touched.add(())
                continue
            if batch.num_rows == 0:
                continue
            # hash-based fast path: hash all non-null values once, slice per
            # group; generic sketches get per-group arrow takes instead
            nn = vcol.drop_null() if nnull else vcol
            if factory is None:
                hashes = hash_arrow_array(nn, input_type) if len(nn) else None
            else:
                hashes = None
            if nnull:
                valid = pc.is_valid(vcol).to_numpy(zero_copy_only=False)
                nn_pos = np.full(batch.num_rows, -1, dtype=np.int64)
                nn_pos[valid] = np.arange(len(nn))
            else:
                nn_pos = None
            for k, idx in _group_rows(batch, by):
                st = states.get(k)
                if st is None:
                    st = states[k] = make_state()
                if nn_pos is not None:
                    hidx = nn_pos[idx]
                    hidx = hidx[hidx >= 0]
                else:
                    hidx = idx
                if len(hidx) == 0:
                    continue
                touched.add(k)
                if hashes is not None:
                    st.add_hashes(hashes[hidx])
                elif factory is not None:
                    st.update_arrow(nn.take(pa.array(hidx)), input_type)
            if key_arrays is None:
                key_arrays = [batch.column(batch.schema.get_field_index(c)) for c in by]

        wall_ms = (time.monotonic() - t0) * 1000.0
        if not states:
            return
        keys = list(states.keys())
        arrays = []
        names = []
        for i, c in enumerate(by):
            typ = key_arrays[i].type if key_arrays is not None else None
            arrays.append(pa.array([k[i] for k in keys], type=typ))
            names.append(c)
        # NULL contract (hyperloglog_counter.c:218-220, 511-513): a group whose
        # every value was NULL yields SQL NULL, not an empty sketch — for
        # HLL AND the sibling sketches (they "follow the HLL contract",
        # sketches/__init__), so every engine produces the same row set.
        # HLL partials ship group-varint-compressed sparse payloads (the
        # hyperloglog_comp finalfunc role, greenplum.sql:327): ~2.6 B/entry
        # instead of 4 on the partial shuffle; the merge phase re-expands.
        # Dense partials stay unpacked: bit-packing at binbits masks
        # registers above 2^binbits - 1, and max(mask(a), mask(b)) is not
        # mask(max(a, b)) — the merge must see the true registers.
        def emit(k):
            if k not in touched:
                return None
            if factory is not None:
                return states[k].to_bytes()
            return states[k].to_bytes(packed=False, compress=True)

        arrays.append(pa.array([emit(k) for k in keys], type=pa.binary()))
        names.append("sketch")
        if lineage:
            n = len(keys)
            arrays += [
                pa.array([pid] * n, type=pa.int32()),
                pa.array([rows_seen] * n, type=pa.int64()),
                pa.array([nulls] * n, type=pa.int64()),
                pa.array([wall_ms] * n, type=pa.float64()),
            ]
            names += ["partition_id", "rows_seen", "nulls_skipped", "wall_ms"]
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    return build


# the one NaN object group keys carry: a tuple key compares and hashes its
# floats by identity first, so every NaN must be this object to find its group
_NAN = float("nan")


def _key_value(dictionary, code: int):
    if code == len(dictionary):
        return None
    v = dictionary[code].as_py()
    return _NAN if isinstance(v, float) and v != v else v


def _group_rows(batch, by: Sequence[str]):
    """(key tuple, row positions) per group of ``by`` in one Arrow batch,
    grouped by value the way Spark's GROUP BY groups: each key column is
    dictionary-encoded (NULL gets its own code, so NULL and NaN stay apart;
    -0.0 is folded into 0.0 first) and rows group by their code tuple."""
    import pyarrow as pa
    import pyarrow.compute as pc

    dicts, codes = [], []
    for c in by:
        arr = batch.column(batch.schema.get_field_index(c))
        if pa.types.is_floating(arr.type):
            arr = pc.add(arr, pa.scalar(0, arr.type))  # -0.0 + 0 == +0.0
        enc = pc.dictionary_encode(arr)
        idx = enc.indices.fill_null(len(enc.dictionary)) if enc.indices.null_count else enc.indices
        dicts.append(enc.dictionary)
        codes.append(idx.to_numpy(zero_copy_only=False).astype(np.int64))
    if len(codes) == 1:
        key_codes, gcodes = np.arange(len(dicts[0]) + 1)[:, None], codes[0]
    else:
        key_codes, gcodes = np.unique(np.stack(codes, axis=1), axis=0, return_inverse=True)
        gcodes = gcodes.reshape(-1)
    order = np.argsort(gcodes, kind="stable")
    bounds = np.searchsorted(gcodes[order], np.arange(len(key_codes) + 1))
    for g in range(len(key_codes)):
        if bounds[g + 1] > bounds[g]:
            key = tuple(_key_value(d, int(c)) for d, c in zip(dicts, key_codes[g]))
            yield key, order[bounds[g] : bounds[g + 1]]


def _merge_rows_obj(sketches: Iterable, cls=HLL):
    """Fold serialized sketches → one sketch object (None if all NULL).

    HLL takes the vectorized batch union (core.hll.merge_blobs — one numpy
    pass per batch instead of a per-blob decode+merge, ~20× at 10^5 stored
    sketches); sibling classes keep the generic sequential fold."""
    if cls is HLL:
        return merge_blobs(sketches)
    acc = None
    for v in sketches:
        if v is None:
            continue
        s = cls.from_bytes(bytes(v))
        acc = s if acc is None else acc.merge(s)
    return acc


def _merge_rows(sketches: Iterable, cls=HLL) -> bytes | None:
    acc = _merge_rows_obj(sketches, cls)
    return None if acc is None else acc.to_bytes()


_STRINGY = ("string", "binary")
_NARROW_INTS = ("tinyint", "smallint", "int", "boolean")


def canon_xxhash_col(df: DataFrame, value_col: str):
    """Column expression to feed F.xxhash64, with narrow integral types cast
    to LongType first.

    Spark's xxhash64 dispatches per SQL type (IntegerType → 4-byte path,
    LongType → 8-byte path).  Python-side probes of a JVM-built sketch
    (cm_query / bloom_contains / driver adds) receive pandas batches where
    the SQL type is unrecoverable — an int64 column *with NULLs* arrives as
    float64 — so per-type probe dispatch is impossible to get right.  The
    fix is at the source: every JVM hashing entry point canonicalizes
    byte/short/int/boolean → long, making 'integral values hash via the
    8-byte path' a representation-independent invariant on both sides.
    """
    col = F.col(value_col)
    if _sql_dtype(df, value_col) in _NARROW_INTS:
        col = col.cast("long")
    return col


def _sql_dtype(df: DataFrame, value_col: str) -> str:
    """Column dtype resolved the way Spark resolves names (case-insensitive
    by default) — a dict(df.dtypes) lookup misses case variants and would
    silently skip canonicalization, diverging builder and probe hashes.

    A name that is exactly one top-level field, with no other field equal to
    it up to case, reads the DataFrame's cached ``schema``: no Dataset is
    built.  Every other name — a case variant, a nested ``a.b`` or a
    backticked path, a name two fields share — resolves through
    ``df.select(value_col)`` (about 10 ms of JVM analysis), so Spark's
    resolution and its errors stay the answer there."""
    if "." not in value_col and "`" not in value_col:
        same = [f for f in df.schema.fields if f.name.lower() == value_col.lower()]
        if len(same) == 1 and same[0].name == value_col:
            return same[0].dataType.simpleString()
    return df.select(value_col).schema[0].dataType.simpleString()


def jvm_hash_expr(df: DataFrame, value_col: str):
    """NULL-preserving, type-canonicalized JVM hash of a column
    (xxhash64 of NULL would yield the seed, so guard explicitly).

    The integral canonicalization is part of the hash_kind=1 DEFINITION for
    STRUCT_VERSION 2 sketches: narrow ints always hash in the 8-byte long
    domain.  Any future change to this domain must bump the version — mixed
    domains under one hash_kind merge without error and silently double-
    count."""
    col = canon_xxhash_col(df, value_col)
    return F.when(F.col(value_col).isNull(), None).otherwise(F.xxhash64(col))


def _apply_jvm_prehash(df: DataFrame, value_col: str, by: Sequence[str], jvm_prehash) -> tuple[DataFrame, str, str, int]:
    """``df`` projected to ``by`` + the value column, the value optionally
    replaced by its JVM-side xxhash64 (whole-stage-codegen).  Only 8
    bytes/row then cross the JVM→Python Arrow boundary instead of the raw
    payload — at web scale this is the difference between shipping
    terabytes of text into Python workers and shipping a fixed-width hash
    column.  Resulting sketches carry
    hash_kind=HASH_XXHASH_SPARK and refuse to merge with murmur-built ones.
    """
    from .core.hll import HASH_XXHASH_SPARK

    if jvm_prehash == "auto":
        jvm_prehash = _sql_dtype(df, value_col) in _STRINGY
    if not jvm_prehash:
        return df.select(*by, value_col), value_col, "auto", 0
    hcol = f"__hll_h_{value_col}"
    df = df.select(*by, jvm_hash_expr(df, value_col).alias(hcol))
    return df, hcol, "prehashed64", HASH_XXHASH_SPARK


def build_partials(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    b: int | None = None,
    binbits: int | None = None,
    input_type: str = "auto",
    lineage: bool = True,
    jvm_prehash="auto",
    factory=None,
    error_rate: float | None = None,
    ndistinct: float | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Phase 1 only: one partial sketch per (partition, group) with lineage.

    Exposed separately so callers can persist partials as a checkpoint
    (hllspark.io) — the stored-counter workflow of README.md:135-166.
    ``factory`` switches the state type to any Sketch-protocol object.

    ``engine`` routes the way ``merge_partials`` does: "auto" runs the
    jar's HllPartialBuilder (one narrow JVM stage, jvm_udaf.hll_partials)
    when the jar loads and the value is hashed with the JVM xxhash64
    prehash; murmur-pinned input, ``factory`` sketches and sessions without
    the jar run the python mapInArrow builder.  Both give partials that
    decode equal, so their merges are byte-identical.
    """
    from . import jvm_udaf
    from .core.hll import HASH_XXHASH_SPARK
    from .functions import resolve_params

    b, binbits = resolve_params(b, binbits, error_rate, ndistinct)
    by = list(by or [])
    hash_kind = 0
    # one projection, by + the (pre)hashed value: both builders run over it
    if input_type == "auto" and (factory is None or jvm_prehash is True):
        # for custom factories, prehash only on explicit request (the factory
        # must then construct its sketches with hash_kind=HASH_XXHASH_SPARK)
        df, value_col, input_type, hash_kind = _apply_jvm_prehash(
            df, value_col, by, True if factory is not None else jvm_prehash
        )
    else:
        df = df.select(*by, value_col)
    jar_domain = factory is None and hash_kind == HASH_XXHASH_SPARK
    if engine == "auto" and not jar_domain:
        engine = "python"  # murmur or a factory sketch: only the python builder serves it
    if jvm_udaf.resolve_engine(df.sparkSession, engine) == "jvm_udaf":
        if not jar_domain:
            raise ValueError(
                "engine='jvm_udaf' builds HLL partials of the xxhash64 prehash only; "
                "murmur-pinned input and factory sketches need engine='python'"
            )
        return jvm_udaf.hll_partials(df, len(by), b, binbits, lineage)
    return df.mapInArrow(
        _make_builder(value_col, by, b, binbits, input_type, lineage, hash_kind, factory),
        schema=_partial_schema(df, by, lineage),
    )


def merge_partials(
    partials: DataFrame,
    by: Sequence[str] | None = None,
    merge_rounds: int | None = None,
    sketch_col: str = "sketch",
    cls=HLL,
    engine: str = "auto",
) -> DataFrame:
    """Phase 2: register-max merge of partial sketches (the prefunc,
    hyperloglog_merge_agg → hll_merge, hyperloglog.c:251-337).

    engine="auto" (HLL sketches, default topology, jar loadable) routes the
    whole reduction through the JVM blob-merge aggregate buffer
    (jvm_udaf.hll_merge_udaf — byte-identical results, tested; ~15× at 100k
    stored sketches).  Requesting an explicit ``merge_rounds`` topology, a
    non-HLL ``cls`` or ``engine="python"`` keeps the pandas merge paths:
    grouped = shuffle by key (optionally pre-bucketed when the partial count
    is huge); global = log-depth tree fan-in, never collecting all partials
    into one task until the fan-in is bounded.
    """
    from . import jvm_udaf

    by = list(by or [])
    if engine == "auto" and (cls is not HLL or merge_rounds is not None):
        engine = "python"  # only the HLL merge in the default topology has a jar aggregate
    if jvm_udaf.resolve_engine(partials.sparkSession, engine) == "jvm_udaf":
        return jvm_udaf.hll_merge_udaf(partials, sketch_col, by)
    out_fields = [f for f in partials.schema.fields if f.name in by]
    out_fields.append(StructField(sketch_col, BinaryType(), True))
    out_schema = StructType(out_fields)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {c: [pdf[c].iloc[0]] for c in by}
        row[sketch_col] = [_merge_rows(pdf[sketch_col], cls)]
        return pd.DataFrame(row)

    def merge_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: HLL | None = None
        for pdf in batches:
            s = _merge_rows_obj(pdf[sketch_col], cls)
            if s is not None:
                acc = s if acc is None else acc.merge(s)
        if acc is not None:
            yield pd.DataFrame({sketch_col: [acc.to_bytes()]})

    # proxy for the partial count: cluster parallelism (avoids df.rdd, whose
    # DataFrame→RDD plan conversion costs ~1s of driver time per query)
    nparts = partials.sparkSession.sparkContext.defaultParallelism
    if by:
        if merge_rounds is None:
            merge_rounds = 2 if nparts > 256 else 1
        cur = partials.select(*by, sketch_col)
        if merge_rounds > 1:
            # pre-merge within hash buckets to bound per-key reducer fan-in
            nbuckets = max(2, int(math.sqrt(nparts)))
            bucket = F.pmod(F.crc32(F.concat_ws("", *[F.col(c).cast("string") for c in by])) + F.spark_partition_id(), F.lit(nbuckets))
            pre_schema = StructType(list(out_schema.fields) + [StructField("__bucket", IntegerType(), True)])

            def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
                row = {c: [pdf[c].iloc[0]] for c in by}
                row[sketch_col] = [_merge_rows(pdf[sketch_col], cls)]
                row["__bucket"] = [int(pdf["__bucket"].iloc[0])]
                return pd.DataFrame(row)

            cur = (
                cur.withColumn("__bucket", bucket.cast("int"))
                .groupBy(*by, "__bucket")
                .applyInPandas(merge_bucket, schema=pre_schema)
                .drop("__bucket")
            )
        return cur.groupBy(*by).applyInPandas(merge_group, schema=out_schema)

    def merge_partition_final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: HLL | None = None
        for pdf in batches:
            s = _merge_rows_obj(pdf[sketch_col], cls)
            if s is not None:
                acc = s if acc is None else acc.merge(s)
        # empty input → one NULL-sketch row, so hll_estimate_bigint gives 0
        # (the NULL contract of hyperloglog_get_estimate_bigint, postgres.sql:169-171)
        yield pd.DataFrame({sketch_col: [None if acc is None else acc.to_bytes()]})

    # global (keyless): partition-local pre-merge, then iterated fan-in —
    # depth ceil(log_{_MERGE_FANIN}(P)).  The pre-merge is the map-side combine of
    # this reduction: one blob leaves each scan partition, so the exchange
    # below ships ≤ P sketches instead of every stored partial (measured
    # ~3× on a 100k-blob stored rollup: the repartition(1) final task was
    # otherwise fetching and merging all 100k rows alone).  mapInPandas is
    # narrow — it fuses into the scan stage, costing no extra exchange.
    # HLL only: its merge is order-free (state is a pure function of the
    # value set), so the extra fold level cannot change bytes; sibling
    # digest-mode merges (tdigest/kll) are order-dependent within the rank
    # bound and must keep the single-task row-order fold.
    sk_schema = StructType([StructField(sketch_col, BinaryType(), True)])
    cur = partials.select(sketch_col)
    if cls is HLL:
        cur = cur.mapInPandas(merge_partition, schema=sk_schema)
    n = nparts
    while n > _MERGE_FANIN:
        n = max(1, math.ceil(n / _MERGE_FANIN))
        cur = cur.repartition(n).mapInPandas(merge_partition, schema=sk_schema)
    # repartition, NOT coalesce: coalesce(1) would collapse the upstream
    # builder stage into a single task and serialize the whole scan
    return cur.repartition(1).mapInPandas(merge_partition_final, schema=sk_schema)


def merge_partials_driver(partials: DataFrame) -> dict:
    """Collect the ``sketch`` column of keyless HLL partials to the driver
    and merge in numpy: ``{(): HLL}``, ``{(): None}`` when every partial is
    NULL, ``{}`` when there are none.

    For P ≤ ~4096 partials (P × ≤16 KiB = a few MiB) this removes an entire
    Exchange + single-task stage + Python-worker round trip per query — the
    same role the coordinator's finalfunc plays in Greenplum (SURVEY.md §3.2).
    The collected blobs go through one vectorized ``merge_blobs`` union,
    byte-identical to the ``HLL.from_bytes`` + ``merge`` fold with the same
    refusal of mismatched b/binbits/hash_kind.
    """
    blobs = [r[0] for r in partials.select("sketch").collect()]
    return {(): merge_blobs(blobs)} if blobs else {}


def sketch(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    b: int | None = None,
    binbits: int | None = None,
    input_type: str = "auto",
    merge_rounds: int | None = None,
    jvm_prehash="auto",
    error_rate: float | None = None,
    ndistinct: float | None = None,
    engine: str = "auto",
) -> DataFrame:
    """groupBy(by).hyperloglog_accum(value_col): full two-phase pipeline →
    DataFrame[by..., sketch binary].  Precision via b/binbits or the
    reference-style (error_rate, ndistinct) derivation.

    ``engine``: "jvm_udaf" runs the reduction as a single JVM aggregate
    buffer (TypedImperativeAggregate via functions.udaf — needs
    dist/hllspark-udaf.jar loadable in the session, see hllspark.jvm_udaf);
    "python" uses the mapInArrow builder (required for murmur
    reference-parity via input_type/jvm_prehash=False).  "auto" picks
    jvm_udaf when the jar loads, else python with the JVM xxhash64 prehash —
    byte-identical sketches either way (tests/test_jvm_engine.py) — unless
    something pins the hash function to murmur, which only python serves."""
    engine, jvm_prehash = _route(df, engine, input_type, jvm_prehash)
    if engine == "jvm_udaf":
        from .jvm_udaf import sketch_jvm_udaf

        return sketch_jvm_udaf(df, value_col, by, b, binbits, error_rate, ndistinct)
    partials = build_partials(
        df, value_col, by, b, binbits, input_type, lineage=False, jvm_prehash=jvm_prehash,
        error_rate=error_rate, ndistinct=ndistinct, engine="python",
    )
    return merge_partials(partials, by, merge_rounds=merge_rounds)


def _route(df: DataFrame, engine: str, input_type: str, jvm_prehash) -> tuple[str, object]:
    """(engine, jvm_prehash) for an HLL build.  "auto" with the xxhash64
    domain available resolves through jvm_udaf.resolve_engine; its python
    fallback pins jvm_prehash=True so the sketches stay byte-identical to
    the jar engine's."""
    from . import jvm_udaf

    if engine == "auto" and not (input_type == "auto" and jvm_prehash in ("auto", True)):
        return "python", jvm_prehash  # murmur pinned: only the python builder hashes it
    resolved = jvm_udaf.resolve_engine(df.sparkSession, engine)
    if engine == "auto" and resolved == "python":
        return resolved, True
    return resolved, jvm_prehash


def _resolve_grouping_sets(
    dims: Sequence[str], sets: Sequence[Sequence[str]] | None, mode: str
) -> tuple[list[str], list[list[str]]]:
    """Normalize CUBE / ROLLUP / explicit GROUPING SETS to a list of subsets
    of ``dims`` (each in canonical dim order — within-set order is
    semantically irrelevant).  grouping_id convention (Spark's): bit i
    counted from the MSB end corresponds to dims[i]; 1 = aggregated away."""
    dims = list(dims)
    if not dims:
        raise ValueError("sketch_cube needs at least one dim column")
    if len(set(dims)) != len(dims):
        raise ValueError(f"duplicate dim columns: {dims}")
    n = len(dims)
    if sets is not None:
        norm: list[list[str]] = []
        seen: set[tuple[str, ...]] = set()
        for s in sets:
            s = list(s)
            unknown = [c for c in s if c not in dims]
            if unknown:
                raise ValueError(f"grouping set {s} references non-dim columns {unknown}")
            canon = tuple(c for c in dims if c in s)
            if len(canon) != len(s):
                raise ValueError(f"duplicate columns inside grouping set {s}")
            if canon in seen:
                raise ValueError(f"duplicate grouping set {list(canon)}")
            seen.add(canon)
            norm.append(list(canon))
        if not norm:
            raise ValueError("sets must contain at least one grouping set")
        return dims, norm
    if mode == "cube":
        if n > 8:
            raise ValueError(
                f"cube over {n} dims expands every input row {2 ** n}x before the "
                "partial aggregate — pass the grouping sets you actually need via sets="
            )
        # gid-ascending order: gid's MSB-end bit i set == dims[i] aggregated away
        return dims, [
            [d for i, d in enumerate(dims) if not (gid >> (n - 1 - i)) & 1]
            for gid in range(2 ** n)
        ]
    if mode == "rollup":
        return dims, [dims[:k] for k in range(n, -1, -1)]
    raise ValueError(f"unknown mode {mode!r} (cube, rollup, or pass sets=)")


def _expand_grouping_sets(
    df: DataFrame,
    keep_cols: Sequence[str],
    dims: Sequence[str],
    resolved: Sequence[Sequence[str]],
    gid_col: str,
) -> DataFrame:
    """Replicate every row once per grouping set — the Catalyst-Expand
    equivalent for engines that aggregate via groupBy instead of
    ``df.groupingSets`` (which only accepts real aggregate expressions).
    ``explode(array(struct_per_set))`` is a Generate node: one scan, JVM-side
    row replication, rolled-up dims NULLed at their original type, and the
    set's grouping_id carried as a column — so a plain
    ``groupBy(*dims, gid_col)`` over the result computes every granularity
    in a single pass.  Same shuffle shape as the udaf cube path
    (|sets| × |keys| groups), |sets|-1 fewer source scans than a per-set
    union."""
    n = len(dims)
    dim_types = {f.name: f.dataType for f in df.schema.fields if f.name in dims}
    structs = []
    for s in resolved:
        gid = sum((1 << (n - 1 - i)) for i, d in enumerate(dims) if d not in s)
        structs.append(
            F.struct(
                *[
                    (F.col(d) if d in s else F.lit(None).cast(dim_types[d])).alias(d)
                    for d in dims
                ],
                F.lit(gid).cast("long").alias(gid_col),
            )
        )
    return df.select(*keep_cols, F.explode(F.array(*structs)).alias("_gs")).select(
        *keep_cols,
        *[F.col(f"_gs.{d}").alias(d) for d in dims],
        F.col(f"_gs.{gid_col}").alias(gid_col),
    )


def sketch_cube(
    df: DataFrame,
    value_col: str,
    dims: Sequence[str],
    sets: Sequence[Sequence[str]] | None = None,
    mode: str = "cube",
    b: int | None = None,
    binbits: int | None = None,
    error_rate: float | None = None,
    ndistinct: float | None = None,
    engine: str = "auto",
    finalize: str = "sketch",
    est_col: str = "est",
    gid_col: str = "grouping_id",
) -> DataFrame:
    """Multi-granularity sketch rollup: hyperloglog_accum under ``GROUP BY
    CUBE / ROLLUP / GROUPING SETS`` → DataFrame[dims..., grouping_id,
    sketch|est].  The reference's counters compose with any SQL GROUP BY for
    free (they're ordinary Postgres aggregates); this is the Spark
    DataFrame-level equivalent, building EVERY requested granularity of a
    sketch rollup table in one pass over the fact table.

    Aggregated-away dims are NULL and ``gid_col`` (Spark grouping_id: bit
    per dim, MSB = dims[0], 1 = rolled up) disambiguates them from actual
    NULL key values.  Cell sketches are byte-identical to a per-set
    ``agg.sketch(df, value_col, by=set)`` — merge determinism makes the
    canonical state a pure function of each cell's value set — so the output
    feeds every stored-sketch path (merge_stored, hll_merge_udaf re-agg,
    per-row read UDFs) like any other rollup table.

    Engines: "jvm_udaf" (Catalyst Expand replicates rows once per set
    BEFORE map-side combine, so the shuffle carries |sets| x |keys| buffers;
    needs the jar) or "python" (the same single-scan shape via an
    explode-based Expand — _expand_grouping_sets — then one grouped sketch
    over dims+grouping_id with the xxhash64 prehash; no jar, identical
    bytes).  Every engine is one pass over the source.  One SQL-semantics
    edge: over an EMPTY input the udaf path (df.groupingSets) still emits
    the global-set row with a NULL sketch, while the python engine emits no
    rows.  "auto" prefers jvm_udaf.  Scale note: full cube is 2^n sets
    — at 100 TB pass sets= with the granularities a dashboard actually
    reads rather than cubing many dims (the Expand multiplier IS the cost
    model; guarded at n > 8)."""
    dims, resolved = _resolve_grouping_sets(dims, sets, mode)
    if value_col in dims:
        # would duplicate the column in df.select(value_col, *dims) and
        # surface later as a confusing ambiguous-reference analysis error
        raise ValueError(f"value_col {value_col!r} cannot also be a dim column")
    from . import jvm_udaf

    engine = jvm_udaf.resolve_engine(df.sparkSession, engine)
    if finalize not in ("sketch", "estimate", "estimate_bigint"):
        raise ValueError(f"unknown finalize {finalize!r}")
    if engine == "jvm_udaf":
        return jvm_udaf.sketch_cube_jvm_udaf(
            df, value_col, dims, resolved, b, binbits, error_rate, ndistinct,
            finalize, est_col, gid_col,
        )
    expanded = _expand_grouping_sets(
        df.select(value_col, *dims), [value_col], dims, resolved, gid_col
    )
    out = sketch(
        expanded, value_col, by=[*dims, gid_col], b=b, binbits=binbits,
        error_rate=error_rate, ndistinct=ndistinct, engine="python", jvm_prehash=True,
    )
    if finalize == "sketch":
        return out
    est = _hll_estimate(F.col("sketch"))
    if finalize == "estimate_bigint":
        est = _round_bigint(est)
    return out.select(*dims, gid_col, est.alias(est_col))


def distinct(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    b: int | None = None,
    binbits: int | None = None,
    input_type: str = "auto",
    bigint: bool = False,
    est_col: str = "est",
    jvm_prehash="auto",
    engine: str = "auto",
    error_rate: float | None = None,
    ndistinct: float | None = None,
) -> DataFrame:
    """hyperloglog_distinct: sketch then estimate → DataFrame[by..., est].

    Precision via b/binbits or the reference's
    ``hyperloglog_distinct(col[, error_rate[, ndistinct]])`` derivation
    (postgres.sql:219-245) — same resolution as ``sketch``.

    On the python engine a global sketch's partials are merged on the
    driver (the coordinator's finalfunc role) instead of in an extra Spark
    stage, up to _DRIVER_MERGE_MAX_PARALLELISM-way clusters.

    NULL contract (hyperloglog_counter.c:511-513): a group with zero non-NULL
    values estimates NULL; ``bigint=True`` coalesces NULL→0
    (postgres.sql:169-171).
    """
    from .functions import resolve_params

    b, binbits = resolve_params(b, binbits, error_rate, ndistinct)
    by = list(by or [])
    spark = df.sparkSession
    engine, jvm_prehash = _route(df, engine, input_type, jvm_prehash)
    if engine == "jvm_udaf":
        from .jvm_udaf import sketch_jvm_udaf

        return sketch_jvm_udaf(
            df, value_col, by, b, binbits,
            finalize="estimate_bigint" if bigint else "estimate", est_col=est_col,
        )
    if not by and spark.sparkContext.defaultParallelism <= _DRIVER_MERGE_MAX_PARALLELISM:
        partials = build_partials(
            df, value_col, by, b, binbits, input_type, lineage=False, jvm_prehash=jvm_prehash, engine="python"
        )
        s = merge_partials_driver(partials).get(())
        e = None if s is None else float(s.estimate())
        if bigint:
            e = 0 if e is None else int(round(e))
        field = StructField(est_col, LongType() if bigint else DoubleType(), not bigint)
        return spark.createDataFrame([(e,)], StructType([field]))
    sk = sketch(df, value_col, by, b, binbits, input_type, jvm_prehash=jvm_prehash, engine="python")
    est = _hll_estimate(F.col("sketch"))
    if bigint:
        est = _round_bigint(est)
    return sk.select(*by, est.alias(est_col))


def sketch_generic(
    df: DataFrame,
    value_col: str,
    factory,
    cls,
    by: Sequence[str] | None = None,
    input_type: str = "auto",
    merge_rounds: int | None = None,
    jvm_prehash: bool = False,
) -> DataFrame:
    """Two-phase pipeline for ANY Sketch-protocol class (count-min, Bloom,
    t-digest, KLL, MinHash, ...): same partial/merge topology as HLL.

    ``factory``: zero-arg constructor for a fresh state (e.g.
    ``lambda: CountMin.create(width=4096, depth=5)``); ``cls`` provides
    ``from_bytes`` for the merge phase.  ``jvm_prehash=True`` hashes the
    value column JVM-side with xxhash64 (8 bytes/row into Python) — the
    factory must then create sketches with hash_kind=HASH_XXHASH_SPARK so
    probes use the matching hash (hllspark.core.xxhash).
    """
    partials = build_partials(
        df, value_col, by, input_type=input_type, lineage=False, factory=factory, jvm_prehash=jvm_prehash
    )
    return merge_partials(partials, by, merge_rounds=merge_rounds, cls=cls)
