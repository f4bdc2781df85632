"""The SQL-facing surface over the sketch BinaryType column.

It mirrors the reference's scalar functions and operators
(sql/postgres.sql:43-330; see SURVEY.md §2.3-2.5):

| reference                              | here                               |
|----------------------------------------|------------------------------------|
| hyperloglog_get_estimate(c) / #c       | hll_estimate(sketch)               |
| hyperloglog_get_estimate_bigint(c)     | hll_estimate_bigint(sketch)        |
| hyperloglog_merge(c1,c2) / c1 || c2    | hll_union(a, b)                    |
| hyperloglog_union/intersection/…       | hll_union_estimate / …             |
| hyperloglog_equal / = / <>             | hll_equal(a, b)                    |
| length(c)                              | hll_length(sketch)                 |
| hyperloglog_comp / hyperloglog_decomp  | hll_comp / hll_decomp              |
| hyperloglog_update(c)                  | hll_update (accepts ref v0/v1/v2)  |
| hyperloglog_in/out (wire interop)      | hll_import_reference /             |
|                                        | hll_export_reference (v2 bytea;    |
|                                        | base64() for the text form)        |
| hyperloglog_info(c)                    | hll_info(sketch) → json string     |
| hyperloglog_accum(col) (agg)           | hll_sketch_agg(col) (GROUPED_AGG)  |
| hyperloglog_merge(col) (agg)           | hll_merge_agg(sketch_col)          |
| sum(counter) → bigint                  | hll_estimate_bigint(hll_merge_agg) |

Routing: the stored-sketch readers with a jar twin — hll_estimate,
hll_estimate_bigint, hll_union_estimate, hll_intersection, hll_compliment,
hll_symmetric_diff, tdigest_quantile, tdigest_rank, kll_quantile and
minhash_jaccard — run the jar's read UDFs (no Python stage) when
``jvm_udaf.resolve_engine(<active session>, "auto")`` is "jvm_udaf", and
their pandas twins otherwise; ``register_sql`` registers their SQL names on
the same route.  Every other function here is a pandas UDF, including the
aggregates and the probes cm_query / bloom_contains, whose probe hash
depends on the probe's SQL type (jvm_udaf.cm_query_col /
bloom_contains_col read in the JVM from a DataFrame).

NULL contract matches hyperloglog_counter.c:218-220/633-645: NULL inputs are
skipped, an all-NULL group yields NULL, merging NULL with a sketch returns
the sketch, and hll_estimate_bigint coalesces NULL→0.

The GROUPED_AGG UDAFs here are the *convenience* path: Spark gives pandas
aggregates no map-side partial aggregation, so they shuffle raw rows.  The
scale path is the explicit two-phase pipeline in hllspark.agg.
"""

from __future__ import annotations

import json
import operator as _operator

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType

from .core import hll as hllmod
from .core.hash import hash_float64, hash_int32, hash_int64, hash_strings
from .core.hll import HLL

DEFAULT_B = 14
DEFAULT_BINBITS = 6


def hash_series(s: pd.Series, input_type: str = "auto") -> np.ndarray:
    """Hash a (null-free) pandas Series with the reference's canonicalization:
    ints → little-endian datum bytes, floats → IEEE bytes, str → UTF-8,
    bytes → raw (hyperloglog_counter.c:536-547)."""
    if input_type == "auto":
        dt = s.dtype
        if pd.api.types.is_datetime64_any_dtype(dt):
            # canonicalize to epoch microseconds (Spark TimestampType unit)
            input_type = "int64"
            s = pd.Series(s.to_numpy().astype("datetime64[us]").view("int64"))
        elif pd.api.types.is_integer_dtype(dt):
            input_type = "int64"
        elif pd.api.types.is_float_dtype(dt):
            input_type = "float64"
        elif pd.api.types.is_bool_dtype(dt):
            input_type = "int32"
        else:
            input_type = "bytes"
    if input_type == "int32":
        return hash_int32(s.to_numpy(dtype=np.int64).astype(np.int32))
    if input_type == "int64":
        return hash_int64(s.to_numpy(dtype=np.int64))
    if input_type == "float64":
        return hash_float64(s.to_numpy(dtype=np.float64))
    if input_type == "bytes":
        return hash_strings(s)
    raise ValueError(f"unknown input_type {input_type!r}")


def build_sketch(s: pd.Series, b: int = DEFAULT_B, binbits: int = DEFAULT_BINBITS, input_type: str = "auto") -> HLL:
    """One sketch from a pandas Series (NULLs skipped)."""
    h = HLL.create(b=b, binbits=binbits)
    s = s.dropna()
    if len(s):
        h.add_hashes(hash_series(s, input_type))
    return h


# ---------------------------------------------------------------------------
# scalar UDFs (operate row-wise on serialized sketches; register work is numpy)
# ---------------------------------------------------------------------------


def _pandas_twin(f):
    """DoubleType pandas UDF of a routed reader, named like the public
    reader (``_hll_estimate`` → ``hll_estimate``) so both routes name their
    result columns alike."""
    f.__name__ = f.__name__.lstrip("_")
    return pandas_udf(DoubleType())(f)


@_pandas_twin
def _hll_estimate(sketch: pd.Series) -> pd.Series:
    """Batched via core.hll.estimate_blobs — sparse rows estimate from the
    header alone (same arithmetic, evaluated once per distinct entry
    count), so a 10^5-row stored-rollup read does a handful of ``log``
    calls instead of 10^5 payload decodes."""
    return pd.Series(hllmod.estimate_blobs(sketch), index=sketch.index, dtype="object")


def _pairwise(a: pd.Series, b: pd.Series, fn, null_passthrough: bool = True):
    out = []
    for x, y in zip(a, b):
        if x is None and y is None:
            out.append(None)
        elif x is None or y is None:
            if null_passthrough:
                one = HLL.from_bytes(bytes(x if x is not None else y))
                out.append(fn(one, None))
            else:
                out.append(None)
        else:
            out.append(fn(HLL.from_bytes(bytes(x)), HLL.from_bytes(bytes(y))))
    return out


@pandas_udf(BinaryType())
def hll_union(a: pd.Series, b: pd.Series) -> pd.Series:
    """c1 || c2 — register-max union; NULL merges to the other side."""
    def f(x, y):
        return x.to_bytes() if y is None else x.copy().merge(y).to_bytes()
    return pd.Series(_pairwise(a, b, f))


@_pandas_twin
def _hll_union_estimate(a: pd.Series, b: pd.Series) -> pd.Series:
    # Pairwise object path ON PURPOSE: a whole-batch vectorized kernel
    # (composite-key searchsorted over the concatenated sparse encodings)
    # was A/B'd and REJECTED this round — wall parity at the bench shape
    # and up to 4× more CPU at ~400-entry sparse pairs, where the global
    # searchsorted loses cache locality that the per-row small-array ops
    # keep.  The batched win that IS real is the single-column header-only
    # estimate (_hll_estimate above).
    def f(x, y):
        return x.estimate() if y is None else hllmod.union_estimate(x, y)
    return pd.Series(_pairwise(a, b, f), dtype="float64")


@_pandas_twin
def _hll_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        return 0.0 if y is None else hllmod.intersection_estimate(x, y)
    return pd.Series(_pairwise(a, b, f), dtype="float64")


@_pandas_twin
def _hll_compliment(a: pd.Series, b: pd.Series) -> pd.Series:
    # [sic] — the reference spells complement this way (postgres.sql:143-145)
    def f(x, y):
        return 0.0 if y is None else hllmod.compliment_estimate(x, y)
    return pd.Series(_pairwise(a, b, f), dtype="float64")


@_pandas_twin
def _hll_symmetric_diff(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        return 0.0 if y is None else hllmod.symmetric_diff_estimate(x, y)
    return pd.Series(_pairwise(a, b, f), dtype="float64")


@pandas_udf(BooleanType())
def hll_equal(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        return False if y is None else x.equals(y)
    return pd.Series(_pairwise(a, b, f, null_passthrough=False), dtype="boolean")


@pandas_udf(IntegerType())
def hll_length(sketch: pd.Series) -> pd.Series:
    return sketch.map(lambda v: None if v is None else len(v)).astype("Int32")


def _cmp_operand(v) -> float | None:
    """Either side of an estimate comparison may be a counter (binary sketch)
    or a plain number — the reference's operator overloads > < >= <= for
    (counter,counter), (counter,NUMERIC) and (NUMERIC,counter)
    (sql/postgres.sql:178-192,297-330; greenplum.sql:226-285,520-635).
    pandas UDFs see untyped values, so one function covers all three shapes."""
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return HLL.from_bytes(bytes(v)).estimate()
    f = float(v)
    # Spark delivers numeric-with-NULLs to pandas UDFs as float64 NaN (see
    # CLAUDE.md); NaN here IS SQL NULL, not a number to compare
    return None if f != f else f


def _make_estimate_cmp(op):
    @pandas_udf(BooleanType())
    def _cmp(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            ex, ey = _cmp_operand(x), _cmp_operand(y)
            # SQL comparison semantics: NULL operand → NULL result (the
            # reference's operators are plain SQL over possibly-NULL estimates)
            out.append(None if ex is None or ey is None else op(ex, ey))
        return pd.Series(out, dtype="boolean")

    return _cmp


hll_gt = _make_estimate_cmp(_operator.gt)
hll_lt = _make_estimate_cmp(_operator.lt)
hll_ge = _make_estimate_cmp(_operator.ge)
hll_le = _make_estimate_cmp(_operator.le)


@pandas_udf(BinaryType())
def hll_comp(sketch: pd.Series) -> pd.Series:
    """hyperloglog_comp (postgres.sql:43-45): re-serialize compressed —
    sparse payloads delta+group-varint encoded (kept only if smaller,
    hyperloglog.c:1102-1108), dense stay bit-packed (PGLZ delegated to
    parquet/shuffle codecs, SURVEY.md §4)."""
    return sketch.map(lambda v: None if v is None else HLL.from_bytes(bytes(v)).to_bytes(compress=True))


@pandas_udf(BinaryType())
def hll_decomp(sketch: pd.Series) -> pd.Series:
    """hyperloglog_decomp (postgres.sql:47-49): fully expanded form — raw
    sparse list / unpacked byte-per-register dense."""
    return sketch.map(
        lambda v: None if v is None else HLL.from_bytes(bytes(v)).to_bytes(packed=False, compress=False)
    )


@pandas_udf(StringType())
def hll_info(sketch: pd.Series) -> pd.Series:
    return sketch.map(lambda v: None if v is None else json.dumps(HLL.from_bytes(bytes(v)).info()))


def hll_info_defaults() -> dict:
    """Zero-arg hyperloglog_info(): the library defaults dump
    (hyperloglog_counter.c:994-1001 — struct version, default error rate,
    default ndistinct), plus the derived default (b, binbits) and the
    published error bound they imply.  Plain driver-side dict: there is no
    column input, so no reason for a UDF."""
    from .core.hll import DEFAULT_ERROR, DEFAULT_NDISTINCT, ERROR_CONST, STRUCT_VERSION, params_from_error

    b, binbits = params_from_error()
    return {
        "struct_version": STRUCT_VERSION,
        "default_error_rate": DEFAULT_ERROR,
        "default_ndistinct": DEFAULT_NDISTINCT,
        "default_index_bits": b,
        "default_binbits": binbits,
        "error_bound": ERROR_CONST / (1 << b) ** 0.5,
    }


@pandas_udf(BinaryType())
def hll_update(sketch: pd.Series) -> pd.Series:
    """hyperloglog_update (postgres.sql:53-55, upgrade.c:24-60): accept this
    library's own versions OR the reference extension's v0/v1/v2 blobs (bytea
    content) and re-serialize canonically."""
    from .core.legacy import upgrade_bytes

    return sketch.map(lambda v: None if v is None else upgrade_bytes(bytes(v)))


def _theta_pairwise(a: pd.Series, b: pd.Series, fn) -> pd.Series:
    """Pairwise theta-sketch op with the library's set-op NULL contract
    (same as _pairwise: both NULL → NULL; one NULL → the survivor is passed
    as x with y=None, so unions estimate the survivor and intersection/
    difference forms yield 0.0)."""
    from .sketches.theta import Theta

    out = []
    for x, y in zip(a, b):
        if x is None and y is None:
            out.append(None)
        elif x is None or y is None:
            out.append(fn(Theta.from_bytes(bytes(x if x is not None else y)), None))
        else:
            out.append(fn(Theta.from_bytes(bytes(x)), Theta.from_bytes(bytes(y))))
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def theta_estimate(sketch: pd.Series) -> pd.Series:
    from .sketches.theta import Theta

    return sketch.map(
        lambda v: None if v is None else Theta.from_bytes(bytes(v)).estimate()
    ).astype("float64")


@pandas_udf(DoubleType())
def theta_union_estimate(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        return x.estimate() if y is None else x.union_estimate(y)

    return _theta_pairwise(a, b, f)


@pandas_udf(DoubleType())
def theta_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        return 0.0 if y is None else x.intersection_estimate(y)

    return _theta_pairwise(a, b, f)


@pandas_udf(DoubleType())
def theta_a_not_b(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        return 0.0 if y is None else x.a_not_b_estimate(y)

    return _theta_pairwise(a, b, f)


@pandas_udf(DoubleType())
def theta_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        return 0.0 if y is None else x.jaccard_estimate(y)

    return _theta_pairwise(a, b, f)


@pandas_udf(BinaryType())
def hll_export_reference(sketch: pd.Series) -> pd.Series:
    """Serialize canonical sketches as reference v2 counters — the exact
    bytea payload the extension's hyperloglog_in() / a stored column expects
    (base64-encode for the text form).  Compressed like the reference's own
    stored counters (finalfunc hyperloglog_comp): sparse group-varint /
    dense PGLZ with the keep-if-smaller fallbacks.  Refuses xxhash64-built
    sketches — the reference hashes MurmurHash64A, and a cross-hash export
    would poison merges Postgres-side (core/refformat.py)."""
    from .core.refformat import to_reference_bytes

    return sketch.map(
        lambda v: None if v is None else to_reference_bytes(HLL.from_bytes(bytes(v)))
    )


@pandas_udf(BinaryType())
def hll_import_reference(sketch: pd.Series) -> pd.Series:
    """Decode reference counters (ANY version: v0/v1 upgrade formats or the
    current v2 in every payload encoding — bit-packed / unpacked / PGLZ
    dense, raw / group-varint sparse) into canonical sketches.  The inverse
    of hll_export_reference; a stored reference rollup table becomes
    directly queryable by every reader/merge path in this library."""
    from .core.legacy import hll_from_reference_bytes

    return sketch.map(
        lambda v: None if v is None else hll_from_reference_bytes(bytes(v)).to_bytes()
    )


# ---------------------------------------------------------------------------
# GROUPED_AGG UDAFs (convenience path — raw-row shuffle; see hllspark.agg
# for the partial-aggregation scale path)
# ---------------------------------------------------------------------------


def resolve_params(
    b: int | None = None,
    binbits: int | None = None,
    error_rate: float | None = None,
    ndistinct: float | None = None,
) -> tuple[int, int]:
    """hyperloglog_accum(col[, error_rate[, ndistinct]]) parameterization
    (postgres.sql:219-245): explicit b/binbits win; else derive from the
    requested error rate / cardinality cap exactly like hll_create."""
    from .core.hll import DEFAULT_ERROR, DEFAULT_NDISTINCT, params_from_error

    if error_rate is not None or ndistinct is not None:
        db, dbin = params_from_error(
            DEFAULT_ERROR if error_rate is None else error_rate,
            DEFAULT_NDISTINCT if ndistinct is None else ndistinct,
        )
        return (db if b is None else b, dbin if binbits is None else binbits)
    return (DEFAULT_B if b is None else b, DEFAULT_BINBITS if binbits is None else binbits)


def make_sketch_agg(
    b: int | None = None,
    binbits: int | None = None,
    input_type: str = "auto",
    error_rate: float | None = None,
    ndistinct: float | None = None,
):
    """Factory for hyperloglog_accum-style GROUPED_AGG at a chosen precision."""
    rb, rbin = resolve_params(b, binbits, error_rate, ndistinct)

    @pandas_udf(BinaryType())
    def _sketch_agg(v: pd.Series) -> bytes:
        vv = v.dropna()
        if not len(vv):
            # strict-aggregate NULL contract: an all-NULL group yields SQL
            # NULL, not an empty sketch (hyperloglog_counter.c:511-513)
            return None
        return build_sketch(vv, b=rb, binbits=rbin, input_type=input_type).to_bytes()

    return _sketch_agg


hll_sketch_agg = make_sketch_agg()


# ---------------------------------------------------------------------------
# sibling-sketch SQL surface: GROUPED_AGG builders + scalar query functions
# ---------------------------------------------------------------------------


def make_generic_sketch_agg(factory, value_based: bool = False, input_type: str = "auto"):
    """GROUPED_AGG UDAF for any Sketch-protocol class; an all-NULL group
    yields SQL NULL, like hll_sketch_agg.

    ``value_based``: t-digest/KLL consume raw numeric values; the hash-based
    sketches (count-min, bloom, minhash) consume hash_series output."""

    @pandas_udf(BinaryType())
    def _agg(v: pd.Series) -> bytes:
        vv = v.dropna()
        if not len(vv):
            return None
        sk = factory()
        if value_based:
            sk.update_values(vv.to_numpy(dtype="float64"))
        else:
            sk.add_hashes(hash_series(vv, input_type))
        return sk.to_bytes()

    return _agg


def make_generic_merge_agg(cls):
    """hyperloglog_merge-style GROUPED_AGG over a stored ``cls`` column:
    NULLs skipped, an all-NULL group yields SQL NULL."""

    @pandas_udf(BinaryType())
    def _merge(sketches: pd.Series) -> bytes:
        acc = None
        for v in sketches:
            if v is None:
                continue
            s = cls.from_bytes(bytes(v))
            acc = s if acc is None else acc.merge(s)
        return None if acc is None else acc.to_bytes()

    return _merge


hll_merge_agg = make_generic_merge_agg(HLL)


def _probe_hashes(values: pd.Series, hash_kind: int) -> np.ndarray:
    """Hash probe values in the same domain the sketch was built in: murmur
    (anyelement canonicalization) for hash_kind 0, Spark xxhash64 for
    hash_kind 1 (sketches built by the JVM engine / jvm_prehash)."""
    if hash_kind == 1:
        from .core.xxhash import spark_xxhash64_series

        return spark_xxhash64_series(values)
    return hash_series(values, "auto")


def _probe_loop(sketch: pd.Series, value: pd.Series, cls, fn):
    mask = sketch.notna() & value.notna()
    out = pd.Series([None] * len(sketch), dtype="object")
    if not mask.any():
        return out
    sketches = {i: cls.from_bytes(bytes(b)) for i, b in sketch[mask].items()}
    # group probes by the sketch's hash domain
    kinds = pd.Series({i: getattr(s, "hash_kind", 0) for i, s in sketches.items()})
    for kind in kinds.unique():
        idxs = kinds[kinds == kind].index
        hashes = _probe_hashes(value[idxs], int(kind))
        for i, h in zip(idxs, hashes):
            out[i] = fn(sketches[i], h.reshape(1))
    return out


@pandas_udf(LongType())
def cm_query(sketch: pd.Series, value: pd.Series) -> pd.Series:
    """count-min frequency estimate.  The probe value is canonicalized by its
    OWN SQL type (anyelement semantics, hyperloglog_counter.c:536-547) in the
    hash domain recorded in the sketch header."""
    from .sketches import CountMin

    return _probe_loop(
        sketch, value, CountMin, lambda cm, h: int(cm.query_hashes(h)[0])
    ).astype("Int64")


@pandas_udf(BooleanType())
def bloom_contains(sketch: pd.Series, value: pd.Series) -> pd.Series:
    """Membership probe, canonicalized by the probe value's own SQL type in
    the sketch's hash domain."""
    from .sketches import Bloom

    return _probe_loop(
        sketch, value, Bloom, lambda bf, h: bool(bf.contains_hashes(h)[0])
    ).astype("boolean")


@_pandas_twin
def _tdigest_quantile(sketch: pd.Series, q: pd.Series) -> pd.Series:
    from .sketches import TDigest

    return pd.Series(
        [None if b is None else TDigest.from_bytes(bytes(b)).quantile(float(qq)) for b, qq in zip(sketch, q)],
        dtype="float64",
    )


@_pandas_twin
def _tdigest_rank(sketch: pd.Series, x: pd.Series) -> pd.Series:
    from .sketches import TDigest

    return pd.Series(
        [None if b is None else TDigest.from_bytes(bytes(b)).rank(float(v)) for b, v in zip(sketch, x)],
        dtype="float64",
    )


@_pandas_twin
def _kll_quantile(sketch: pd.Series, q: pd.Series) -> pd.Series:
    from .sketches import KLL

    return pd.Series(
        [None if b is None else KLL.from_bytes(bytes(b)).quantile(float(qq)) for b, qq in zip(sketch, q)],
        dtype="float64",
    )


@_pandas_twin
def _minhash_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    from .sketches import MinHash

    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
        else:
            out.append(MinHash.from_bytes(bytes(x)).jaccard(MinHash.from_bytes(bytes(y))))
    return pd.Series(out, dtype="float64")


# ---------------------------------------------------------------------------
# stored-sketch readers with a jar twin: one public surface, two routes
# ---------------------------------------------------------------------------

# reader name (public function and SQL name) -> its jar-free pandas twin
_PANDAS_READERS = {
    "hll_estimate": _hll_estimate,
    "hll_union_estimate": _hll_union_estimate,
    "hll_intersection": _hll_intersection,
    "hll_compliment": _hll_compliment,
    "hll_symmetric_diff": _hll_symmetric_diff,
    "tdigest_quantile": _tdigest_quantile,
    "tdigest_rank": _tdigest_rank,
    "kll_quantile": _kll_quantile,
    "minhash_jaccard": _minhash_jaccard,
}

# SQL twin of _round_bigint over the registered hll_estimate
_ESTIMATE_BIGINT_SQL = (
    "CREATE OR REPLACE TEMPORARY FUNCTION hll_estimate_bigint(sketch BINARY) RETURNS BIGINT "
    "RETURN coalesce(CAST(bround(hll_estimate(sketch)) AS BIGINT), 0)"
)


def _read(name: str, *cols) -> Column:
    """Reader ``name`` over ``cols``: the jar's read UDF when the jar loads
    in the active session (``jvm_udaf.resolve_engine(spark, "auto")``, as
    ``agg.sketch`` routes), else its pandas twin."""
    from . import jvm_udaf

    spark = SparkSession.active()
    if jvm_udaf.resolve_engine(spark, "auto") == "jvm_udaf":
        return jvm_udaf._read_udf_apply(spark, name, cols)
    return _PANDAS_READERS[name](*cols)


def _num(v) -> Column:
    """A probe argument (q, x) as a double column; numbers become literals."""
    if isinstance(v, (int, float)):
        v = F.lit(float(v))
    elif isinstance(v, str):
        v = F.col(v)
    return v.cast("double")


def _round_bigint(est: Column) -> Column:
    """hyperloglog_get_estimate_bigint's rounding (postgres.sql:169-171):
    half-even like Python's round, NULL → 0."""
    return F.coalesce(F.bround(est).cast("long"), F.lit(0))


def hll_estimate(sketch: Column | str) -> Column:
    """``#`` / hyperloglog_get_estimate (postgres.sql:112-114) of stored
    canonical counters: NULL in → NULL out.

    Both routes decode every canonical v1/v2 payload form (raw/group-varint
    sparse, raw/bit-packed/deflated dense) and estimate a sparse counter
    from its header's entry count alone.  The jar's estimates equal
    ``HLL.from_bytes(v).estimate()`` bit for bit except in the
    linear-counting regimes, where the JVM's StrictMath.log (fdlibm, chosen
    for bit-reproducibility across JIT tiers and platforms) may differ from
    CPython's libm by at most 1 ulp (tests/test_jvm_estimate.py).  Only
    canonical hllspark counters are read: the reference's legacy wire blobs
    fail loudly on both routes and go through ``hll_update`` first, as in
    the reference (test/sql/update.sql)."""
    return _read("hll_estimate", sketch)


def hll_estimate_bigint(sketch: Column | str) -> Column:
    """round(hll_estimate)::bigint with NULL → 0 (postgres.sql:169-171)."""
    return _round_bigint(hll_estimate(sketch))


def hll_union_estimate(a: Column | str, b: Column | str) -> Column:
    """est(A∪B) of two stored counter columns (hyperloglog_union,
    postgres.sql:131-136).  One NULL operand → the estimate of the other,
    both NULL → NULL.  Operands with other (b, binbits) or hash kinds
    refuse loudly, like the merge aggregates.  Estimate parity between the
    routes as hll_estimate."""
    return _read("hll_union_estimate", a, b)


def hll_intersection(a: Column | str, b: Column | str) -> Column:
    """est(A) + est(B) − est(A∪B) (hyperloglog_counter.c:1089-1113); the
    jar replays core.hll.intersection_estimate's operation order.  One NULL
    operand → 0.0 (the empty set), both NULL → NULL."""
    return _read("hll_intersection", a, b)


def hll_compliment(a: Column | str, b: Column | str) -> Column:
    """est(A∪B) − est(B), in the reference's spelling
    (hyperloglog_counter.c:1115-1152); NULL contract as hll_intersection."""
    return _read("hll_compliment", a, b)


def hll_symmetric_diff(a: Column | str, b: Column | str) -> Column:
    """2·est(A∪B) − est(A) − est(B) (hyperloglog_counter.c:1154-1193);
    NULL contract as hll_intersection."""
    return _read("hll_symmetric_diff", a, b)


def tdigest_quantile(sketch: Column | str, q: Column | str | float) -> Column:
    """Value at quantile ``q`` of stored t-digests.  The routes agree bit
    for bit (sequential cumsum, searchsorted-left and the same
    interpolation order; no transcendental calls).  A NULL sketch, a NULL
    ``q`` or an empty digest → NULL."""
    return _read("tdigest_quantile", sketch, _num(q))


def tdigest_rank(sketch: Column | str, x: Column | str | float) -> Column:
    """Approximate CDF at ``x`` of stored t-digests (np.interp over the
    centroid centers, replayed bit for bit by the jar); NULL contract as
    tdigest_quantile."""
    return _read("tdigest_rank", sketch, _num(x))


def kll_quantile(sketch: Column | str, q: Column | str | float) -> Column:
    """Value at quantile ``q`` of stored KLL sketches (stable weighted sort
    + searchsorted-left item selection, bit for bit on both routes); NULL
    contract as tdigest_quantile."""
    return _read("kll_quantile", sketch, _num(q))


def minhash_jaccard(a: Column | str, b: Column | str) -> Column:
    """Jaccard estimate of two stored MinHash signature columns; signatures
    of other k or hash kinds refuse on both routes.  A NULL operand → NULL."""
    return _read("minhash_jaccard", a, b)


def register_sql(spark, b: int = DEFAULT_B, binbits: int = DEFAULT_BINBITS) -> None:
    """Register the surface for use from spark.sql(...).  The readers of
    _PANDAS_READERS are registered on the same route their functions take:
    the jar's read UDFs when the jar loads, else the pandas twins."""
    from . import jvm_udaf
    from .sketches import KLL, Bloom, CountMin, MinHash, TDigest

    jar = jvm_udaf.resolve_engine(spark, "auto") == "jvm_udaf"
    for name, pd_reader in _PANDAS_READERS.items():
        if jar:
            spark._jsparkSession.udf().register(name, jvm_udaf._read_udf(spark, name))
        else:
            spark.udf.register(name, pd_reader)
    spark.sql(_ESTIMATE_BIGINT_SQL)
    spark.udf.register("hll_union", hll_union)
    spark.udf.register("hll_equal", hll_equal)
    # estimate-comparison operators > < >= <= (each side: counter OR number)
    spark.udf.register("hll_gt", hll_gt)
    spark.udf.register("hll_lt", hll_lt)
    spark.udf.register("hll_ge", hll_ge)
    spark.udf.register("hll_le", hll_le)
    spark.udf.register("hll_length", hll_length)
    spark.udf.register("hll_comp", hll_comp)
    spark.udf.register("hll_decomp", hll_decomp)
    spark.udf.register("hll_update", hll_update)
    spark.udf.register("hll_export_reference", hll_export_reference)
    spark.udf.register("hll_import_reference", hll_import_reference)
    spark.udf.register("hll_info", hll_info)
    spark.udf.register("hll_sketch_agg", make_sketch_agg(b, binbits))
    spark.udf.register("hll_sketch_agg_int32", make_sketch_agg(b, binbits, input_type="int32"))
    spark.udf.register("hll_merge_agg", hll_merge_agg)
    # sibling sketches
    spark.udf.register("cm_sketch_agg", make_generic_sketch_agg(lambda: CountMin.create(width=4096, depth=5)))
    spark.udf.register("cm_merge_agg", make_generic_merge_agg(CountMin))
    spark.udf.register("cm_query", cm_query)
    spark.udf.register("bloom_sketch_agg", make_generic_sketch_agg(lambda: Bloom.create(m_bits=1 << 20, k=7)))
    spark.udf.register("bloom_merge_agg", make_generic_merge_agg(Bloom))
    spark.udf.register("bloom_contains", bloom_contains)
    spark.udf.register("tdigest_agg", make_generic_sketch_agg(lambda: TDigest.create(delta=100), value_based=True))
    spark.udf.register("tdigest_merge_agg", make_generic_merge_agg(TDigest))
    spark.udf.register("kll_agg", make_generic_sketch_agg(lambda: KLL.create(k=200), value_based=True))
    spark.udf.register("kll_merge_agg", make_generic_merge_agg(KLL))
    spark.udf.register("minhash_agg", make_generic_sketch_agg(lambda: MinHash.create(k=256)))
    spark.udf.register("minhash_merge_agg", make_generic_merge_agg(MinHash))
    # theta (KMV) sketch: bounded-error set operations (see sketches/theta.py)
    from .sketches import Theta

    spark.udf.register("theta_agg", make_generic_sketch_agg(lambda: Theta.create(k=4096)))
    spark.udf.register("theta_merge_agg", make_generic_merge_agg(Theta))
    spark.udf.register("theta_estimate", theta_estimate)
    spark.udf.register("theta_union_estimate", theta_union_estimate)
    spark.udf.register("theta_intersection", theta_intersection)
    spark.udf.register("theta_a_not_b", theta_a_not_b)
    spark.udf.register("theta_jaccard", theta_jaccard)
