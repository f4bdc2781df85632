"""JVM aggregate-buffer engines (`engine="jvm_udaf"` + sibling builders).

hllspark has two build engines.  ``jvm_udaf`` (this module) runs every
reduction as a typed JVM Aggregator from ``dist/hllspark-udaf.jar``
(jvm/src/hllsparkjvm: HLL registers, CountMin, Bloom, MinHash, t-digest,
KLL, the stored-blob merges, and HllPartialBuilder — the phase-1 builder
of ``agg.build_partials`` over the xxhash64 prehash, ``hll_partials``).
``python`` (the agg.build_partials mapInArrow builder, sketch_generic) is
the no-jar path and the MurmurHash reference.
Both emit byte-identical sketches for the same hash (tests/test_jvm_udaf.py).
``engine="auto"`` means jvm_udaf when the jar loads in the session, else
python — see ``resolve_engine``.

Registered through ``functions.udaf`` Spark wraps each aggregator in a
``ScalaAggregator``, which is a ``TypedImperativeAggregate``: one mutable
buffer object per group, updated in place per row inside
ObjectHashAggregate — the flat-buffer shape of Spark's DataSketches
aggregates.

Each aggregator finishes to the canonical ``to_bytes()`` form of its
sketch, so the aggregate column IS the sketch column: every sketch kind
leaves the JVM with no Python stage, and ``finalize="estimate"`` applies
the stored-counter reader (HllSketchEstimateUdf, ``hll_estimate_col``) to
that column.

The jar's per-row readers of stored sketches (HllUdfs factories, table
``_READ_UDFS``) have one public surface: ``functions.hll_estimate``,
``tdigest_quantile`` and the other routed readers run them when the jar
loads, and ``functions.register_sql`` registers them under the same SQL
names.  Four explicit helpers stay here: ``hll_estimate_col`` and
``hll_union_estimate_col``, and the probes ``cm_query_col`` /
``bloom_contains_col``, which hash the probe by its DataFrame column's SQL
type (``agg.jvm_hash_expr``) — something a SQL call site cannot see.

Availability: the session needs the jar on the driver classpath —
``configure_builder`` (session creation, preferred) or the best-effort
runtime ``ADD JAR`` + shared-classloader reflection fallback.  The jar
embeds the digest of the sources it was built from (tools/build_jar.py);
``available`` checks it once per app against this checkout's jvm/src and
raises on a mismatch, so every class the Python side calls exists in the
loaded jar.  On a real cluster ship the jar with ``spark.jars`` exactly
like the --py-files zip (tools/make_pyfiles.py docs).

Tuning: ObjectHashAggregate falls back to sort-based aggregation past
``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` in-memory
keys (default 128 — far too low for high-cardinality grouped sketches;
results stay exact either way, tests/test_jvm_udaf.py pins it).  Sessions
doing per-domain/per-user grouping should raise it — use
``hllspark.configure_session`` (131072, like bench.py).  Buffer transport
is Kryo (compact KryoSerializable encodings, see
HllRegisterAggregator.Buf.write): at 100k group keys the switch from Java
serialization measured 3.6× on the whole query.
"""

from __future__ import annotations

import functools
import logging
import weakref
from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_AGG_CLASS = "hllsparkjvm.HllRegisterAggregator"
_log = logging.getLogger("hllspark")

ENGINES = ("auto", "jvm_udaf", "python")

_NO_JAR = (
    "hllspark-udaf.jar is not loadable in this session; create the session "
    "with hllspark.configure_session (or jvm_udaf.configure_builder), or use "
    "engine='python' (byte-identical sketches)"
)


@functools.lru_cache(maxsize=1)
def _build_tool():
    """tools/build_jar.py, loaded by file location (no sys.path mutation — a
    concurrent import during an insert/pop window could pop a foreign
    entry)."""
    import importlib.util
    import os

    src = os.path.join(os.path.dirname(__file__), "..", "tools", "build_jar.py")
    spec = importlib.util.spec_from_file_location("hllspark_build_jar", src)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def jar_path() -> str:
    """dist/hllspark-udaf.jar, (re)compiled on demand when its embedded
    source digest is not the current one and a JDK is present."""
    return str(_build_tool().build())


def _driver_digest() -> str | None:
    """Digest of this checkout's jvm/src, or None when the package runs
    without its source tree (a --py-files zip): the jar the session was
    given is then the only build there is."""
    try:
        return _build_tool().source_digest()
    except OSError:  # no tools/ or jvm/src next to the package
        return None


def _to_col(jcol) -> Column:
    try:
        from pyspark.sql.classic.column import Column as _C  # pyspark >= 4

        return _C(jcol)
    except ImportError:  # pragma: no cover - pyspark 3.x
        return Column(jcol)


def _col_seq(spark: SparkSession, cols):
    """pyspark's ``_to_seq`` of ``cols``, through the held ``toSeq`` (its
    ``_jvm.PythonUtils`` lookup searches the JVM view's imports, ~1 ms)."""
    from pyspark.sql.classic.column import _to_java_column

    return jvm_handle(spark, "org.apache.spark.api.python.PythonUtils.toSeq")([_to_java_column(c) for c in cols])


# app-key → ("direct", None) | ("loader", shared jar classloader).  Keyed per
# Spark application (applicationId + startTime — NOT id(session), whose
# address a stopped session's successor can reuse).  Caching the RESOLVED
# path matters: without it, every query in an ADD-JAR-fallback session
# re-pays the failed py4j probe + a jar digest scan + the reflection lookup.
_SESSION_CACHE: dict[str, tuple[str, object]] = {}
# app keys whose engine="auto" fallback to python has been logged
_FALLBACK_LOGGED: set[str] = set()
# SparkContext -> its app key: reading applicationId and startTime costs three
# py4j round trips, and every cache lookup below needs the key.  Weak keys, so
# a stopped context's entry goes with it and a successor never inherits it.
_APP_KEYS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _app_key(spark: SparkSession) -> str:
    sc = spark.sparkContext
    key = _APP_KEYS.get(sc)
    if key is None:
        key = _APP_KEYS[sc] = f"{sc.applicationId}:{sc.startTime}"
    return key


def _resolve(spark: SparkSession):
    """Find a working way to instantiate the jar's aggregators: (1) the py4j
    view (classes on the driver classpath via spark.jars), then (2) ADD JAR
    + the session's shared jar classloader via reflection.  Returns
    (mode, loader, aggregator Class) or None."""
    jvm = spark._jvm
    try:
        probe = jvm.hllsparkjvm.HllRegisterAggregator(14, 6)
        return ("direct", None, probe.getClass())
    except Exception:
        pass
    try:
        path = jar_path()
        spark.sql(f"ADD JAR '{path}'")
        loader = spark._jsparkSession.sharedState().jarClassLoader()
        # smoke one full instantiation so a broken path is never cached
        _reflect_new(spark, loader, _AGG_CLASS, [14, 6])
        return ("loader", loader, loader.loadClass(_AGG_CLASS))
    except Exception:
        return None


def _check_digest(jcls) -> None:
    """Raise when the loaded jar was built from other sources than this
    checkout's jvm/src (a stale jar would lack classes or differ in bytes)."""
    want = _driver_digest()
    if want is None:
        return
    stream = jcls.getResourceAsStream("/hllsparkjvm/source.sha256")
    got = None
    if stream is not None:
        try:
            got = bytes(stream.readAllBytes()).decode().strip()
        finally:
            stream.close()
    if got != want:
        where = jcls.getProtectionDomain().getCodeSource().getLocation().toString()
        raise RuntimeError(
            f"stale hllspark-udaf.jar at {where}: it was built from other jvm/src "
            f"sources than this driver's (jar digest {got}, sources {want}); "
            "rebuild it with `python tools/build_jar.py --force` and restart the session"
        )


def _reflect_new(spark: SparkSession, loader, cls_name: str, args: list):
    cls = loader.loadClass(cls_name)
    ctor = cls.getConstructors()[0]  # each aggregator class has exactly one
    jargs = spark.sparkContext._gateway.new_array(spark._jvm.java.lang.Object, len(args))
    for i, a in enumerate(args):
        jargs[i] = a
    return ctor.newInstance(jargs)


def _java_illegal_arg(exc, require_wrapped: bool) -> str | None:
    """If a py4j error carries a ctor-guard java.lang.IllegalArgumentException,
    return its message; else None.  Lets _new_jvm_obj tell a PARAMETER error
    (the Java ctor guards, e.g. CountMinAggregator's depth*width overflow
    check) apart from any other failure.

    ``require_wrapped`` (the reflection path): Constructor.newInstance throws
    a RAW IllegalArgumentException itself for wrong arity / argument types,
    while a guard thrown INSIDE the ctor arrives wrapped in
    InvocationTargetException.  Only the wrapped form is a user parameter
    error there.  On the direct py4j path a guard IAE arrives unwrapped
    (arity problems surface as py4j-side errors with no java_exception), so
    top-level counts."""
    try:
        je = getattr(exc, "java_exception", None)
        wrapped = False
        for _ in range(5):
            if je is None:
                return None
            name = je.getClass().getName()
            if name == "java.lang.IllegalArgumentException" and (wrapped or not require_wrapped):
                return je.getMessage()
            wrapped = wrapped or name == "java.lang.reflect.InvocationTargetException"
            je = je.getCause()
    except Exception:
        pass
    return None


def _new_jvm_obj(spark: SparkSession, cls_name: str, args: list):
    """Instantiate any class from the udaf jar via the cached working path.

    Raises RuntimeError when the jar isn't loadable in this session.  A
    constructor that rejected its arguments (IllegalArgumentException — the
    in-JVM parameter guards) re-raises as ValueError: a user's bad parameter
    must surface as the clear driver-side error the Java guard wrote, not
    as 'jar not loadable'."""
    if not available(spark):
        raise RuntimeError(_NO_JAR)
    mode, loader = _SESSION_CACHE[_app_key(spark)]
    try:
        if mode == "direct":
            cls = spark._jvm
            for part in cls_name.split("."):
                cls = getattr(cls, part)
            return cls(*args)
        return _reflect_new(spark, loader, cls_name, args)
    except Exception as exc:
        msg = _java_illegal_arg(exc, require_wrapped=(mode != "direct"))
        if msg is not None:
            raise ValueError(f"{cls_name.rsplit('.', 1)[-1]}: {msg}") from None
        raise


def available(spark: SparkSession) -> bool:
    """Can this session run the JVM aggregate engine?  Resolved, and the
    loaded jar's source digest checked, once per app; a jar built from other
    sources raises RuntimeError (rebuild with tools/build_jar.py --force).
    A session where nothing resolves is NOT negatively cached: the probe
    retries on the next call, so dropping a jar in (or installing a JDK)
    mid-application starts working without a SparkContext restart."""
    key = _app_key(spark)
    if key in _SESSION_CACHE:
        return True
    resolved = _resolve(spark)
    if resolved is None:
        return False
    mode, loader, jcls = resolved
    _check_digest(jcls)
    # only the CURRENT application's entry can be live — drop the rest so a
    # long-lived driver cycling many sessions doesn't leak py4j loader refs
    # for stopped SparkContexts
    _SESSION_CACHE.clear()
    _SESSION_CACHE[key] = (mode, loader)
    return True


def resolve_engine(spark: SparkSession, engine: str) -> str:
    """Validate ``engine`` and resolve "auto": jvm_udaf when the jar loads
    in this session, else python.  The python fallback is logged once per
    app on the ``hllspark`` logger."""
    if engine not in ENGINES:
        raise ValueError(f"unknown engine {engine!r}; expected one of {ENGINES}")
    if engine != "auto":
        return engine
    if available(spark):
        return "jvm_udaf"
    key = _app_key(spark)
    if key not in _FALLBACK_LOGGED:
        _FALLBACK_LOGGED.add(key)
        _log.warning("hllspark-udaf.jar is not loadable; engine='auto' runs the python engine")
    return "python"


def configure_builder(builder, extra_jars: Sequence[str] = ()):
    """Add the UDAF jar to a SparkSession.Builder (call before getOrCreate).

    The clean path: spark.jars puts the class on both the driver's py4j
    classloader and the executor classpath (in any deploy mode).  APPENDS to
    any spark.jars the builder already carries (e.g. Iceberg runtime jars)
    instead of replacing them."""
    existing = []
    try:
        opts = getattr(builder, "_options", {})
        prior = opts.get("spark.jars")
        if prior:
            existing = [j for j in str(prior).split(",") if j]
    except Exception:
        pass
    jars = existing + [jar_path(), *extra_jars]
    # de-dup, order-preserving
    seen: dict[str, None] = {}
    for j in jars:
        seen.setdefault(j, None)
    return builder.config("spark.jars", ",".join(seen))


# (app_key, ...) -> registered UserDefinedFunction (or HllPartialBuilder), or
# (app_key, "jvm", name) -> a held py4j handle (jvm_handle).
# The aggregator and builder objects are stateless (final parameter fields;
# buffers come from zero() per group) and the read UDFs hold no state at
# all, so one registration serves every
# query in the app — building one costs ~3-5 py4j round trips (~30-50 ms of
# driver plan-build per query otherwise, paid inside every timed rep).
# Same single-live-app eviction discipline as _SESSION_CACHE: a key miss
# after an app restart clears refs into the dead JVM.
_UDAF_COL_CACHE: dict[tuple, object] = {}


def _cached_udf(spark: SparkSession, key: tuple, make):
    key = (_app_key(spark), *key)
    judf = _UDAF_COL_CACHE.get(key)
    if judf is None:
        judf = make()
        if any(k[0] != key[0] for k in _UDAF_COL_CACHE):
            _UDAF_COL_CACHE.clear()  # single live app: drop dead-JVM refs
        _UDAF_COL_CACHE[key] = judf
    return judf


def hll_udaf_column(spark: SparkSession, hash_col: Column, b: int, binbits: int) -> Column:
    """Aggregate Column: canonical HLL sketch bytes over a 64-bit hash
    column (NULL hashes are ignored; an all-NULL group → SQL NULL)."""

    def make():
        jagg = _new_jvm_obj(spark, _AGG_CLASS, [b, binbits])
        jvm = spark._jvm
        return jvm.org.apache.spark.sql.functions.udaf(jagg, jvm.org.apache.spark.sql.Encoders.LONG())

    judf = _cached_udf(spark, ("hll", b, binbits), make)
    return _to_col(judf.apply(_col_seq(spark, [hash_col])))


def jvm_handle(spark: SparkSession, name: str):
    """The py4j handle of ``name`` — a JVM class, or a static method or field
    of one, e.g. ``"org.apache.hadoop.fs.Path"`` — held once per app.

    Each step of a ``spark._jvm.org.apache...`` walk is one reflection round
    trip, so a fresh walk to a Hadoop class costs about 2.4 ms; a call on the
    held handle costs one round trip (about 0.1 ms)."""

    def walk():
        h = spark._jvm
        for part in name.split("."):
            h = getattr(h, part)
        return h

    return _cached_udf(spark, ("jvm", name), walk)


# reader name -> (HllUdfs factory method, the Java UDF it wraps)
_READ_UDFS = {
    "hll_estimate": ("sketchEstimate", "HllSketchEstimateUdf"),
    "hll_union_estimate": ("unionEstimate", "HllSetOpUdfs.UnionEstimate"),
    "hll_intersection": ("intersectionEstimate", "HllSetOpUdfs.IntersectionEstimate"),
    "hll_compliment": ("complimentEstimate", "HllSetOpUdfs.ComplimentEstimate"),
    "hll_symmetric_diff": ("symmetricDiffEstimate", "HllSetOpUdfs.SymmetricDiffEstimate"),
    "tdigest_quantile": ("tdigestQuantile", "SketchReadUdfs.TDigestQuantile"),
    "tdigest_rank": ("tdigestRank", "SketchReadUdfs.TDigestRank"),
    "kll_quantile": ("kllQuantile", "SketchReadUdfs.KllQuantile"),
    "minhash_jaccard": ("minhashJaccard", "SketchReadUdfs.MinHashJaccard"),
    "cm_query": ("cmQuery", "SketchReadUdfs.CountMinQuery"),
    "bloom_contains": ("bloomContains", "SketchReadUdfs.BloomContains"),
}


def _read_udf(spark: SparkSession, name: str):
    """The JVM UserDefinedFunction of reader ``name``, bound once per app.
    Overload selection happens in Java (HllUdfs): py4j calling
    functions.udf(obj, dt) directly can bind the deprecated untyped-Scala
    overload, which Spark 4 rejects (UNTYPED_SCALA_UDF).

    Raises RuntimeError when the jar isn't loadable, naming the pandas
    reader."""
    method, klass = _READ_UDFS[name]
    if not available(spark):
        raise RuntimeError(
            f"hllspark-udaf.jar with {klass} not loadable in this session; "
            "create the session with hllspark.jvm_udaf.configure_builder "
            f"or use hllspark.functions.{name}, which runs its pandas twin without the jar"
        )
    return _cached_udf(
        spark, (method,), lambda: getattr(_new_jvm_obj(spark, "hllsparkjvm.HllUdfs", []), method)().withName(name)
    )


def _read_udf_apply(spark: SparkSession, name: str, cols) -> Column:
    return _to_col(_read_udf(spark, name).apply(_col_seq(spark, cols)))


def hll_estimate_col(spark: SparkSession, sketch_col: Column | str) -> Column:
    """Per-row in-JVM estimate of STORED canonical counters
    (HllSketchEstimateUdf): ``functions.hll_estimate``'s jar route, which
    documents the parity and NULL contracts.  Raises RuntimeError when the
    jar isn't loadable; ``functions.hll_estimate`` picks the route itself."""
    return _read_udf_apply(spark, "hll_estimate", [sketch_col])


def hll_union_estimate_col(spark: SparkSession, a: Column | str, b: Column | str) -> Column:
    """Per-row in-JVM est(A∪B) of two STORED counter columns
    (HllSetOpUdfs.UnionEstimate): ``functions.hll_union_estimate``'s jar
    route, which documents the parity and NULL contracts.  Raises
    RuntimeError when the jar isn't loadable."""
    return _read_udf_apply(spark, "hll_union_estimate", [a, b])


def cm_query_col(spark: SparkSession, df, sketch_col: Column | str, value_col: str) -> Column:
    """Per-row count-min frequency estimate of STORED sketches, entirely in
    the JVM — the probe value (a column NAME in ``df``, so its SQL type
    drives the same integral canonicalization as build time) is hashed with
    ``agg.jvm_hash_expr`` and looked up by the Java UDF
    (SketchReadUdfs.CountMinQuery; bit parity with functions.cm_query).

    Hash-domain contract: serves hash_kind=1 (xxhash64 / JVM-built)
    sketches ONLY — murmur-built sketches are refused loudly in the task,
    because an xxhash64 probe would silently miss their cells.
    ``functions.cm_query`` remains the universal reader (it re-hashes the
    probe in whatever domain the sketch header declares).  Raises
    RuntimeError when the jar isn't loadable."""
    from . import agg as _agg

    return _read_udf_apply(spark, "cm_query", [sketch_col, _agg.jvm_hash_expr(df, value_col)])


def bloom_contains_col(spark: SparkSession, df, sketch_col: Column | str, value_col: str) -> Column:
    """Per-row bloom membership probe of STORED sketches in the JVM
    (SketchReadUdfs.BloomContains) — same probe-hash and hash-domain
    contract as cm_query_col; bit parity with functions.bloom_contains."""
    from . import agg as _agg

    return _read_udf_apply(spark, "bloom_contains", [sketch_col, _agg.jvm_hash_expr(df, value_col)])


def _finalized(spark: SparkSession, blob: Column, finalize: str, est_col: str, sketch_col: str = "sketch") -> Column:
    """``blob``, a column whose value is the canonical sketch, as the
    ``sketch_col`` column (``finalize="sketch"``) or its in-JVM estimate
    ``est_col`` (NULL for an all-NULL group; estimate_bigint rounds
    half-even and coalesces NULL → 0, hyperloglog_get_estimate_bigint's
    contract).  ``blob`` may be the aggregate itself: the estimate then
    wraps it inside the one Aggregate node."""
    if finalize == "sketch":
        return blob.alias(sketch_col)
    if finalize not in ("estimate", "estimate_bigint"):
        raise ValueError(f"unknown finalize {finalize!r}")
    jcol = hll_estimate_col(spark, blob)
    if finalize == "estimate_bigint":
        from .functions import _round_bigint

        jcol = _round_bigint(jcol)
    return jcol.alias(est_col)


def _finish(
    spark: SparkSession, agged: DataFrame, keep: list, finalize: str, est_col: str, sketch_col: str = "sketch"
) -> DataFrame:
    """Select ``keep`` + the ``__blob`` aggregate of ``agged``, finalized.

    Only the grouping-sets build uses it, which selects its dims and
    grouping id ahead of the sketch; a plain grouped build finalizes inside
    its ``agg(...)`` (``_finalized``), because every extra select is one
    more Dataset for the JVM to analyze, 3-9 ms of driver time per call."""
    return agged.select(*keep, _finalized(spark, F.col("__blob"), finalize, est_col, sketch_col))


def sketch_jvm_udaf(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    b: int | None = None,
    binbits: int | None = None,
    error_rate: float | None = None,
    ndistinct: float | None = None,
    finalize: str = "sketch",
    est_col: str = "est",
) -> DataFrame:
    """HLL aggregation with the reduction in a single JVM aggregate buffer.

    Plan shape:  scan → project xxhash64 → ObjectHashAggregate(partial)
    → shuffle ONE buffer row per (partition, key) → final merge, whose
    output is the canonical sketch — or its in-JVM estimate for
    ``finalize="estimate"``/``"estimate_bigint"``.  No Python stage either
    way.  Byte-identical output to the python engine (tested).
    """
    from .agg import jvm_hash_expr
    from .functions import resolve_params

    b, binbits = resolve_params(b, binbits, error_rate, ndistinct)
    by = list(by or [])
    spark = df.sparkSession
    acol = hll_udaf_column(spark, jvm_hash_expr(df, value_col), b, binbits)
    gb = df.groupBy(*[F.col(c) for c in by]) if by else df.groupBy()
    return gb.agg(_finalized(spark, acol, finalize, est_col))


def hll_partials(df: DataFrame, n_keys: int, b: int, binbits: int, lineage: bool) -> DataFrame:
    """``agg.build_partials``'s jar route: one narrow JVM stage
    (HllPartialBuilder) folds each input partition of ``df`` — its first
    ``n_keys`` columns the group keys, the next the NULL-preserving xxhash64
    of the value — into one partial per (partition, key): ``by..., sketch``
    plus the lineage columns when ``lineage``.  No shuffle and no Python
    stage; the partials decode equal to the python builder's."""
    from pyspark.sql.classic.dataframe import DataFrame as _DataFrame

    spark = df.sparkSession
    builder = _cached_udf(
        spark, ("partials", n_keys, b, binbits, lineage),
        lambda: _new_jvm_obj(spark, "hllsparkjvm.HllPartialBuilder", [n_keys, b, binbits, lineage]),
    )
    return _DataFrame(builder.apply(df._jdf), spark)


def sketch_cube_jvm_udaf(
    df: DataFrame,
    value_col: str,
    dims: Sequence[str],
    sets: Sequence[Sequence[str]],
    b: int | None = None,
    binbits: int | None = None,
    error_rate: float | None = None,
    ndistinct: float | None = None,
    finalize: str = "sketch",
    est_col: str = "est",
    gid_col: str = "grouping_id",
) -> DataFrame:
    """Multi-granularity HLL rollup (GROUPING SETS / CUBE / ROLLUP) in ONE
    scan: Catalyst Expand replicates each input row once per grouping set
    BEFORE the partial aggregate, so map-side combine still collapses every
    (set, key) to one JVM buffer per task — the shuffle carries
    |sets| × |keys| buffer rows, not |sets| × |input rows|.

    The reference gets this for free from SQL composition (counters under
    any ``GROUP BY GROUPING SETS``, postgres.sql aggregate forms); here it
    is the DataFrame-level equivalent over the typed aggregator.  Output:
    dims (NULL where aggregated away) + ``gid_col`` (Spark grouping_id
    bit-per-dim, MSB = first dim, 1 = aggregated away — disambiguates a
    rolled-up NULL from an actual NULL key value) + sketch/estimate.

    Each cell's sketch is byte-identical to a separate
    ``agg.sketch(df, col, by=set)`` at that granularity (merge determinism:
    canonical state is a pure function of the value SET), so rollup tables
    built this way can be re-aggregated or read by every stored-blob path.
    ``finalize`` as in sketch_jvm_udaf (estimates stay fully in-JVM)."""
    from .agg import jvm_hash_expr
    from .functions import resolve_params

    b, binbits = resolve_params(b, binbits, error_rate, ndistinct)
    dims = list(dims)
    spark = df.sparkSession
    acol = hll_udaf_column(spark, jvm_hash_expr(df, value_col), b, binbits)
    gd = df.groupingSets([list(s) for s in sets], *dims)
    agged = gd.agg(acol.alias("__blob"), F.grouping_id().cast("long").alias(gid_col))
    return _finish(spark, agged, [*dims, gid_col], finalize, est_col)


# ---------------------------------------------------------------------------
# sibling aggregate buffers (same jar, same pattern — flat JVM buffer per
# group, finished to canonical sketch bytes in the JVM)
# ---------------------------------------------------------------------------


def _sibling_udaf_column(
    spark: SparkSession, in_col: Column, cls_name: str, args: list, encoder: str = "long"
) -> Column:
    def make():
        jagg = _new_jvm_obj(spark, cls_name, args)
        jvm = spark._jvm
        E = jvm.org.apache.spark.sql.Encoders
        jenc = {"long": E.LONG, "double": E.DOUBLE, "binary": E.BINARY}[encoder]()
        return jvm.org.apache.spark.sql.functions.udaf(jagg, jenc)

    judf = _cached_udf(spark, (cls_name, *args, encoder), make)
    return _to_col(judf.apply(_col_seq(spark, [in_col])))


class GroupingSets(NamedTuple):
    """Multi-granularity grouping spec accepted wherever the sibling udaf
    builders take ``by`` (router.build_cube constructs it): aggregate under
    ``df.groupingSets(sets, *dims)`` instead of a plain groupBy, emitting
    dims (NULL where aggregated away) + ``gid_col`` (Spark grouping_id,
    MSB = dims[0]) alongside the sketch.  Same single-scan Expand plan as
    agg.sketch_cube's udaf path."""

    dims: Sequence[str]
    sets: Sequence[Sequence[str]]
    gid_col: str = "grouping_id"


def _sibling_sketch(
    df: DataFrame,
    value_col: str,
    by,
    cls_name: str,
    args: list,
    in_col: Column | None = None,
    encoder: str = "long",
) -> DataFrame:
    """``by`` (or the GroupingSets dims + gid) + the aggregate as ``sketch``."""
    from .agg import jvm_hash_expr

    spark = df.sparkSession
    if in_col is None:
        in_col = jvm_hash_expr(df, value_col)
    acol = _sibling_udaf_column(spark, in_col, cls_name, args, encoder=encoder).alias("sketch")
    if isinstance(by, GroupingSets):
        gd = df.groupingSets([list(s) for s in by.sets], *by.dims)
        return gd.agg(F.grouping_id().cast("long").alias(by.gid_col), acol)
    by = list(by or [])
    gb = df.groupBy(*[F.col(c) for c in by]) if by else df.groupBy()
    return gb.agg(acol)


def countmin_jvm_udaf(
    df: DataFrame, value_col: str, by: Sequence[str] | None = None, width: int = 4096, depth: int = 5
) -> DataFrame:
    """Count-Min as a single JVM aggregate buffer (long[depth×width] per
    group, elementwise-add merge) — byte-identical sketches to the python
    engine (tested).  The buffer ships depth×width×8 bytes per
    (partition, key) regardless of occupancy."""
    from .sketches.countmin import CountMin

    CountMin.create(width=width, depth=depth)  # same validation as every sibling builder
    return _sibling_sketch(df, value_col, by, "hllsparkjvm.CountMinAggregator", [width, depth])


def bloom_jvm_udaf(
    df: DataFrame, value_col: str, by: Sequence[str] | None = None, m_bits: int = 1 << 20, k: int = 7
) -> DataFrame:
    """Bloom filter as a single JVM aggregate buffer (bit-packed
    byte[m/8] per group, OR merge) — byte-identical to the python engine
    (tested).  Same ships-full-buffer trade-off as countmin_jvm_udaf."""
    from .sketches.bloom import Bloom

    Bloom.create(m_bits=m_bits, k=k)  # same validation as every sibling builder
    if m_bits > (2**31 - 1) * 8:
        # a JVM byte[] caps the buffer at 2^31-1 bytes (~17 Gbit); the
        # numpy-backed builders have no such limit
        raise ValueError("m_bits too large for the JVM buffer engine; use engine='python'")
    return _sibling_sketch(df, value_col, by, "hllsparkjvm.BloomAggregator", [m_bits, k])


# ---------------------------------------------------------------------------
# round 4: MinHash + quantile (t-digest / KLL) aggregate buffers
# ---------------------------------------------------------------------------


def minhash_jvm_udaf(df: DataFrame, value_col: str, by: Sequence[str] | None = None, k: int = 128) -> DataFrame:
    """MinHash signature as a single JVM aggregate buffer (long[k] unsigned
    mins, elementwise-min merge — associative/commutative/idempotent, so the
    signature is a pure function of the value set like HLL's register max).
    Byte-identical sketches to the python engine with
    hash_kind=HASH_XXHASH_SPARK (tested): the aggregator replays Spark's own
    xxhash64(hash, lit(j)) slot chain in-JVM."""
    from .sketches.minhash import MinHash

    MinHash.create(k=k)  # same validation as every sibling builder
    return _sibling_sketch(df, value_col, by, "hllsparkjvm.MinHashAggregator", [k])


def _quantile_in_expr(df: DataFrame, value_col: str) -> Column:
    """cast-to-double with NaN→NULL (no quantile sketch ingests NaN; NULLs
    are skipped by the aggregator, and ±inf are left out of the sketch by
    its finish, so a group of only ±inf is an empty sketch, not NULL)."""
    v = F.col(value_col).cast("double")
    return F.when(F.isnan(v), F.lit(None)).otherwise(v)


def tdigest_jvm_udaf(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    delta: int = 100,
    exact_capacity: int = 8192,
) -> DataFrame:
    """t-digest as a JVM aggregate buffer with a TWO-MODE buffer (the
    quantile analogue of HLL's sparse→dense): an exact value→count map
    while a buffer holds ≤ exact_capacity distinct values, folded into
    bounded k1-scale centroids past it (TDigestAggregator.java).

    This is the scale path for CONTINUOUS columns: each buffer ships at
    most min(distinct, exact_capacity) map entries or ~δ/2 centroids.

    Determinism contract: while every buffer stays exact the sketch is one
    sorted weighted fold over the distinct values — a pure function of the
    value multiset, equal to the direct ``TDigest.update_weighted`` fold
    (tested).  Past exact_capacity the centroid layout
    depends on partition/merge order within the k1-scale rank-error bound
    (like every practical t-digest, incl. the python engine's
    partition-batching dependence), so bytes are not run-reproducible —
    set exact_capacity above the expected distinct count if you need the
    exact-mode contract.

    Memory: a buffer at the promotion point transiently holds
    ~32 B × exact_capacity (the map arrays); with very many simultaneous
    in-memory groups per task (high fallback threshold × high key
    cardinality) lower exact_capacity — the digest itself is only O(δ)."""
    from .sketches.tdigest import TDigest

    TDigest.create(delta=delta)  # same validation as every sibling builder
    if exact_capacity < 16:  # mirror the TDigestAggregator.java ctor guard
        raise ValueError("exact_capacity must be >= 16")
    return _sibling_sketch(
        df, value_col, by,
        "hllsparkjvm.TDigestAggregator", [delta, exact_capacity],
        in_col=_quantile_in_expr(df, value_col),
        encoder="double",
    )


def kll_jvm_udaf(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    k: int = 200,
    exact_capacity: int = 8192,
) -> DataFrame:
    """KLL as a JVM aggregate buffer — same two-mode design as
    tdigest_jvm_udaf (exact map ≤ exact_capacity distinct values → real
    KLL compactor levels past it, KllAggregator.java).  Exact mode is
    byte-identical to the direct ``KLL.update_weighted`` fold (tested);
    compactor mode is
    bounded at O(k) items per buffer with the ~1.33/k rank-error bound and
    the same order-dependence caveat as tdigest_jvm_udaf."""
    from .sketches.kll import KLL

    KLL.create(k=k)  # same validation as every sibling builder
    if exact_capacity < 16:  # mirror the KllAggregator.java ctor guard
        raise ValueError("exact_capacity must be >= 16")
    return _sibling_sketch(
        df, value_col, by,
        "hllsparkjvm.KllAggregator", [k, exact_capacity],
        in_col=_quantile_in_expr(df, value_col),
        encoder="double",
    )


# ---------------------------------------------------------------------------
# round 4: merge of STORED canonical sketch blobs as a JVM aggregate buffer
# ---------------------------------------------------------------------------


def hll_merge_udaf(
    df: DataFrame,
    sketch_col: str = "sketch",
    by: Sequence[str] | None = None,
    finalize: str = "sketch",
    est_col: str = "est",
) -> DataFrame:
    """The reference's ``sum(hyperloglog_estimator)`` / ``hyperloglog_merge``
    re-aggregation (README.md:135-166) with the whole reduction in a JVM
    aggregate buffer: every input row is a serialized counter (any v1/v2
    payload encoding — raw/group-varint sparse, raw/bit-packed/deflated
    dense), decoded and register-merged in place (HllMergeAggregator.java).
    Byte-identical results to agg.merge_partials (tested); the aggregator is
    parameterless — (b, binbits, hash_kind) are adopted from the first
    counter and mismatches refuse to merge, like the reference
    (hyperloglog.c:858-874) and the hash_kind contract.

    This is the scale path for stored-sketch rollup tables (per-domain /
    per-day counters re-aggregated with NO raw-data pass): one bounded
    buffer per output group and no Python stage: the output column (named
    ``sketch_col`` like the input) holds canonical counters.  NULL counters
    are skipped; a group of only NULLs yields a SQL NULL sketch
    (strict-aggregate contract)."""
    by = list(by or [])
    spark = df.sparkSession
    acol = _sibling_udaf_column(spark, F.col(sketch_col), "hllsparkjvm.HllMergeAggregator", [], encoder="binary")
    gb = df.groupBy(*[F.col(c) for c in by]) if by else df.groupBy()
    return gb.agg(_finalized(spark, acol, finalize, est_col, sketch_col))


_MERGE_CLASSES = {
    "countmin": "hllsparkjvm.CountMinBlobMergeAggregator",
    "bloom": "hllsparkjvm.BloomBlobMergeAggregator",
    "minhash": "hllsparkjvm.MinHashBlobMergeAggregator",
    "tdigest": "hllsparkjvm.TDigestBlobMergeAggregator",
    "kll": "hllsparkjvm.KllBlobMergeAggregator",
}


def sibling_merge_udaf(
    df: DataFrame,
    kind: str,
    sketch_col: str = "sketch",
    by: Sequence[str] | None = None,
) -> DataFrame:
    """Merge of STORED canonical sibling-sketch blobs as a JVM aggregate
    buffer — hll_merge_udaf's counterpart for count-min / Bloom / MinHash /
    t-digest / KLL rollup tables (jvm/src *BlobMergeAggregator classes).

    Each aggregator is parameterless (params + hash_kind adopt from the
    first counter; mismatches refuse to merge, replicating the python
    ``merge`` guards).  count-min (+), Bloom (|) and MinHash (unsigned min)
    merges are exact → byte-identical to ``agg.merge_partials(cls=...)``
    (tested); the quantile merges carry the usual merge-order dependence
    within their rank-error bounds (like python ``TDigest.merge`` /
    ``KLL.merge``).  NULL blobs are skipped; a group of only NULLs yields a
    SQL NULL sketch, while legitimate EMPTY stored sketches survive as
    empty sketches."""
    if kind not in _MERGE_CLASSES:
        raise ValueError(f"unknown sketch kind {kind!r}; expected one of {tuple(_MERGE_CLASSES)}")
    by = list(by or [])
    spark = df.sparkSession
    acol = _sibling_udaf_column(spark, F.col(sketch_col), _MERGE_CLASSES[kind], [], encoder="binary")
    gb = df.groupBy(*[F.col(c) for c in by]) if by else df.groupBy()
    return gb.agg(acol.alias(sketch_col))
