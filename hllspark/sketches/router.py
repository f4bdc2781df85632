"""engine="auto" routing for the sibling sketches — the same two-engine
surface agg.sketch gives HLL, for count-min / Bloom / MinHash / t-digest /
KLL:

- ``jvm_udaf``: typed aggregate buffer in dist/hllspark-udaf.jar (chosen by
  auto when the jar loads — flat buffer per group, finished to canonical
  bytes in the JVM with no Python stage; the only engine whose per-key
  cost doesn't grow with group cardinality, and for the quantile sketches
  the one bounded on continuous columns);
- ``python``: agg.sketch_generic with jvm_prehash=True — per-partition
  Arrow builds, never shuffles raw values.  Theta sketches run here only.

The hash kinds (count-min, Bloom, MinHash) are byte-identical across the
two engines for the same params (tests/test_sketch_router.py,
tests/test_jvm_udaf.py).  The quantile kinds build per partition on the
python engine, so their centroids depend on partitioning there; the jar's
exact mode is a pure function of the value multiset below
``exact_capacity`` distinct values per buffer.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

_KINDS = ("countmin", "bloom", "minhash", "tdigest", "kll", "theta")


def _engine(df: DataFrame, kind: str, engine: str) -> str:
    """Validated, resolved engine for ``kind``.  Theta has no aggregate
    buffer in the jar, so it runs on the python engine only."""
    from ..jvm_udaf import resolve_engine

    if kind != "theta":
        return resolve_engine(df.sparkSession, engine)
    if engine not in ("auto", "python"):
        raise ValueError(
            f"theta sketches run on the python engine only, not {engine!r}: the "
            "two-phase partial pipeline keeps per-partition state <= k"
        )
    return "python"


def _udaf_builder(kind: str):
    from .. import jvm_udaf

    return {
        "countmin": jvm_udaf.countmin_jvm_udaf,
        "bloom": jvm_udaf.bloom_jvm_udaf,
        "minhash": jvm_udaf.minhash_jvm_udaf,
        "tdigest": jvm_udaf.tdigest_jvm_udaf,
        "kll": jvm_udaf.kll_jvm_udaf,
    }[kind]


def build(
    df: DataFrame,
    value_col: str,
    kind: str,
    by: Sequence[str] | None = None,
    engine: str = "auto",
    **params,
) -> DataFrame:
    """DataFrame[by..., sketch] of ``kind`` sketches via the chosen engine.

    ``params`` are the kind's create() parameters (countmin: width/depth;
    bloom: m_bits/k; minhash: k; tdigest: delta [+ exact_capacity on the
    udaf engine]; kll: k [+ exact_capacity]; theta: k — python engine only).
    """
    if kind not in _KINDS:
        raise ValueError(f"unknown sketch kind {kind!r}; expected one of {_KINDS}")
    if _engine(df, kind, engine) == "jvm_udaf":
        return _udaf_builder(kind)(df, value_col, by=by, **params)
    from ..agg import sketch_generic
    from ..core.hll import HASH_XXHASH_SPARK
    from . import KLL, Bloom, CountMin, MinHash, TDigest, Theta

    params.pop("exact_capacity", None)  # udaf-engine-only knob
    cls = {"countmin": CountMin, "bloom": Bloom, "minhash": MinHash,
           "tdigest": TDigest, "kll": KLL, "theta": Theta}[kind]
    if kind in ("tdigest", "kll"):
        # quantile sketches ingest VALUES, not hashes — no prehash
        factory = lambda: cls.create(**params)  # noqa: E731
        return sketch_generic(df, value_col, factory, cls, by=by)
    factory = lambda: cls.create(**params, hash_kind=HASH_XXHASH_SPARK)  # noqa: E731
    return sketch_generic(df, value_col, factory, cls, by=by, jvm_prehash=True)


def build_cube(
    df: DataFrame,
    value_col: str,
    kind: str,
    dims: Sequence[str],
    sets: Sequence[Sequence[str]] | None = None,
    mode: str = "cube",
    engine: str = "auto",
    gid_col: str = "grouping_id",
    **params,
) -> DataFrame:
    """Multi-granularity sibling-sketch rollup — agg.sketch_cube for the
    sibling kinds: DataFrame[dims..., grouping_id, sketch] with one cell
    per (grouping set, key).  Same semantics as sketch_cube (grouping_id
    MSB = dims[0]; rolled-up dims NULL; full cube guarded at 8 dims —
    pass sets= at scale).

    Engines route like build(), and every path is ONE scan of the source:
    jvm_udaf via Catalyst Expand before map-side combine
    (jvm_udaf.GroupingSets); python (theta included) via the explode-based
    Expand (agg._expand_grouping_sets) feeding one grouped build over
    dims+grouping_id.  Cells are byte-identical to a per-set
    ``build(df, col, kind, by=set)`` on the same engine — for the quantile
    kinds on the jar engine only below exact_capacity distinct values per
    buffer (the usual two-mode caveat)."""
    from ..agg import _expand_grouping_sets, _resolve_grouping_sets

    if kind not in _KINDS:
        raise ValueError(f"unknown sketch kind {kind!r}; expected one of {_KINDS}")
    dims, resolved = _resolve_grouping_sets(dims, sets, mode)
    if value_col in dims:
        # duplicate column in the Expand projection → confusing downstream
        # ambiguous-reference analysis error; refuse up front
        raise ValueError(f"value_col {value_col!r} cannot also be a dim column")
    engine = _engine(df, kind, engine)
    if engine == "jvm_udaf":
        from ..jvm_udaf import GroupingSets

        return _udaf_builder(kind)(df, value_col, by=GroupingSets(dims, resolved, gid_col), **params)
    expanded = _expand_grouping_sets(
        df.select(value_col, *dims), [value_col], dims, resolved, gid_col
    )
    return build(expanded, value_col, kind, by=[*dims, gid_col], engine=engine, **params)


def merge_stored(
    df: DataFrame,
    kind: str,
    sketch_col: str = "sketch",
    by: Sequence[str] | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Re-aggregate a STORED sketch rollup table (the reference's
    sum(counter) workflow) for any kind incl. "hll" — engine="auto" routes
    through the JVM blob-merge aggregate buffers when the jar loads, else
    the generic pandas merge (agg.merge_partials with the kind's class).
    Exact-merge kinds (hll, countmin, bloom, minhash) are byte-identical
    across engines (tested); quantile merges are order-dependent within
    their rank bounds on either engine."""
    kinds = ("hll",) + _KINDS
    if kind not in kinds:
        raise ValueError(f"unknown sketch kind {kind!r}; expected one of {kinds}")
    if _engine(df, kind, engine) == "jvm_udaf":
        from .. import jvm_udaf

        if kind == "hll":
            return jvm_udaf.hll_merge_udaf(df, sketch_col, by)
        return jvm_udaf.sibling_merge_udaf(df, kind, sketch_col, by)
    from ..agg import merge_partials
    from ..core.hll import HLL
    from . import KLL, Bloom, CountMin, MinHash, TDigest, Theta

    cls = {"hll": HLL, "countmin": CountMin, "bloom": Bloom,
           "minhash": MinHash, "tdigest": TDigest, "kll": KLL, "theta": Theta}[kind]
    return merge_partials(df, by, sketch_col=sketch_col, cls=cls, engine="python")


def merge_stored_cube(
    df: DataFrame,
    kind: str,
    dims: Sequence[str],
    sets: Sequence[Sequence[str]] | None = None,
    mode: str = "cube",
    sketch_col: str = "sketch",
    engine: str = "auto",
    gid_col: str = "grouping_id",
) -> DataFrame:
    """Derive every coarser granularity of a sketch cube by MERGING the
    FINEST-granularity STORED sketches — no pass over the fact table at all.
    ``df`` must hold one sketch per full ``dims`` key (the output of
    ``build(facts, col, kind, by=dims)`` / ``agg.sketch(...)``, or a cube's
    gid=0 cells); each requested grouping set's cells are the merge of the
    finest cells sharing the kept dims.

    This is THE rollup path at scale: the fact scan happens once (when the
    finest table is built) and every further granularity costs |keys|
    sketch merges instead of |rows| updates — the reference's
    ``sum(counter) ... GROUP BY`` workflow generalized to GROUPING SETS.
    Same single-scan shape as the cube builders (explode-based Expand over
    the sketch table, then one merge_stored over dims+grouping_id), routed
    through the in-JVM blob-merge aggregators when the jar loads.

    Parity: for the merge-exact kinds (hll, countmin, bloom, minhash,
    theta) merge determinism makes each derived cell BYTE-IDENTICAL to
    building that granularity directly from the facts.  The quantile kinds
    are the exception: the CANONICAL tdigest/kll format is centroids /
    compactor levels (no exact-mode wire form), so a rolled-up cell merges
    centroid lists and is RANK-BOUNDED equivalent to the direct build, not
    byte-identical.  NULL cells (all-NULL value groups) merge like any stored
    NULL sketch: they vanish into non-NULL siblings and propagate NULL
    only where every contributing cell is NULL."""
    from ..agg import _expand_grouping_sets, _resolve_grouping_sets

    dims, resolved = _resolve_grouping_sets(dims, sets, mode)
    if sketch_col in dims:
        raise ValueError(f"sketch_col {sketch_col!r} cannot also be a dim column")
    missing = [d for d in dims if d not in df.columns]
    if missing:
        raise ValueError(f"stored table lacks dim columns {missing}")
    if sketch_col not in df.columns:
        raise ValueError(f"stored table lacks sketch column {sketch_col!r}")
    expanded = _expand_grouping_sets(
        df.select(sketch_col, *dims), [sketch_col], dims, resolved, gid_col
    )
    return merge_stored(
        expanded, kind, sketch_col=sketch_col, by=[*dims, gid_col], engine=engine
    )
