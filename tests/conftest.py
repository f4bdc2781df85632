import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("hllspark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_small_dir():
    """Gitignored pages fixture, generated on first use (marker-cached) so a
    fresh checkout doesn't fail with AnalysisException on a missing path.
    Rooted at THIS checkout (not a hardcoded /root/repo) so worktrees and
    relocated clones generate their own fixture."""
    from pathlib import Path

    from hllspark.pipeline.pages import ensure_small

    repo_root = os.environ.get("SPARK_GRAFT_REPO_ROOT", str(Path(__file__).resolve().parents[1]))
    return str(ensure_small(repo_root))


@pytest.fixture(scope="session")
def sf001_dir():
    return os.environ.get("SPARK_GRAFT_SF001", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    return os.environ.get("SPARK_GRAFT_SF01", "/root/testdata/sf0.01")


def _quantile_ref(df, value_col, by, kind, **params):
    """{key tuple: canonical bytes} of the direct python build of a quantile
    sketch: one sorted weighted fold over each group's distinct non-NULL,
    non-NaN values (None for a group with none) — what the jar's exact mode
    must reproduce byte-for-byte."""
    import numpy as np
    from pyspark.sql import functions as F

    from hllspark.sketches.kll import KLL
    from hllspark.sketches.tdigest import TDigest

    by = list(by)
    groups: dict = {}
    for r in df.select(*by, F.col(value_col).cast("double").alias("__v")).collect():
        groups.setdefault(tuple(r[c] for c in by), []).append(r["__v"])
    out = {}
    for key, vs in groups.items():
        v = np.array([x for x in vs if x is not None and x == x], dtype=np.float64)
        if not len(v):
            out[key] = None
            continue
        vals, counts = np.unique(v, return_counts=True)
        if kind == "tdigest":
            st = TDigest.create(**params)
            st.update_weighted(vals, counts.astype(np.float64))
        else:
            st = KLL.create(**params)
            st.update_weighted(vals, counts)
        out[key] = st.to_bytes()
    return out


@pytest.fixture(scope="session")
def quantile_ref():
    return _quantile_ref
