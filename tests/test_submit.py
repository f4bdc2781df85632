"""Packaging contract (north_rule: delivered as a spark-submit --py-files
package): the zip alone must supply the library to a driver launched from
OUTSIDE the repo tree."""

import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

JOB = """
from pyspark.sql import SparkSession
from hllspark import agg

spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
rows = agg.distinct(li, "l_orderkey", by=["l_returnflag"], bigint=True).collect()
print("SUBMIT_RESULT", sorted((r["l_returnflag"], r["est"]) for r in rows))
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files(tmp_path):
    subprocess.run([sys.executable, str(ROOT / "tools" / "make_pyfiles.py")], check=True, cwd=ROOT)
    job = tmp_path / "job.py"
    job.write_text(JOB)
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(ROOT / "dist" / "hllspark.zip"),
            str(job),
        ],
        cwd=tmp_path,  # NOT the repo root: only the zip can supply hllspark
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("SUBMIT_RESULT")]
    assert line and "('A', 1085)" in line[0] and "('N', 1117)" in line[0] and "('R', 1103)" in line[0], line


JAR_JOB = """
from pyspark.sql import SparkSession
from hllspark import agg
from hllspark.jvm_udaf import sketch_jvm_udaf, available

spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
assert available(spark), "udaf class not visible via --jars"
li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
u = sketch_jvm_udaf(li, "l_orderkey", ["l_returnflag"], finalize="estimate_bigint")
rows = sorted((r["l_returnflag"], r["est"]) for r in u.collect())
print("SUBMIT_RESULT", rows)
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
@pytest.mark.skipif(
    shutil.which("javac") is None and not (ROOT / "dist" / "hllspark-udaf.jar").exists(),
    reason="no JDK and no prebuilt udaf jar",
)
def test_spark_submit_with_udaf_jar(tmp_path):
    """--py-files zip + --jars udaf jar from OUTSIDE the repo tree: the
    engine=jvm_udaf class must resolve through the driver classpath (the
    tools/build_jar fallback is unreachable inside the zip — by design)."""
    subprocess.run([sys.executable, str(ROOT / "tools" / "make_pyfiles.py")], check=True, cwd=ROOT)
    if shutil.which("javac"):
        subprocess.run([sys.executable, str(ROOT / "tools" / "build_jar.py")], check=True, cwd=ROOT)
    # else: the prebuilt jar must carry the digest of these sources, or
    # jvm_udaf.available refuses it
    job = tmp_path / "job_jar.py"
    job.write_text(JAR_JOB)
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(ROOT / "dist" / "hllspark.zip"),
            "--jars", str(ROOT / "dist" / "hllspark-udaf.jar"),
            str(job),
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("SUBMIT_RESULT")]
    # same estimates as the python engine (byte-identical sketches)
    assert line and "('A', 1085)" in line[0] and "('N', 1117)" in line[0] and "('R', 1103)" in line[0], line


CLUSTER_JOB = """
import numpy as np
from pyspark.sql import SparkSession, functions as F

spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from hllspark import agg
from hllspark.jvm_udaf import (
    available, sketch_jvm_udaf, minhash_jvm_udaf, tdigest_jvm_udaf,
    kll_jvm_udaf, countmin_jvm_udaf, bloom_jvm_udaf, hll_merge_udaf,
)
from hllspark import sketches
from hllspark.sketches import KLL, TDigest

assert available(spark), "udaf classes not visible via --jars on the cluster"
df = spark.range(20_000).selectExpr("id % 4 as g", "cast(id % 3001 as int) as v").repartition(6)
num = spark.range(20_000).selectExpr("id % 4 as g", "cast(xxhash64(id) as double) as v").repartition(6)

def by_key(out):
    return {r["g"]: None if r["sketch"] is None else bytes(r["sketch"]) for r in out.collect()}

def py(kind, **params):
    return by_key(sketches.build(df, "v", kind, ["g"], engine="python", **params))

def fold(cls, **params):  # the quantile kinds' exact mode: one sorted weighted fold per group
    out = {}
    for g in range(4):
        vals, counts = np.unique([float(i % 3001) for i in range(g, 20_000, 4)], return_counts=True)
        st = cls.create(**params)
        st.update_weighted(vals, counts)
        out[g] = st.to_bytes()
    return out

# every aggregator crosses REAL executor JVM boundaries here (kryo buffer
# transport through the block manager, classes from --jars)
assert by_key(sketch_jvm_udaf(df, "v", ["g"])) == by_key(agg.sketch(df, "v", ["g"], engine="python", jvm_prehash=True))
assert by_key(minhash_jvm_udaf(df, "v", ["g"], k=16)) == py("minhash", k=16)
assert by_key(tdigest_jvm_udaf(df, "v", ["g"])) == fold(TDigest)
assert by_key(kll_jvm_udaf(df, "v", ["g"])) == fold(KLL)
assert by_key(countmin_jvm_udaf(df, "v", ["g"], width=128, depth=3)) == py("countmin", width=128, depth=3)
assert by_key(bloom_jvm_udaf(df, "v", ["g"], m_bits=1 << 12, k=4)) == py("bloom", m_bits=1 << 12, k=4)
# quantile digest mode (bounded buffers) across executors
td = TDigest.from_bytes(bytes(tdigest_jvm_udaf(num, "v", exact_capacity=500).first()["sketch"]))
assert abs(td.total - 20_000) < 1e-6
# stored-blob merge across executors
per = sketch_jvm_udaf(df, "v", ["g"])
m_u = bytes(hll_merge_udaf(per.select("sketch"), "sketch").first()["sketch"])
m_p = bytes(agg.merge_partials(per.select("sketch"), engine="python").first()["sketch"])
assert m_u == m_p
print("CLUSTER_PARITY_OK")
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
def test_local_cluster_all_aggregators_parity(tmp_path):
    """Every jar aggregator byte-parity checked across REAL executor JVMs
    (local-cluster mode): kryo buffer transport over the block manager,
    classes resolved from --jars, python package from --py-files — the full
    deployment seam, not just local[N] threads."""
    subprocess.run([sys.executable, str(ROOT / "tools" / "make_pyfiles.py")], check=True, cwd=ROOT)
    subprocess.run([sys.executable, str(ROOT / "tools" / "build_jar.py")], check=True, cwd=ROOT)
    job = tmp_path / "cluster_job.py"
    job.write_text(CLUSTER_JOB)
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local-cluster[2,2,1536]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.memory=2g",
            "--py-files", str(ROOT / "dist" / "hllspark.zip"),
            "--jars", str(ROOT / "dist" / "hllspark-udaf.jar"),
            str(job),
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "CLUSTER_PARITY_OK" in out.stdout
