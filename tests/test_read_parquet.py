"""io._read_parquet: every parquet read of the library takes its schema
from one footer on the driver, so it equals what Spark's schema-inference
job returns while no Spark job runs; whatever the footer cannot tell is
left to Spark, whose answer or error then stands."""

import ast
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from hllspark import agg, io
from hllspark.streaming import SketchStream


def _new_jobs(spark, call):
    """(result of ``call``, ids of the Spark jobs it submitted).  The status
    tracker is fed by the asynchronous listener bus, so it is drained before
    and after the call."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = call()
    bus.waitUntilEmpty()
    return out, set(sc.statusTracker().getJobIdsForGroup(None)) - before


def _events(spark, n=3000):
    return spark.range(n).select(
        (F.col("id") % 97).alias("domain"),
        (F.col("id") % 3).cast("string").alias("lang"),
        F.concat(F.lit("u"), (F.col("id") % 701).cast("string")).alias("url"),
    )


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """name -> (the library's read, the same paths through spark.read)."""
    root = tmp_path_factory.mktemp("layouts")
    ev = _events(spark)
    roll = str(root / "rollup")
    io.write_sketches(agg.sketch(ev, "url", by=["domain"]), roll)
    table = io.SketchTable(spark, str(root / "table"), format="parquet")
    table.write(agg.sketch(ev, "url", by=["lang", "domain"]), partition_by=["lang"])
    src = str(root / "input")
    ev.repartition(4).write.parquet(src)
    ck = io.CheckpointedSketch(spark, src, "url", by=["lang"], checkpoint_dir=str(root / "ck"), n_epochs=2)
    ck.run()
    ss = SketchStream(str(root / "stream"), "url", by=["lang"], compact_every=2)
    for i in range(3):  # compact v=1 + live delta v=2
        ss(ev.where(F.col("domain") % 3 == i), i)
    cv, deltas = ss._ids(spark)
    assert cv == 1 and deltas == [2]
    stream_paths = [ss._compact_dir(cv), ss._delta_dir(2)]
    parts = str(root / "ck" / "partials")
    return {
        "rollup": (lambda: io.read_sketches(spark, roll), lambda: spark.read.parquet(roll)),
        "partitioned_table": (table.read, lambda: spark.read.parquet(table.target)),
        "checkpoint_partials": (
            ck.partials,
            lambda: spark.read.option("basePath", parts).parquet(f"{parts}/epoch=*"),
        ),
        "stream_state": (
            lambda: io._read_parquet(spark, *stream_paths),
            lambda: spark.read.parquet(*stream_paths),
        ),
        "checkpoint_input": (lambda: io._read_parquet(spark, src), lambda: spark.read.parquet(src)),
    }


@pytest.mark.parametrize(
    "name", ["rollup", "partitioned_table", "checkpoint_partials", "stream_state", "checkpoint_input"]
)
def test_footer_schema_equals_inferred_schema_and_runs_no_job(spark, layouts, name):
    ours, spark_read = layouts[name]
    df, jobs = _new_jobs(spark, ours)
    assert jobs == set()
    ref, ref_jobs = _new_jobs(spark, spark_read)
    assert ref_jobs, "Spark's inference job went unseen: the job count proves nothing"
    assert df.schema == ref.schema  # fields, types, nullability and order
    assert sorted(df.collect()) == sorted(ref.collect())


def test_library_reads_run_no_job(spark, layouts, tmp_path):
    """The stream's state()/estimates() and the checkpoint's epoch listing
    plan with no job either."""
    ss = SketchStream(str(tmp_path / "s"), "url", by=["lang"], compact_every=2)
    ev = _events(spark)
    for i in range(3):
        ss(ev.where(F.col("domain") % 3 == i), i)
    for call in (lambda: ss.state(spark), lambda: ss.estimates(spark)):
        out, jobs = _new_jobs(spark, call)
        assert out is not None and jobs == set()
    ck = io.CheckpointedSketch(spark, str(tmp_path / "in"), "url", checkpoint_dir=str(tmp_path / "ck"))
    ev.repartition(3).write.parquet(ck.input_path)
    chunks, jobs = _new_jobs(spark, ck.epoch_files)
    assert len(sum(chunks, [])) == 3 and jobs == set()


def test_foreign_writer_gets_sparks_schema(spark, tmp_path):
    """A pyarrow-written file carries no Spark schema in its footer: the
    read is Spark's own, including its parquet-to-Spark type mapping."""
    path = tmp_path / "arrow"
    path.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int32()), "b": pa.array([b"x", None]), "s": ["a", "b"]}),
        str(path / "part-0.parquet"),
    )
    assert io._footer_schema(spark, [str(path)], None) is None
    df, ref = io._read_parquet(spark, str(path)), spark.read.parquet(str(path))
    assert df.schema == ref.schema and sorted(df.collect()) == sorted(ref.collect())


def test_data_column_repeating_a_partition_directory(spark, tmp_path):
    """Spark types such a column from the directory name and keeps its data
    position; a given schema cannot say that, so the read is Spark's."""
    for i in range(2):
        spark.range(3).select(
            F.col("id").alias("a"), F.lit(i).cast("long").alias("x"), F.lit("s").alias("s")
        ).write.parquet(str(tmp_path / "ov" / f"x={i}"))
    path = str(tmp_path / "ov")
    assert io._footer_schema(spark, [path], None) is None
    df, ref = io._read_parquet(spark, path), spark.read.parquet(path)
    assert df.schema == ref.schema and df.columns == ["a", "x", "s"]


def test_many_types_round_trip(spark, tmp_path):
    path = str(tmp_path / "types")
    spark.sql(
        "SELECT 1Y AS t, 2S AS sm, CAST(3.5 AS DECIMAL(12, 3)) AS dec, DATE'2024-01-02' AS d, "
        "TIMESTAMP'2024-01-02 03:04:05' AS ts, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS tsn, "
        "array(1.5D, NULL) AS arr, map('k', named_struct('x', 1L, 'y', X'00')) AS m, "
        "CAST('ab' AS VARCHAR(4)) AS vc"
    ).write.parquet(path)
    df, jobs = _new_jobs(spark, lambda: io._read_parquet(spark, path))
    ref = spark.read.parquet(path)
    assert jobs == set() and df.schema == ref.schema and df.collect() == ref.collect()


def test_missing_input_raises_sparks_error(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    for paths in ([str(empty)], [str(tmp_path / "nothing*")], [str(tmp_path / "absent")]):
        with pytest.raises(AnalysisException) as want:
            spark.read.parquet(*paths)
        with pytest.raises(type(want.value)) as got:
            io._read_parquet(spark, *paths)
        assert got.value.getCondition() == want.value.getCondition()


def _parquet_reads(tree) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``<...>.read<...>.parquet(...)``
    call in ``tree``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "parquet":
            recv = node.func.value
            while isinstance(recv, (ast.Attribute, ast.Call)):
                if isinstance(recv, ast.Attribute) and recv.attr == "read":
                    found.append((func, node.lineno))
                    break
                recv = recv.value if isinstance(recv, ast.Attribute) else recv.func
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_no_parquet_read_outside_read_parquet():
    """A new ``spark.read.parquet`` call site in the library would bring the
    schema-inference job back: every read goes through io._read_parquet."""
    pkg = Path(__file__).resolve().parents[1] / "hllspark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg.parent).as_posix()
        for func, line in _parquet_reads(ast.parse(path.read_text(), rel)):
            if (rel, func) != ("hllspark/io.py", "_read_parquet"):
                offenders.append(f"{rel}:{line}")
    assert offenders == []
    # the guard itself sees the forms it forbids
    probe = ast.parse("def f(s):\n    s.read.parquet(p)\n    s.read.option('a', 1).schema(x).parquet(p)\n")
    assert [line for _, line in _parquet_reads(probe)] == [2, 3]
