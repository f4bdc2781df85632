"""Driver-side plan building of the hot library entry points: a budget of
py4j gateway commands per call, and parity of the fast paths that keep the
counts down (the cached-schema dtype read and the one-glob version listing).

Every command is one driver↔JVM round trip; walking ``spark._jvm.a.b.C`` is
one per package step, and every extra Dataset is a JVM analysis.  The
budgets are the counts of the current code with a little headroom, so a
change that brings back a per-call class walk, a throwaway schema read, a
second Dataset or a per-version listing fails here."""

import glob
import os

import pytest
from py4j import protocol as proto
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from hllspark import agg, io, jvm_udaf
from hllspark.streaming import SketchStream

# entry point → most gateway commands one construction may send
BUDGETS = {
    "build_partials": 92,
    "read_sketches": 45,
    "distinct_global": 100,
    "distinct_by": 115,
    "merge_partials": 62,
    "ids_1": 15,
}
IDS_PER_DELTA = 3  # what _ids may grow by per further live delta


@pytest.fixture(scope="module")
def udaf(spark):
    if not jvm_udaf.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


def _commands(fn) -> int:
    """Gateway commands sent while ``fn`` runs; ``fn`` runs once before, so
    the per-app caches (class handles, registered aggregators) are warm.
    The release of a collected proxy (py4j's memory-delete command) is left
    out: when Python's garbage collector runs decides when it is sent."""
    fn()
    sent = []
    real = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME):
            sent.append(command)
        return real(self, command)

    ClientServerConnection.send_command = counting
    try:
        fn()
    finally:
        ClientServerConnection.send_command = real
    return len(sent)


@pytest.fixture(scope="module")
def batch(udaf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cost") / "batch")
    udaf.range(0, 4000, numPartitions=1).select(
        F.concat(F.lit("u"), (F.col("id") % 1500).cast("string")).alias("url"),
        F.concat(F.lit("l"), (F.col("id") % 7).cast("string")).alias("lang"),
    ).write.parquet(path)
    return udaf.read.parquet(path)


def test_construction_budgets(udaf, batch, tmp_path):
    spark = udaf
    roll = str(tmp_path / "roll")
    io.write_sketches(agg.sketch(batch, "url", by=["lang"]).coalesce(1), roll)
    # hidden files listed ahead of the data file cost 4 commands each, in the
    # file system's order: keep only the data file so the count is fixed
    for f in glob.glob(f"{roll}/_*") + glob.glob(f"{roll}/.*"):
        os.remove(f)
    stored = io.read_sketches(spark, roll)
    counts = {
        "build_partials": _commands(lambda: agg.build_partials(batch, "url", ["lang"], lineage=False, jvm_prehash=True)),
        "read_sketches": _commands(lambda: io.read_sketches(spark, roll)),
        "distinct_global": _commands(lambda: agg.distinct(batch, "url")),
        "distinct_by": _commands(lambda: agg.distinct(batch, "url", ["lang"])),
        "merge_partials": _commands(lambda: agg.merge_partials(stored, ["lang"])),
    }
    one = SketchStream(str(tmp_path / "one"), "url", by=["lang"], compact_every=100)
    seven = SketchStream(str(tmp_path / "seven"), "url", by=["lang"], compact_every=100)
    one(batch, 0)
    for i in range(7):
        seven(batch, i)
    assert one._ids(spark) == (-1, [0]) and seven._ids(spark) == (-1, list(range(7)))
    counts["ids_1"] = _commands(lambda: one._ids(spark))
    ids_7 = _commands(lambda: seven._ids(spark))
    over = {k: (n, BUDGETS[k]) for k, n in counts.items() if n > BUDGETS[k]}
    assert not over, f"(commands, budget) over budget: {over}; all counts: {counts}"
    assert ids_7 <= counts["ids_1"] + 6 * IDS_PER_DELTA, (ids_7, counts["ids_1"])


# -- agg._sql_dtype: the cached-schema read against the select path ----------


def _select_dtype(df, name):
    return df.select(name).schema[0].dataType.simpleString()


def _outcome(fn, *args):
    try:
        return "ok", fn(*args)
    except AnalysisException as e:
        return "error", e.getCondition()


def test_sql_dtype_matches_select(spark):
    df = spark.createDataFrame(
        [(1, "a", (2.0, "x"))], "Url int, s_name string, s struct<f: double, g: string>"
    )
    for name in ["Url", "url", "URL", "s", "s.f", "S.g", "`s`.f", "s_name", "missing", "s.missing"]:
        want = _outcome(_select_dtype, df, name)
        assert _outcome(agg._sql_dtype, df, name) == want, name
    assert agg._sql_dtype(df, "url") == "int" and agg._sql_dtype(df, "s.f") == "double"
    # a name two fields share: Spark's ambiguity error, from the select path
    dup = spark.createDataFrame([(1, "a")], "v int, w string").select("v", F.col("w").alias("v"))
    got, want = _outcome(agg._sql_dtype, dup, "v"), _outcome(_select_dtype, dup, "v")
    assert got == want and got[0] == "error", got
    # fields equal up to case: ambiguous when Spark resolves case-insensitively
    cased = spark.createDataFrame([(1, "a")], "v int, V string")
    assert _outcome(agg._sql_dtype, cased, "v") == _outcome(_select_dtype, cased, "v")


# -- SketchStream._versions: one glob of committed versions --------------------


def test_versions_lists_committed_only(spark, tmp_path):
    for state in ("plain", "glob[1]{a,b}*"):
        root = tmp_path / state
        ss = SketchStream(str(root), "v", by=["k"])
        assert ss._versions(spark, "delta") == []  # no state_dir at all
        for v in (0, 2, 10):
            (root / "delta" / f"v={v}").mkdir(parents=True)
            (root / "delta" / f"v={v}" / "_SUCCESS").touch()
        (root / "delta" / "v=5").mkdir()  # half-written: no marker yet
        (root / "delta" / "v=5" / "part-0.parquet").touch()
        for other in ("_temporary", "x=3", "v=abc", ".v=7"):
            (root / "delta" / other).mkdir()
            (root / "delta" / other / "_SUCCESS").touch()
        (root / "delta" / "v=11").touch()  # a file, not a version directory
        assert ss._versions(spark, "delta") == [0, 2, 10], state
        assert ss._versions(spark, "compact") == [], state
