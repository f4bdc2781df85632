"""Sketch-table persistence and checkpoint-resumable aggregation.

The stored-counter workflow of the reference (persist counters per group,
re-aggregate later with merge/sum — README.md:135-166, test/sql/
gp_persistence.sql:3-12) generalizes on Spark to *checkpointed epochs*
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"):

  input files → epochs (deterministic file chunks)
  per epoch:   phase-1 partial sketches + lineage written to
               <checkpoint>/partials/epoch=N (atomic via _SUCCESS)
  finalize:    read ALL epoch partials → phase-2 merge → final sketches

Resume = re-run the same call: epochs whose _SUCCESS marker exists are
skipped.  Correctness under retry/duplication is free because register-max
merge is idempotent (re-merging the same partial is a no-op).

Every parquet read of the library (``read_sketches``, ``SketchTable.read``,
the checkpoint's input listing, epochs and partials, and ``SketchStream``'s
state) goes through ``_read_parquet``: the schema comes from one footer read
on the driver, the Spark schema JSON Spark writes into every file it writes,
so opening a sketch table submits no Spark job.  Without a schema Spark runs
a schema-inference job per read: about 0.1 s at local[4] on a 4-core VM,
a third of a stored-sketch dashboard query there.
"""

from __future__ import annotations

import json
from typing import Sequence
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import agg
from .functions import DEFAULT_B, DEFAULT_BINBITS
from .jvm_udaf import jvm_handle


def write_sketches(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a sketch DataFrame (BinaryType round-trips natively in parquet)."""
    df.write.mode(mode).parquet(path)


def read_sketches(spark: SparkSession, path: str) -> DataFrame:
    return _read_parquet(spark, path)


# the key under which Spark's parquet writer stores the written schema as JSON
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """Spark's rule for the files and directories a file scan skips
    (HadoopFSUtils.shouldFilterOutPathName; the summary files it keeps are
    no data files either)."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")


def _first_data_file(fs, statuses):
    """Depth-first, in listing order: the first file under ``statuses`` a
    scan would read, or None."""
    for st in statuses:
        path = st.getPath()
        if _hidden(path.getName()):
            continue
        if not st.isDirectory():
            return path
        found = _first_data_file(fs, fs.listStatus(path))
        if found is not None:
            return found
    return None


def _footer_schema(spark: SparkSession, paths: Sequence[str], base_path: str | None) -> StructType | None:
    """The schema Spark's inference job would return for ``paths``, read
    from one data file's footer on the driver; None when it cannot be told
    that way.

    Spark's inference without ``mergeSchema`` reads one footer too and, like
    it, this assumes every file of the relation shares one schema.  None —
    the read is then left to Spark — when no data file exists, the footer
    carries no Spark schema (a foreign writer), the file is no parquet, or a
    data column repeats a partition directory's name: Spark then puts the
    column at its data position with the directory's inferred type, which a
    given schema cannot express."""
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        fs, hpath, Path = _hadoop_fs(spark, p)
        for root in fs.globStatus(hpath) or []:
            found = _first_data_file(fs, [root])
            if found is None:
                continue
            try:
                footer = jvm_handle(spark, "org.apache.parquet.hadoop.ParquetFileReader.readFooter")(
                    conf, found,
                    jvm_handle(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS"),
                )
                raw = footer.getFileMetaData().getKeyValueMetaData().get(_SPARK_SCHEMA_KEY)
                schema = None if raw is None else StructType.fromJson(json.loads(raw))
            except (Py4JJavaError, ValueError):
                return None
            # partition directories between the scan's base and the file
            base = fs.makeQualified(Path(base_path)) if base_path else root.getPath()
            base, parent = str(base.toString()).rstrip("/") + "/", str(found.getParent().toString()) + "/"
            if schema is None or not parent.startswith(base):
                return None
            parts = {unquote(seg.split("=", 1)[0]).lower() for seg in parent[len(base):].split("/") if "=" in seg}
            if any(f.name.lower() in parts for f in schema.fields):
                return None
            return schema
    return None


def _read_parquet(spark: SparkSession, *paths: str, base_path: str | None = None) -> DataFrame:
    """``spark.read.parquet(*paths)`` (with the ``basePath`` option when
    given) without Spark's schema-inference job: the schema comes from
    ``_footer_schema``.  When it cannot, this is the plain read, so the
    answer or the error is Spark's own."""
    reader = spark.read if base_path is None else spark.read.option("basePath", base_path)
    schema = _footer_schema(spark, paths, base_path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff Iceberg classes are on the session's JVM classpath."""
    try:
        jvm_handle(spark, "java.lang.Class.forName")("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


class SketchTable:
    """Catalog table of sketches/rollups with graceful degradation:
    Iceberg when its runtime is on the classpath (manifest-level partition
    pruning, snapshot time travel, schema/partition evolution — what a
    100 TB deployment wants), else hive-style partitioned parquet, which
    preserves the two properties the query plans here rely on:

    - partition pruning: a filter on a partition column prunes directories
      before the scan (asserted via the physical plan in tests);
    - column pruning / filter pushdown on the non-partition columns.

    ``name_or_path``: a catalog table name for Iceberg, a directory path
    for parquet.  The API is intentionally the small shared subset.
    """

    def __init__(self, spark: SparkSession, name_or_path: str, format: str = "auto"):
        self.spark = spark
        self.target = name_or_path
        if format == "auto":
            format = "iceberg" if iceberg_available(spark) else "parquet"
        if format not in ("iceberg", "parquet"):
            raise ValueError(f"unknown format {format!r}")
        self.format = format

    def write(self, df: DataFrame, partition_by: Sequence[str] = (), mode: str = "overwrite") -> None:
        partition_by = list(partition_by)
        if self.format == "iceberg":
            w = df.writeTo(self.target).using("iceberg")
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append()
            return
        df.write.mode(mode).partitionBy(*partition_by).parquet(self.target)

    def read(self) -> DataFrame:
        if self.format == "iceberg":
            return self.spark.read.table(self.target)
        return _read_parquet(self.spark, self.target)

    def scan_is_pruned(self, df: DataFrame, partition_col: str) -> bool:
        """True iff the physical plan prunes by ``partition_col`` before the
        scan (PartitionFilters for parquet; Iceberg encodes pruning in its
        scan's filter expression)."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        if self.format == "iceberg":
            return partition_col in plan and "BatchScan" in plan
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        return bool(m and partition_col in m.group(1))


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of ``path``, its ``Path``, the held ``Path`` class
    for further paths on it)."""
    Path = jvm_handle(spark, "org.apache.hadoop.fs.Path")
    hpath = Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, Path


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _read_text(spark: SparkSession, path: str) -> str | None:
    fs, hpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return str(jvm_handle(spark, "org.apache.commons.io.IOUtils.toString")(stream, "UTF-8"))
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath, _ = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


class CheckpointedSketch:
    """Checkpoint-resumable distinct-count aggregation over a parquet table.

    >>> ck = CheckpointedSketch(spark, "/data/pages", "url", by=["lang"],
    ...                         checkpoint_dir="/ckpt/pages_url", n_epochs=8)
    >>> ck.run()          # processes missing epochs, then merges
    >>> ck.lineage()      # per (epoch, partition) rows_seen / wall_ms / ...
    """

    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        value_col: str,
        by: Sequence[str] | None = None,
        checkpoint_dir: str = "",
        n_epochs: int = 8,
        b: int = DEFAULT_B,
        binbits: int = DEFAULT_BINBITS,
        input_type: str = "auto",
    ):
        if not checkpoint_dir:
            raise ValueError("checkpoint_dir is required")
        self.spark = spark
        self.input_path = input_path
        self.value_col = value_col
        self.by = list(by or [])
        self.checkpoint_dir = checkpoint_dir.rstrip("/")
        self.n_epochs = n_epochs
        self.b = b
        self.binbits = binbits
        self.input_type = input_type

    # -- epoch planning ------------------------------------------------------

    def epoch_files(self) -> list[list[str]]:
        """Epoch → file chunks, pinned by a persisted manifest.

        The chunking is striped over the CURRENT file listing only on first
        run; after that the manifest is authoritative.  Without it, files
        added (or removed) between runs would re-stripe into epochs already
        marked done and silently never be processed — resume must fail
        loudly on input drift instead (delete the checkpoint dir, or point
        at a fresh one, to re-plan)."""
        files = sorted(_read_parquet(self.spark, self.input_path).inputFiles())
        if not files:
            raise ValueError(f"no input files under {self.input_path}")
        manifest_path = f"{self.checkpoint_dir}/manifest.json"
        raw = _read_text(self.spark, manifest_path)
        if raw is not None:
            man = json.loads(raw)
            if man["files"] != files:
                added = sorted(set(files) - set(man["files"]))
                removed = sorted(set(man["files"]) - set(files))
                raise ValueError(
                    f"input file set under {self.input_path} changed since this "
                    f"checkpoint was planned ({len(added)} added, {len(removed)} "
                    f"removed): epochs marked done would no longer cover their "
                    f"original chunks. Use a fresh checkpoint_dir (or delete "
                    f"{manifest_path} AND the partials) to re-plan."
                )
            return man["chunks"]
        n = min(self.n_epochs, len(files))
        chunks = [files[i::n] for i in range(n)]
        _write_text(self.spark, manifest_path, json.dumps({"files": files, "chunks": chunks}))
        return chunks

    def _epoch_dir(self, i: int) -> str:
        return f"{self.checkpoint_dir}/partials/epoch={i}"

    def epoch_done(self, i: int) -> bool:
        return _exists(self.spark, f"{self._epoch_dir(i)}/_SUCCESS")

    def status(self) -> dict:
        chunks = self.epoch_files()
        done = [i for i in range(len(chunks)) if self.epoch_done(i)]
        return {"n_epochs": len(chunks), "done": done, "pending": [i for i in range(len(chunks)) if i not in done]}

    # -- execution -----------------------------------------------------------

    def process_pending(self, limit: int | None = None) -> list[int]:
        """Run phase 1 for up to ``limit`` pending epochs; returns epoch ids run."""
        chunks = self.epoch_files()
        ran = []
        for i, files in enumerate(chunks):
            if self.epoch_done(i):
                continue
            df = _read_parquet(self.spark, *files)
            # the epoch column comes from the epoch=N directory (partials());
            # string/binary values take build_partials' jar route, whose
            # lineage (wall_ms included) the JVM builder reports
            partials = agg.build_partials(
                df, self.value_col, self.by, b=self.b, binbits=self.binbits, input_type=self.input_type, lineage=True
            )
            partials.write.mode("overwrite").parquet(self._epoch_dir(i))
            ran.append(i)
            if limit is not None and len(ran) >= limit:
                break
        return ran

    def partials(self) -> DataFrame:
        root = f"{self.checkpoint_dir}/partials"
        return _read_parquet(self.spark, f"{root}/epoch=*", base_path=root)

    def lineage(self) -> DataFrame:
        """Per-(epoch, partition) metrics: rows_seen, nulls_skipped, wall_ms."""
        cols = ["epoch", "partition_id", "rows_seen", "nulls_skipped", "wall_ms"]
        return (
            self.partials()
            .select(*self.by, *cols)
            .dropDuplicates(["epoch", "partition_id"])
            .select(*cols)
            .orderBy("epoch", "partition_id")
        )

    def run(self) -> DataFrame:
        """Process whatever is pending, then merge all partials to final sketches."""
        pending_before = self.status()["pending"]
        if pending_before:
            self.process_pending()
        p = self.partials().select(*self.by, "sketch")
        return agg.merge_partials(p, self.by)
