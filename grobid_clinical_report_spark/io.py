"""Table IO with Iceberg when available, parquet stand-in otherwise
(SURVEY.md §2.1 S1/S5; north rule: Iceberg tables, fanout-aware writes).

The v1 container ships no Iceberg runtime jars, so the format is probed once
per session and the parquet bucket layout (`bucket=N/` dirs + `_manifest/`,
one `_done-<bucket>-<run_id>.json` file per committed bucket) stands in — it
reproduces the two Iceberg properties the design depends on:
  * bucket partition pruning (each job chunk scans 1/N of the data),
  * the bucket as the resume unit (the driver clears a pending bucket,
    the wave appends).
On a cluster with Iceberg on the classpath the same calls route to
`spark.read/writeTo(...)` with a `bucket(N, doc_id)` partition spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def _is_jsonl(path: str) -> bool:
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return base.endswith(".jsonl") or base.endswith(".json")


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read the documents table: Iceberg table identifier (contains no '/')
    when the runtime is present; `.jsonl`/`.json` paths read as JSON-lines
    (the LLM-corpus interchange shape — one document object per line) with
    the schema ENFORCED, not inferred: inference would both double-scan the
    input and silently widen types on dirty corpora; parquet otherwise."""
    if "/" not in path and iceberg_available(spark):
        return spark.read.format("iceberg").load(path)
    if _is_jsonl(path):
        from .schema import DOCUMENTS_SCHEMA

        return spark.read.schema(DOCUMENTS_SCHEMA).json(path)
    return spark.read.parquet(path)


def write_spans(
    df: DataFrame, path: str, mode: str = "overwrite", fanout: bool = True
) -> None:
    """Write extracted spans. Iceberg: `writeTo(...).append()` with fanout
    enabled (unsorted bucket writers, north rule). Parquet stand-in: plain
    directory write — the runner supplies the bucket=N path."""
    spark = df.sparkSession
    if "/" not in path and iceberg_available(spark):
        w = df.writeTo(path).option("fanout-enabled", str(fanout).lower())
        if mode == "overwrite":
            w.overwritePartitions()
        else:
            w.append()
        return
    if _is_jsonl(path):
        # ignoreNullFields=false keeps the span struct shape stable across
        # rows (text-only spans still carry "media_ref": null), so a reader
        # with the enforced schema round-trips exactly
        df.write.mode(mode).option("ignoreNullFields", "false").json(path)
        return
    df.write.mode(mode).parquet(path)


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``: driver-side file operations on
    whatever filesystem the job's output lives on (local, HDFS, s3a, …),
    with no Spark job."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_line(spark: SparkSession, path: str, line: str) -> None:
    """Commit one ASCII line to ``path`` with no Spark job: a dot-prefixed
    temp file beside it, renamed onto it (the rename is the commit point)."""
    fs, p = hadoop_fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(
        p.getParent(), f".{p.getName()}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.writeBytes(line + "\n")  # one byte per char: ASCII only
    finally:
        out.close()
    if not fs.rename(tmp, p):
        raise OSError(f"could not commit {path}")


def read_line(spark: SparkSession, path: str) -> str | None:
    """The first line of ``path``, or None when there is no such file."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    jio = spark._jvm.java.io
    stream = fs.open(p)
    try:
        reader = jio.BufferedReader(jio.InputStreamReader(stream, "UTF-8"))
        return reader.readLine()
    finally:
        stream.close()
