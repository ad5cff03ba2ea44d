"""Checkpoint manifest + exact resume (SURVEY.md §2.1 S6, §7.2 step 6).

The 10^12-row job is chunked by `bucket = pmod(hash(doc_id), n_buckets)` —
the same bucketing an Iceberg `bucket(N, doc_id)` partition spec gives. The
driver clears a pending bucket's output directory, the wave appends to it,
and the bucket is committed: one JSON row holding every MANIFEST_SCHEMA
field (bucket, status, metrics, lineage, job shape) is written to a
dot-prefixed temp file and renamed to `_manifest/_done-<bucket>-<run_id>.json`
through the Hadoop FileSystem API. The rename is the commit point. A commit
starts no Spark job and needs no lock (each commit owns its file), and the
leading `_` keeps the rows out of any parquet reader of the directory.

Resume = all buckets minus the 'done' rows, computed on the driver from one
directory listing (a commit's file name carries its bucket, so none is
opened; only `check_compatible` reads the rows) — only missing buckets are
recomputed, and each is cleared before it is written again, so a crash
between data write and manifest commit re-does exactly that bucket (the
parquet stand-in for an Iceberg transaction). A recompute deletes the
manifest with the job's other entries. Manifests an older writer appended
as parquet part files still load, resume and pass `check_compatible`: their
rows are read, with one Spark job, only when such files are present.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .io import hadoop_fs, read_line, write_line
from .schema import MANIFEST_SCHEMA

_DONE = "_done-"


def manifest_path(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def _listing(spark: SparkSession, output_path: str) -> tuple:
    """([(name, path)] of the per-commit JSON files, whether parquet part
    files an older writer appended are present) — one directory listing."""
    fs, d = hadoop_fs(spark, manifest_path(output_path))
    done, parquet = [], False
    if fs.exists(d):
        for st in fs.listStatus(d):
            path = st.getPath()
            name = path.getName()
            if name.startswith(_DONE) and name.endswith(".json"):
                done.append((name, path.toString()))
            elif not name.startswith(("_", ".")):
                parquet = True
    return done, parquet


def _parquet_rows(spark: SparkSession, output_path: str) -> list[dict]:
    """The rows an older writer appended as parquet part files (one job)."""
    return [
        r.asDict()
        for r in spark.read.schema(MANIFEST_SCHEMA)
        .parquet(manifest_path(output_path))
        .collect()
    ]


def _rows(spark: SparkSession, output_path: str) -> list[dict]:
    """Every committed manifest row: the per-commit JSON files, plus the
    rows of any parquet part files an older writer appended."""
    done, parquet = _listing(spark, output_path)
    rows = [json.loads(read_line(spark, path)) for _, path in done]
    return rows + (_parquet_rows(spark, output_path) if parquet else [])


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame:
    names = MANIFEST_SCHEMA.fieldNames()
    return spark.createDataFrame(
        [tuple(r[f] for f in names) for r in _rows(spark, output_path)],
        MANIFEST_SCHEMA,
    )


def completed_buckets(spark: SparkSession, output_path: str) -> set[int]:
    """Done buckets from the listing alone: every JSON file is a 'done'
    commit named `_done-<bucket>-<run_id>.json`, so none is opened."""
    done, parquet = _listing(spark, output_path)
    got = {int(name[len(_DONE):].split("-", 1)[0]) for name, _ in done}
    if parquet:
        got |= {
            r["bucket"]
            for r in _parquet_rows(spark, output_path)
            if r["status"] == "done"
        }
    return got


def pending_buckets(
    spark: SparkSession, output_path: str, n_buckets: int
) -> list[int]:
    """All buckets minus completed ones — the resume anti-join (SURVEY.md
    §2.8), on the driver: the bucket list is n_buckets integers."""
    return sorted(set(range(n_buckets)) - completed_buckets(spark, output_path))


def commit_bucket(
    spark: SparkSession,
    output_path: str,
    bucket: int,
    n_docs: int,
    n_spans: int,
    n_quarantined: int,
    wall_sec: float,
    input_path: str,
    run_id: str,
    config: dict,
) -> None:
    from . import __version__

    row = dict(
        zip(
            MANIFEST_SCHEMA.fieldNames(),
            (
                int(bucket),
                "done",
                int(n_docs),
                int(n_spans),
                int(n_quarantined),
                float(wall_sec),
                input_path,
                __version__,
                run_id,
                str(config["mode"]),
                int(config["n_buckets"]),
                int(config["max_spans"]),
            ),
        )
    )
    name = f"{_DONE}{int(bucket)}-{run_id}.json"
    # json.dumps escapes every non-ASCII character: the line is ASCII
    write_line(
        spark, os.path.join(manifest_path(output_path), name), json.dumps(row)
    )


def check_compatible(
    spark: SparkSession, output_path: str, config: dict
) -> None:
    """Resume guard: every committed 'done' row must match the current job
    shape (mode / n_buckets / max_spans / input_path). A mismatch means the
    output directory holds a DIFFERENT job's buckets — resuming would skip
    'done' buckets computed under other semantics and silently mix outputs.
    """
    want = (
        config["mode"],
        int(config["n_buckets"]),
        int(config["max_spans"]),
        config["input_path"],
    )
    for r in _rows(spark, output_path):
        got = (r["mode"], r["n_buckets"], r["max_spans"], r["input_path"])
        if r["status"] == "done" and got != want:
            raise ValueError(
                "resume=True but the committed manifest was produced by an "
                f"incompatible job: committed {got}, requested {want}. "
                "Run with resume=False to recompute from scratch."
            )


def new_run_id() -> str:
    return f"run-{int(time.time() * 1000):x}"
