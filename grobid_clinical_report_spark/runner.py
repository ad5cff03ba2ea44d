"""Batch job driver: read → guardrails → skew-aware partitioning → cascade →
write + manifest (SURVEY.md §3.4 Spark lifecycle, §2.1 S4/S5/S6).

Scale design (the 100 TB story):
- **Input** is an Iceberg table bucket-partitioned by doc_id; in this sandbox
  a parquet file stands in and `bucket = pmod(hash(doc_id), N)` reproduces the
  partition spec. Only `doc_id, spans` are read (column pruning reaches the
  scan) and bucket pruning limits each wave's scan to its buckets.
- **Guardrails (S4)**: documents over `max_spans` go to a quarantine sink with
  a metric row instead of poisoning a task (the reference rejects >300k-block
  PDFs for the same reason, MedicalReportSegmenterParser.java:136-139,250-253).
- **Size pass**: one job per run (a groupBy over the pending buckets) returns
  each bucket's admitted doc and span counts and how many rows it
  quarantines, before anything pays to move data. It returns counts only,
  so no input, however malformed, can grow its aggregation buffers or its
  collected result.
- **Waves**: the pending buckets run in order, grouped while their admitted
  spans fit in ``defaultParallelism`` mapper batches (a larger bucket runs
  alone). A wave is one Spark job — scan, guardrail, exchange, mapInArrow,
  and one write partitioned by bucket into the ``bucket=<b>/`` directories
  — plus one quarantine write of the same shape if it quarantines rows.
  A bucket left with no rows gets an empty file from the driver. Waves
  run one after another.
- **Skew**: the extraction cost is ~linear in span count. A wave is
  hash-partitioned by doc_id into k partitions, one per mapper batch of
  each bucket's admitted input (pipeline's coalescing caps), at most the
  session's ``defaultParallelism``: the header path pays a fixed cost per
  batch, so a one-bucket resume runs as one task. AQE can't help a
  map-only stage; the partitioning at the exchange does. The guardrail
  caps a whale at max_spans; whales are not placed apart.
- **Shuffle count**: one repartition per wave plus the size pass's
  aggregate (one row per bucket and map task); the cascade itself is a
  single mapInArrow — no other exchange.
- **Resume**: the bucket is the checkpoint unit. The driver clears a
  pending bucket, the wave appends, and a commit is one manifest file (see
  manifest.py); a recompute first deletes the job's own entries.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifest as mf
from .io import hadoop_fs, read_documents
from .pipeline import _COALESCE_DOCS, _COALESCE_SPANS, run_mode

DEFAULT_MAX_SPANS = 50_000
# what the job writes under its output besides the bucket=<b> directories
_JOB_ENTRIES = {"_manifest", "_quarantine", "_staged_input", "_temporary"}


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Iceberg-style bucket(doc_id) column (pmod of a stable hash)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def split_guardrail(
    df: DataFrame, max_spans: int = DEFAULT_MAX_SPANS
) -> tuple[DataFrame, DataFrame]:
    """(processable, quarantined) — S4 QoS caps.

    Malformed rows (null doc_id / null spans — e.g. a corrupt line in a
    JSONL corpus read with the enforced schema) also go to the quarantine
    side: size(NULL) is NULL, so both filters used to drop them SILENTLY —
    at corpus scale a bad input line must stay visible and counted, not
    vanish. They sit in `_quarantine` as evidence; process_quarantined's
    size() filters skip them (they cannot be re-processed)."""
    ok = _admitted(max_spans)
    return df.filter(ok), df.filter(~ok)


def _n_spans() -> Column:
    """size(spans), read through one leaf: `spans.offset` is null exactly
    when `spans` is and has the same length, so a plan that needs only span
    counts (the size pass) scans the offsets, not the span text."""
    return F.size("spans.offset")


def _admitted(max_spans: int) -> Column:
    """The guardrail predicate: well-formed and at most ``max_spans`` spans.
    Never null — a malformed row is False before the size is read — so its
    negation is exactly the quarantine side."""
    malformed = F.isnull("spans.offset") | F.isnull("doc_id")
    return ~malformed & (_n_spans() <= max_spans)


def salt_partition(df: DataFrame, tasks: int) -> DataFrame:
    """Spread documents across ``tasks`` partitions: one exchange on the
    murmur3 hash of doc_id, which is independent of with_bucket's xxhash64
    (with the bucket hash, every doc of a bucket would land on a partition
    congruent to the bucket mod gcd(tasks, n_buckets)). Whales hash like
    any other doc; the guardrail caps each at max_spans."""
    return df.repartition(tasks, "doc_id")


def stage_bucketed_input(
    spark: SparkSession,
    input_path: str,
    staged_path: str,
    n_buckets: int,
) -> None:
    """ONE-pass bucket staging: materialize the input partitioned BY bucket
    so each wave reads only its buckets' directories (true partition
    pruning). The production source is an Iceberg table already
    bucket-partitioned by doc_id — there the scan prunes natively and this
    step is a no-op. On a flat parquet stand-in, `bucket.isin(wave)` is a
    predicate on a COMPUTED hash column: no file can be pruned, so W waves
    re-scan the whole input W times (at 100 TB × 256 buckets each bucket
    is a wave). Staging makes input IO 2 passes instead of W; a one-wave
    run pays it as an extra read and write.

    Idempotent: skipped only when a committed staging (_SUCCESS marker plus
    a `_STAGING_META.json` sidecar recording the exact bucket count and
    input path) matches this run's parameters; a recompute has deleted
    the staging, so only a resume reuses one. The sidecar is the
    staleness guard: a leftover staging from a crashed run with MORE
    buckets would otherwise pass a bucket-dir glob check and silently
    drop every document in buckets >= n_buckets."""
    import json

    from .io import read_line, write_line

    # marker and sidecar go through the Hadoop FileSystem API (no Spark
    # job), on whatever filesystem `staged_path` names (HDFS, s3a, …); the
    # leading underscore keeps the sidecar out of the parquet file index.
    # A staging with no matching sidecar is restaged.
    fs, marker = hadoop_fs(spark, os.path.join(staged_path, "_SUCCESS"))
    meta_path = os.path.join(staged_path, "_STAGING_META.json")
    want_meta = json.dumps(
        {"input_path": input_path, "n_buckets": n_buckets}, sort_keys=True
    )
    if fs.exists(marker):
        if read_line(spark, meta_path) == want_meta:
            return
    docs = read_documents(spark, input_path).select("doc_id", "spans")
    with_bucket(docs, n_buckets).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(staged_path)
    # written AFTER the overwrite (which clears the directory) so a partial
    # write can never leave a matching sidecar without matching data
    write_line(spark, meta_path, want_meta)


def run_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    mode: str = "extract_full",
    n_buckets: int = 8,
    max_spans: int = DEFAULT_MAX_SPANS,
    resume: bool = True,
    stage_buckets: bool = False,
    extract_fn=None,
    job_tag: str | None = None,
) -> dict:
    """End-to-end batch job with per-bucket checkpointing.

    One size pass over the pending buckets (see _size_pass, labelled
    ``"<mode> size pass"`` in the Spark UI), then one Spark job per wave
    (see _waves, labelled ``"<mode> wave=<i> buckets=<b,…>"``); the
    caller's label is restored afterwards. Once a wave's writes return,
    its buckets commit in order: all are attempted, then the first failure
    is raised, so a crash redoes only the wave's uncommitted buckets.

    The driver clears a pending bucket, the wave appends: before a wave
    writes, its buckets' output and quarantine directories and the
    committer's ``_temporary`` staging beside them are deleted.
    ``resume=False`` first deletes the job's own entries under
    ``output_path`` (``_JOB_ENTRIES``, ``bucket=*``) and nothing else,
    matched by name, not as a glob. The deletes, the commits and a
    bucket's empty files are driver-side file operations through the
    Hadoop FileSystem API: they start no Spark job.

    ``stage_buckets=True`` materializes a bucket-partitioned copy of the
    input first (stage_bucketed_input) so each wave scans only its
    buckets via directory pruning instead of re-scanning the flat input —
    use it whenever the source is NOT already bucket-partitioned (an
    Iceberg bucket(doc_id) table needs no staging).

    ``extract_fn`` substitutes the extraction plan (e.g. a trained
    decoder, trainer.run_trained_ner); ``job_tag`` is then required and is
    folded into the manifest mode (``mode@tag``) so a resume under
    different weights is refused instead of mixed.

    Returns a metrics dict: {buckets_run, docs, spans, quarantined,
    wall_sec, peak_concurrency}; ``peak_concurrency`` is the largest task
    count over the run's waves (tasks in flight). A bucket's manifest
    ``wall_sec`` is its wave's wall.
    """
    from pyspark.sql import Observation

    run_id = mf.new_run_id()
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    if extract_fn is not None and not job_tag:
        raise ValueError("extract_fn needs a job_tag for resume safety")
    config = {
        "mode": f"{mode}@{job_tag}" if job_tag else mode,
        "n_buckets": n_buckets, "max_spans": max_spans,
        "input_path": input_path,
    }
    if resume:
        # refuse to mix incompatible outputs under one directory: resume is
        # only valid when the committed manifest rows ran the same job shape
        mf.check_compatible(spark, output_path, config)
    else:
        # the input may live beside the output: only the job's own entries go
        fs, p = hadoop_fs(spark, output_path)
        for st in fs.listStatus(p) if fs.exists(p) else []:
            name = st.getPath().getName()
            if name in _JOB_ENTRIES or name.startswith("bucket="):
                fs.delete(st.getPath(), True)
    pending = mf.pending_buckets(spark, output_path, n_buckets)

    if stage_buckets:
        staged = os.path.join(output_path, "_staged_input")
        stage_bucketed_input(spark, input_path, staged, n_buckets)
        # partition column `bucket` prunes directories at the scan
        docs = spark.read.parquet(staged).select("doc_id", "spans", "bucket")
    else:
        docs = read_documents(spark, input_path).select("doc_id", "spans")
        docs = with_bucket(docs, n_buckets)

    extract = extract_fn or (lambda df: run_mode(df, mode))
    q_root = os.path.join(output_path, "_quarantine")
    totals = {"buckets_run": 0, "docs": 0, "spans": 0, "quarantined": 0,
              "peak_concurrency": 0}
    t_all = time.monotonic()
    caller_label = sc.getLocalProperty("spark.job.description")
    sizes = {}
    try:
        if pending:
            sc.setJobDescription(f"{mode} size pass")
            sizes = _size_pass(docs, pending, max_spans)
        for i, wave in enumerate(_waves(pending, sizes, cores)):
            sc.setJobDescription(f"{mode} wave={i} buckets="
                                 + ",".join(map(str, wave)))
            t0 = time.monotonic()
            # uncommitted: clear what an attempt left, the committer's
            # staging too (a killed driver leaves committed task output
            # there, which the next job commit would merge into the bucket)
            for root in (output_path, q_root):
                for name in ["_temporary", *(f"bucket={b}" for b in wave)]:
                    fs, p = hadoop_fs(spark, os.path.join(root, name))
                    fs.delete(p, True)
            wave_docs = docs.filter(F.col("bucket").isin(wave))
            ok, bad = split_guardrail(wave_docs, max_spans)
            k = min(cores, sum(_batches(sizes[b]) for b in wave))
            ok = salt_partition(ok.drop("bucket"), k)
            extracted = extract(ok)
            # metrics ride the write itself via observe() — no post-write
            # re-read of the output, no second scan of the input
            obs = Observation()
            in_b = {b: F.col("bucket") == b for b in wave}
            _write_by_bucket(with_bucket(extracted, n_buckets).observe(
                obs,
                *(F.count_if(in_b[b]).alias(f"docs{b}") for b in wave),
                *(F.sum(F.when(in_b[b], F.size("spans"))).alias(f"spans{b}")
                  for b in wave),
            ), output_path)
            bad = bad.select("doc_id", _n_spans().alias("n_spans"), "bucket")
            if any(sizes[b]["quarantined"] for b in wave):
                _write_by_bucket(bad, q_root)
            wall = time.monotonic() - t0
            totals["peak_concurrency"] = max(totals["peak_concurrency"], k)
            failed = []
            for b in wave:
                n_docs, n_q = obs.get[f"docs{b}"], sizes[b]["quarantined"]
                n_spans = obs.get[f"spans{b}"] or 0  # null: a sum of no rows
                try:
                    # a bucket with no rows was not written: one empty file
                    if not n_docs:
                        _write_empty(spark, output_path, b, extracted)
                    if not n_q:
                        _write_empty(spark, q_root, b, bad)
                    mf.commit_bucket(spark, output_path, b, n_docs, n_spans,
                                     n_q, wall, input_path, run_id, config)
                except Exception as exc:
                    failed.append(exc)
                    continue
                totals["buckets_run"] += 1
                totals["docs"] += n_docs
                totals["spans"] += n_spans
                totals["quarantined"] += n_q
            if failed:
                raise failed[0]
    finally:
        sc.setJobDescription(caller_label)
    totals["wall_sec"] = time.monotonic() - t_all
    return totals


def _batches(size: dict) -> int:
    """The mapper batches a bucket's admitted input fills, at least one."""
    return max(1, -(-size["docs"] // _COALESCE_DOCS),
               -(-size["spans"] // _COALESCE_SPANS))


def _waves(pending: list[int], sizes: dict, cores: int) -> list[list[int]]:
    """``pending`` in order, cut before a bucket whose admitted spans would
    take its wave past ``cores`` mapper batches. No bucket or wave without
    admitted spans is worth a job of its own."""
    waves, spans = [], 0
    for b in pending:
        n = sizes[b]["spans"]
        if not waves or (spans and n and spans + n > cores * _COALESCE_SPANS):
            waves.append([])
            spans = 0
        waves[-1].append(b)
        spans += n
    return waves


def _size_pass(docs: DataFrame, pending: list[int], max_spans: int) -> dict:
    """One job over the pending buckets → {bucket: {docs, spans,
    quarantined}}: the admitted doc and span counts, and how many rows
    split_guardrail quarantines (the malformed and over-``max_spans``
    ones). Counts only, so the aggregation and the collected result stay
    one small row per bucket however many rows a bad input sends to the
    quarantine. A bucket with no rows counts zeros."""
    ok = _admitted(max_spans)
    n = _n_spans()
    rows = (
        docs.filter(F.col("bucket").isin(pending))
        .groupBy("bucket")
        .agg(
            F.count_if(ok).alias("docs"),
            F.sum(F.when(ok, n).otherwise(0)).alias("spans"),
            F.count_if(~ok).alias("quarantined"),
        )
        .collect()
    )
    got = {r["bucket"]: r.asDict() for r in rows}
    zero = {"docs": 0, "spans": 0, "quarantined": 0}
    return {b: got.get(b, zero) for b in pending}


def _write_by_bucket(df: DataFrame, root: str) -> None:
    """Append ``df`` under ``root`` partitioned by its ``bucket`` column
    into the ``bucket=<b>/`` directories the driver cleared."""
    df.write.mode("append").partitionBy("bucket").parquet(root)


def _write_empty(spark: SparkSession, root: str, bucket: int,
                 df: DataFrame) -> None:
    """Write ``root``'s cleared ``bucket=<b>/`` directory a single empty
    parquet file of ``df``'s columns but ``bucket``, from the driver
    through the Hadoop FileSystem API: no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    buf = pa.BufferOutputStream()
    schema = to_arrow_schema(df.drop("bucket").schema)
    pq.write_table(schema.empty_table(), buf)
    fs, d = hadoop_fs(spark, os.path.join(root, f"bucket={bucket}"))
    out = fs.create(spark._jvm.org.apache.hadoop.fs.Path(d, "part-0.parquet"))
    try:
        out.write(bytearray(buf.getvalue().to_pybytes()))
    finally:
        out.close()


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_path, "bucket=*"))


def process_quarantined(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    mode: str = "extract_full",
    max_spans: int = DEFAULT_MAX_SPANS,
    continuity_cap: int | None = None,
    extract_fn=None,
) -> dict:
    """Second-pass whale processing: quarantine must not blackhole data.

    Zone continuity (VERDICT r3 #5): quarantined documents up to
    ``continuity_cap`` spans (default 5 × max_spans — covers the realistic
    whale tail; the reference REJECTS >300k-block documents outright,
    MedicalReportSegmenterParser.java:250-253) run the normal cascade
    UN-WINDOWED, hash-partitioned by doc_id over the cores — zone
    decisions are document-global by construction, so a header/zone
    crossing the old window boundary can neither re-open nor double-emit,
    and the output is byte-identical to a run with a raised guardrail.
    The per-task cost is linear in spans (every model in the cascade is
    O(n) lines/tokens), so the cap bounds task memory, not asymptotics.

    Only documents BEYOND the cap fall back to windowing: split into
    ≤max_spans-span windows, each window runs the cascade as its own task,
    and the per-window outputs re-merge by original doc_id ordered by the
    PRESERVED char offsets — so the final span sequence interleaves
    correctly across windows. Zone decisions there are per-window (the
    documented long-document approximation for the >cap monster tail).
    Results land under `bucket=quarantine` next to the regular buckets.
    """
    from .io import write_spans

    if continuity_cap is None:
        continuity_cap = 5 * max_spans
    q = spark.read.parquet(
        os.path.join(output_path, "_quarantine", "bucket=*")
    ).select("doc_id")
    docs = read_documents(spark, input_path).select("doc_id", "spans")
    heavy = docs.join(F.broadcast(q), "doc_id")  # quarantine set is small

    whole = heavy.filter(F.size("spans") <= continuity_cap)
    big = heavy.filter(F.size("spans") > continuity_cap)

    # un-windowed path: whole documents, exact zone continuity.
    # ``extract_fn`` (e.g. a trained-weight decoder from __main__
    # --weights) decodes the whale pass too — otherwise surrogate-decoded
    # quarantine spans would land next to trained-weight buckets in one
    # output directory (two decoders' outputs silently mixed)
    fn = extract_fn if extract_fn is not None else (
        lambda df: run_mode(df, mode)
    )
    tasks = spark.sparkContext.defaultParallelism
    out_whole = fn(salt_partition(whole, tasks))

    chunked = big.selectExpr(
        "doc_id",
        f"""posexplode(transform(
              sequence(0, cast(ceil(size(spans) / {max_spans}.0) as int) - 1),
              i -> slice(spans, i * {max_spans} + 1, {max_spans})
            )) as (chunk_id, spans)""",
    ).withColumn(
        # chunk ids ride inside doc_id so the cascade sees independent docs;
        # the delimiter is \x1f (unit separator) — '#' was truncatable by a
        # source doc_id containing '#' (ADVICE r2), a control char is not a
        # plausible member of a free-form document id
        "doc_id",
        F.concat_ws("\x1f", "doc_id", F.col("chunk_id").cast("string")),
    ).drop("chunk_id")

    extracted = fn(chunked)
    merged = (
        extracted.withColumn(
            "doc_id", F.substring_index(F.col("doc_id"), "\x1f", 1)
        )
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("spans")).alias("spans"))
        .selectExpr(
            "doc_id",
            # offsets are original char positions → a single sort restores
            # the cross-window order
            "array_sort(spans, (a, b) -> case when a.offset < b.offset"
            " then -1 when a.offset > b.offset then 1 else 0 end) as spans",
        )
        .unionByName(out_whole)
    )
    from pyspark.sql import Observation

    obs = Observation()
    merged = merged.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("n_spans"),
    )
    write_spans(
        merged, os.path.join(output_path, "bucket=quarantine"),
        mode="overwrite",
    )
    return {"docs": obs.get["n_docs"], "spans": int(obs.get["n_spans"])}
