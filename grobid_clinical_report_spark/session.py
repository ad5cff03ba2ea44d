"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "grobid-clinical-report-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str = "128m",
) -> SparkSession:
    """local[N] session tuned for the extraction pipeline.

    - Arrow enabled and batch-sized for mapInArrow throughput (each batch is
      a set of whole documents; 256 docs/batch keeps the Python-side tensors
      in cache while amortizing the Arrow hop),
    - AQE on (post-shuffle coalescing + skew-join splitting — the relational
      harness queries benefit; the extraction pass itself is shuffle-free),
    - shuffle partitions ≈ cores for local mode (200 would over-parallelize
      the small local tiers; on a 1000-executor cluster this is raised to
      2-3× total cores by the submitter).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = SparkSession.builder
    # Under a spark-submit-launched driver (PYSPARK_GATEWAY_PORT set: the
    # JVM gateway already exists and carries --master / --driver-memory /
    # --conf from the submit), the SUBMITTER owns cluster topology — calling
    # .master() here would silently override `spark-submit --master` and the
    # "N vs 4N executors" run shape the north rule specifies. Only the
    # engine's SQL/Arrow defaults are applied in that case; local[N] is the
    # in-process (tests / bench / library-use) default.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if not submitted:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")
        )
    return (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.sql.files.openCostInBytes", "1m")
        .getOrCreate()
    )


# Keys written by materialize(reuse=True) in dir mode THIS process: a
# repeat call reads the existing parquet instead of re-executing the
# producing plan and rewriting. In-process only — keys are corpus-DIR-
# keyed, not content-fingerprinted, so a path left by a PREVIOUS process
# may be stale.
_MATERIALIZED: set[tuple[str, str]] = set()
_MATERIALIZE_LOCK = __import__("threading").Lock()


def materialize(df, name: str, reuse: bool = False):
    """Reuse point for a DataFrame consumed by several downstream branches.

    Default: `.cache()` — correct and cheap in local/sandbox runs (repeat
    calls dedupe through Spark's plan-keyed cache manager). With
    SPARK_GRAFT_MATERIALIZE_DIR set, the DataFrame is WRITTEN to parquet
    under that directory and read back — the production shape for corpus-
    sized intermediates (a cached corpus-sized table evicts under memory
    pressure and silently recomputes its whole subtree per consumer; a
    materialized table is computed exactly once and scan-shareable). Every
    multi-consumer intermediate in this repo (MinHash shingle tables, LSH
    signatures, bigram explosions) routes through here, so flipping the env
    var exercises the at-scale plan end-to-end.

    reuse=True additionally memoizes the write per (dir, name) within this
    process, so CROSS-QUERY consumers of a shared corpus-keyed intermediate
    (e.g. dedup_neardup_pairs / dedup_components / curate_corpus over the
    verified-pair table) read the parquet written by the first instead of
    re-executing the producing plan per consumer — dir mode previously
    re-ran the band self-join + Jaccard verify three times while cache mode
    deduped through the plan cache. OPT-IN because it is only sound for
    names that uniquely key their content for the life of the process:
    iterative truncation points reuse a name across rounds with DIFFERENT
    content (cc_labels_{0,1}) and some names are not corpus-keyed
    (lsh_sigs) — memoizing those would serve stale rounds/corpora.
    """
    base = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
    if not base:
        return df.cache()
    path = os.path.join(base, name)
    # Claim under the lock, write outside it: different keys stay
    # concurrent. (Two same-key callers racing one path was equally unsafe
    # under the old unconditional overwrite; all consumers of a given key
    # run sequentially within a query.)
    fresh = True
    if reuse:
        with _MATERIALIZE_LOCK:
            fresh = (base, name) not in _MATERIALIZED
            if fresh:
                _MATERIALIZED.add((base, name))
    if fresh:
        try:
            df.write.mode("overwrite").parquet(path)
        except Exception:
            if reuse:  # don't memoize a failed write
                with _MATERIALIZE_LOCK:
                    _MATERIALIZED.discard((base, name))
            raise
    return df.sparkSession.read.parquet(path)
