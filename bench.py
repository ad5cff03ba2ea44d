#!/usr/bin/env python
"""Benchmark harness.

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "extraction": {"n_docs": ..., "docs_per_sec": ...}}

--scaling: additionally runs the identical extraction job at N and 4N cores
(each leg a real `spark-submit --master local[N] --py-files pkg.zip` launch →
fresh JVM, the sandbox stand-in for N vs 4N executor clusters per
BASELINE.md), on a ladder cut at the cores the process may use, and writes
this box's section of BENCH/BASELINE.md with throughput at each level +
scaling efficiency (other boxes' sections are kept).

--extract-only N: internal mode used by --scaling (prints one JSON line with
the extraction wall time at local[N]).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")  # no BLAS oversubscription

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPO = os.path.dirname(os.path.abspath(__file__))

# synthetic extraction corpus size per SF tier (docs); ~150 spans/doc median
# sf0.1 → 20k docs ≈ 3M spans: big enough that compute dominates fixed
# overheads at 16 cores (a prerequisite for a meaningful scaling measurement)
_DOCS_PER_SF = 200_000

LOAD_AT_START = 0.0  # set by headline() before the first query runs

# Idle gate (VERDICT r6 next #1): the r6 headline ran at external load
# 11→29.5 and recorded regressions the controlled A/Bs contradicted. The
# bench now refuses to start hot: if the 1-min load exceeds the threshold
# (external work — our own executors are not running yet), sleep-poll up
# to the budget and record how long we waited in the artifact.
IDLE_GATE_LOAD = float(os.environ.get("SPARK_GRAFT_IDLE_GATE", "6.0"))
IDLE_GATE_MAX_WAIT = int(os.environ.get("SPARK_GRAFT_IDLE_WAIT", "900"))


def _gate_idle() -> dict:
    """Wait (bounded) for the box to go idle before measuring."""
    t0 = time.monotonic()
    waited = 0.0
    while os.getloadavg()[0] > IDLE_GATE_LOAD:
        if time.monotonic() - t0 > IDLE_GATE_MAX_WAIT:
            break
        time.sleep(15)
        waited = time.monotonic() - t0
    return {
        "threshold": IDLE_GATE_LOAD,
        "waited_sec": round(waited, 1),
        "load_after_gate": round(os.getloadavg()[0], 2),
    }


def _timed_leg(fn, runs: int = 2, spread: float = 0.4) -> float:
    """best-of-N wall for one leg, with ONE extra run if the first N
    disagree by more than `spread` (a co-tenant spike during a run shows
    as an out-of-family time; the min of three is then the honest
    contention-free measurement)."""
    times = []
    for _ in range(runs):
        t0 = time.monotonic()
        fn()
        times.append(time.monotonic() - t0)
    if min(times) > 0 and (max(times) / min(times) - 1.0) > spread:
        t0 = time.monotonic()
        fn()
        times.append(time.monotonic() - t0)
    return min(times)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def corpus_path(sf: float) -> str:
    """Build (once, cached) the seeded interleaved-span corpus for this tier."""
    cache = os.path.join(REPO, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    n_docs = max(int(sf * _DOCS_PER_SF), 50)
    p = os.path.join(cache, f"documents_spans_{n_docs}")
    if not os.path.exists(p):
        from grobid_clinical_report_spark import datagen

        if n_docs > 500_000:
            # chunked: the one-frame build peaks at ~10× the parquet size
            # in RAM (a 2M-doc corpus OOM-risks this box); 10 × 200k-doc
            # chunks × 16 shards ≈ the same file-count-per-doc layout
            datagen.write_documents_parquet_chunked(
                p, n_docs=n_docs, heavy_docs=2
            )
        else:
            datagen.write_documents_parquet(
                p, n_docs=n_docs, heavy_docs=2, shards=128
            )
    return p


def text_corpus_dir(n_docs: int) -> str:
    """Build (once, cached) a flat-text `documents` table dir for tiers the
    driver does not ship (the sf1 dedup runs)."""
    cache = os.path.join(REPO, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    d = os.path.join(cache, f"textsf_{n_docs}")
    doc = os.path.join(d, "documents.parquet")
    if not os.path.exists(doc):
        from grobid_clinical_report_spark import datagen

        datagen.write_text_documents_parquet(doc, n_docs=n_docs)
    return d


def run_extraction(spark, corpus: str, tasks: int) -> tuple[int, float]:
    """The identical job used for the scaling comparison: read → guardrail →
    full cascade → noop sink (measures compute, not output IO).

    Zero-shuffle by design: the production source is an Iceberg table
    bucket-partitioned by doc_id (SURVEY.md §4.1 'zero-shuffle map pipeline'),
    so the scan's file splits ARE the task partitioning; the batch job's
    per-bucket repartition (runner.salt_partition) is not run here.
    ``tasks`` is kept for the API but parallelism comes from the file
    splits."""
    from grobid_clinical_report_spark import runner
    from grobid_clinical_report_spark.pipeline import run_mode

    docs = spark.read.parquet(corpus).select("doc_id", "spans")
    n_docs = docs.count()
    ok, _bad = runner.split_guardrail(docs)
    out = run_mode(ok, "extract_full")
    t0 = time.monotonic()
    out.write.format("noop").mode("overwrite").save()
    _ = tasks
    return n_docs, time.monotonic() - t0


def extract_only(cpus: int) -> None:
    from grobid_clinical_report_spark.session import get_spark

    sf = _sf_from_dir(SF_DIR)
    corpus = corpus_path(sf)
    # fine-grained file splits: the 20k-doc corpus is ~400MB, so the default
    # 128m split would give ~4 coarse partitions at any core count (tail
    # imbalance); 4m splits ≈ 100+ tasks at every level
    spark = get_spark(
        app=f"bench-extract-{cpus}", cpus=cpus, max_partition_bytes="4m"
    )
    # warm-up: JIT/codegen + python worker pool spin-up on a small slice
    from grobid_clinical_report_spark.pipeline import run_mode

    warm = spark.read.parquet(corpus).limit(cpus * 8).repartition(cpus)
    run_mode(warm, "extract_full").write.format("noop").mode(
        "overwrite"
    ).save()
    # best-of-2: local-mode walls jitter ±15%; the min is the honest
    # contention-free measurement
    n_docs, sec = run_extraction(spark, corpus, tasks=cpus * 8)
    _, sec2 = run_extraction(spark, corpus, tasks=cpus * 8)
    sec = min(sec, sec2)
    spark.stop()
    print(json.dumps({"cpus": cpus, "n_docs": n_docs, "sec": sec}))


def headline() -> dict:
    import __spark_entry__ as E
    from grobid_clinical_report_spark.session import get_spark

    gate = _gate_idle()
    global LOAD_AT_START
    LOAD_AT_START = round(os.getloadavg()[0], 2)
    sf = _sf_from_dir(SF_DIR)
    spark = get_spark(app="bench", cpus=CPUS, max_partition_bytes="4m")
    queries: dict[str, float] = {}
    load_per_leg: dict[str, float] = {}

    load_samples = {"start": LOAD_AT_START}

    corpus = corpus_path(sf)
    # warm-up (same as extract_only): JIT/codegen + the 32-way python
    # worker pool spin-up on a small slice — the first full run otherwise
    # carries ~2-3× first-batch dilation and best-of-2 never reaches the
    # steady-state engine cost the leg is meant to record
    from grobid_clinical_report_spark.pipeline import run_mode as _rm

    warm = spark.read.parquet(corpus).limit(CPUS * 8).repartition(CPUS)
    _rm(warm, "extract_full").write.format("noop").mode("overwrite").save()
    load_per_leg["extract_full_cascade"] = round(os.getloadavg()[0], 2)
    # best-of-3 for the FLAGSHIP leg: same-process walls on this box swing
    # ±30% with no external load visible to the gate (r7 idle probe read
    # 5.28/3.79/5.62/4.74s back-to-back) — a best-of-2 pair can land
    # in-family at the slow end (5.28/5.62 ratio 1.06 evades the 1.4×
    # retry) and under-record the engine by 40%. One extra ~5s attempt is
    # cheap insurance on the headline number.
    n_docs, sec = run_extraction(spark, corpus, tasks=CPUS * 4)
    for _ in range(2):
        _, sec2 = run_extraction(spark, corpus, tasks=CPUS * 4)
        sec = min(sec, sec2)
    queries["extract_full_cascade"] = round(sec, 3)
    extraction = {"n_docs": n_docs, "docs_per_sec": round(n_docs / sec, 1)}
    load_samples["after_extraction"] = round(os.getloadavg()[0], 2)

    from grobid_clinical_report_spark.pipeline import (
        apply_split_hint,
        run_mode,
    )
    from grobid_clinical_report_spark.runner import split_guardrail

    def _corpus_mode(mode):
        # corpus-scale extraction per mode (the driver queries() entries run
        # fixture-parity inputs for the oracle gate; the bench measures the
        # same run_mode path over the full seeded corpus).
        # Map-only over file splits, the same shape as run_extraction — the
        # round-2 salt_partition here injected a full-corpus shuffle that
        # run_extraction never pays (VERDICT r2 'what's wrong #2')
        def q(spark, _sf_dir):
            # per-mode scan-split hint (pipeline.MODE_SPLIT_BYTES): the
            # token models want ~1m splits for task granularity; the timing
            # loop below restores the session default after every query
            apply_split_hint(spark, mode)
            docs = spark.read.parquet(corpus).select("doc_id", "spans")
            ok, _bad = split_guardrail(docs)
            return run_mode(ok, mode)

        return q

    qs = E.queries()
    qs = {**qs, "extract_header": _corpus_mode("extract_header"),
          "ner_entities": _corpus_mode("ner")}
    for name in [
        "extract_header",
        "ner_entities",
        "dedup_exact",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_neardup_pairs",
        "dedup_components",
        "curate_corpus",
        "dedup_substring",
        "dedup_embedding",
        "langid",
        "quality_score",
        "lm_quality",
        "corpus_filter",
        "gopher_repetition",
        "decontaminate",
        "kmv_distinct",
        "sample_mix",
        "pack_sequences",
        "token_count",
        "fingerprint",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "embedding_clusters",
        "semantic_prune",
        "rel_pricing_summary",
        "rel_topk_per_group",
        "rel_sessionization",
        "rel_event_windows",
        "rel_length_quantiles",
        "rel_asof_join",
        "rel_range_join",
        "media_decode_features",
        "media_frame_sample",
    ]:
        load_per_leg[name] = round(os.getloadavg()[0], 2)

        def leg(name=name):
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            # undo any per-mode scan-split hint before the next run
            spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")

        # best-of-2 per query, +1 run when the pair is out-of-family
        # (> 40% apart — a co-tenant spike hit one of the runs)
        queries[name] = round(_timed_leg(leg), 3)
    load_samples["after_queries"] = round(os.getloadavg()[0], 2)

    # sf1 tier (VERDICT r3 #9): 10× the data through the SAME plans — the
    # wall must scale ~linearly with data before the 100× claim rests on
    # sf0.1 alone. Single runs (the tier exists to check data-scaling shape,
    # not to win jitter).
    sf1: dict = {}
    corpus1 = corpus_path(1.0)
    n1, sec1 = run_extraction(spark, corpus1, tasks=CPUS * 4)
    sf1["extraction"] = {
        "n_docs": n1,
        "sec": round(sec1, 3),
        "docs_per_sec": round(n1 / sec1, 1),
    }
    # sf1 text tier covers the shuffle-bearing corpus ops too (VERDICT r4
    # next #7): corpus-keyed aggregations (corpus_filter's word agg,
    # lm_quality's bigram LM) and the iterative components closure, not
    # just extraction + two dedups. The tier's true data ratio vs the
    # sf0.1 table is emitted (char volume, not doc count — the synthetic
    # sf1 docs are longer), so wall ratios compare against the right
    # denominator.
    tdir = text_corpus_dir(50_000)
    chars_small = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("sum(length(text)) as c").collect()[0]["c"]
    )
    chars_big = (
        spark.read.parquet(f"{tdir}/documents.parquet")
        .selectExpr("sum(length(text)) as c").collect()[0]["c"]
    )
    sf1["text_data_ratio"] = round(chars_big / max(chars_small, 1), 2)
    # curate_corpus joins the tier (VERDICT r5 next #5): the composed
    # filter→exact→components decision table is the workload a real
    # curation run executes at scale, so its wall must track the data
    # ratio like its ingredients do
    # Two passes over the WHOLE sequence, caches cleared between passes,
    # per-leg min across passes (VERDICT r6 next #1: the single-shot sf1
    # legs burned the r6 record under co-tenant load). Why not best-of-2
    # per leg: a leg's second run would hit its own corpus-keyed caches
    # (e.g. the near-dup pair materialization) and report cache-hit time;
    # re-running the sequence cold preserves the in-order semantics —
    # each leg measured with only the PRIOR queries' shared
    # materializations warm, exactly the shape a curation run executes.
    tier_walls, sf1_loads = run_tier_sequence(spark, qs, tdir)
    sf1.update(tier_walls)
    # NER at 10× docs (VERDICT r5 next #5): the second-most-expensive
    # headline query, over the sf1 span corpus
    apply_split_hint(spark, "ner")
    docs1 = spark.read.parquet(corpus1).select("doc_id", "spans")
    # best-of-2 like the sf0.1 leg it is ratio'd against: the first run
    # carries the 32-way first-call worker dilation (~2x on the Python
    # kernels), which the warm sf0.1 best-of-2 number excludes — a
    # single-shot sf1 wall would read superlinear for warm-up, not data
    best = None
    for _ in range(2):
        t0 = time.monotonic()
        run_mode(split_guardrail(docs1)[0], "ner").write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    sf1["ner_entities"] = round(best, 3)
    spark.stop()

    total = round(sum(queries.values()), 3)
    return {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "extraction": extraction,
        "sf1": sf1,
        # idle gate + per-leg 1-min load stamps (VERDICT r6 next #1): the
        # artifact itself shows whether any leg ran hot. Caveat: mid-run
        # samples include the bench's own local[32] work decaying through
        # the 1-min average, so a stamp ≈ CPUS after a heavy leg is
        # normal; what flags contamination is a stamp far above CPUS or a
        # hot 'start'/gate reading.
        "load_gate": gate,
        "load_per_leg": load_per_leg,
        "sf1_load_per_leg": sf1_loads,
        # 1-min host load at section boundaries (VERDICT r5 next #6): this
        # box has co-tenants, so jitter-vs-real regressions must be
        # adjudicable from the artifact itself. Caveat: mid-run samples
        # include the bench's own local[32] work, so only 'start' reads a
        # quiet box directly; a mid-run co-tenant spike still shows as an
        # out-of-family jump between sections.
        "load_avg": {**load_samples, "end": round(os.getloadavg()[0], 2)},
    }


# The scale-critical corpus-op sequence both data tiers measure, in the
# in-order shape a curation run executes (filters → dedups → composed
# decision table; later legs reuse earlier legs' shared materializations)
_TIER_SEQ = ["dedup_exact", "dedup_neardup_pairs", "corpus_filter",
             "lm_quality", "dedup_components", "curate_corpus"]


def run_tier_sequence(spark, qs, tier_dir: str, reps: int = 2):
    """Run the corpus-op sequence `reps` full passes, caches cleared
    between passes; per-leg wall = min across passes, plus a per-leg 1-min
    load stamp. Why whole-sequence passes instead of per-leg best-of-2: a
    leg's immediate second run would hit its OWN corpus-keyed caches and
    record cache-hit time, while re-running the sequence cold preserves
    the in-order semantics — each leg measured with only the PRIOR
    queries' shared materializations warm. ONE policy for both data tiers
    (sf1 in headline(), sf10_tier) — the two inlined copies had already
    diverged once: the sf10 copy reset maxPartitionBytes mid-sequence, so
    its first leg ran at a different scan-split size than every other leg.
    No leg in the sequence sets a split hint; the session's split config
    is the caller's responsibility (both tiers use 4m sessions, matching
    the sf0.1 numbers they are ratio'd against)."""
    loads: dict[str, float] = {}
    per: dict[str, list[float]] = {n: [] for n in _TIER_SEQ}
    for _rep in range(reps):
        spark.catalog.clearCache()
        for name in _TIER_SEQ:
            loads[name] = round(os.getloadavg()[0], 2)
            t0 = time.monotonic()
            qs[name](spark, tier_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            per[name].append(time.monotonic() - t0)
    return {n: round(min(per[n]), 3) for n in _TIER_SEQ}, loads


def sf10_tier() -> dict:
    """Third data decade (round 7): the scale-critical corpus ops at ~100×
    the sf0.1 char volume (500k synthetic docs) AND the flagship
    extraction cascade at 2M docs (100× the sf0.1 span corpus). The sf1
    tier proves the wall tracks one decade of data; a 100× claim
    extrapolated from a single decade can hide an O(n log n) or
    constant-dominated term — two decades pin the exponent. Manual /
    --sf10, not part of the default driver bench: the tier costs minutes
    and its value is the recorded ratio table (BENCH/SF10.md), not a
    per-round re-measurement.

    Same two-pass / per-leg-min / cache-cleared-between-passes shape as the
    sf1 tier, same in-order semantics (each leg sees only PRIOR queries'
    shared materializations warm).
    """
    import __spark_entry__ as entry
    from grobid_clinical_report_spark.session import get_spark

    qs = entry.queries()
    tdir10 = text_corpus_dir(500_000)
    corpus10 = corpus_path(10.0)  # 2M interleaved-span docs (~5 GB)
    gate = _gate_idle()
    # 4m splits like the headline session, so walls are apples-to-apples
    # with the sf0.1/sf1 numbers this tier is ratio'd against
    spark = get_spark(app="bench-sf10", cpus=CPUS, max_partition_bytes="4m")
    chars_small = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("sum(length(text)) as c").collect()[0]["c"]
    )
    chars_big = (
        spark.read.parquet(f"{tdir10}/documents.parquet")
        .selectExpr("sum(length(text)) as c").collect()[0]["c"]
    )
    # flagship extraction at the third decade: per-doc throughput must
    # hold where the corpus is 100× the headline tier (map-only job — the
    # only scaling risks are scan split-planning and whale placement, both
    # of which this leg exercises at 12 800 file splits). Best-of-2, same
    # policy as the sf1 extraction leg.
    ex_loads = [round(os.getloadavg()[0], 2)]
    n10, sec10 = run_extraction(spark, corpus10, tasks=CPUS * 4)
    _, sec10b = run_extraction(spark, corpus10, tasks=CPUS * 4)
    sec10 = min(sec10, sec10b)
    extraction = {
        "n_docs": n10,
        "sec": round(sec10, 3),
        "docs_per_sec": round(n10 / sec10, 1),
    }
    out, loads = run_tier_sequence(spark, qs, tdir10)
    spark.stop()
    return {
        "metric": "sf10_tier",
        "unit": "sec",
        "queries": out,
        "extraction": extraction,
        "text_data_ratio_vs_sf": round(chars_big / max(chars_small, 1), 2),
        "load_gate": gate,
        "load_per_leg": {"extraction": ex_loads[0], **loads},
        "end_load": round(os.getloadavg()[0], 2),
    }


def train_tier(epochs: int = 3) -> dict:
    """Trainer tier (round 7; manual / --train, like --sf10): featurize the
    sf0.1 interleaved-span corpus into the packed training set (cached in
    .bench_cache, rebuilt if absent) and run `epochs` mixing epochs at two
    shard counts. Reproduces the BENCH/TRAINER.md numbers: the featurize
    wall, per-epoch steady-state walls, and the convergence trajectory
    (deterministic — the trajectory doubles as a correctness pin)."""
    import shutil

    from grobid_clinical_report_spark import trainer
    from grobid_clinical_report_spark.session import get_spark

    corpus = corpus_path(0.1)
    # cache keyed by the corpus dir's file fingerprint (same staleness
    # rule as the IVF quantizer cache, ADVICE r6): a regenerated corpus
    # must never pair with a stale packed training set
    import hashlib

    fp = hashlib.md5(
        repr(
            sorted(
                (f, os.path.getsize(os.path.join(corpus, f)))
                for f in os.listdir(corpus)
            )
        ).encode()
    ).hexdigest()[:10]
    ts_path = os.path.join(REPO, ".bench_cache", f"trainset_sf01_{fp}")
    gate = _gate_idle()
    spark = get_spark(app="bench-train", cpus=CPUS, max_partition_bytes="4m")
    t0 = time.time()
    featurize_sec = None
    if not os.path.exists(ts_path):
        tmp = ts_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        trainer.build_training_set(
            spark.read.parquet(corpus)
        ).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, ts_path)
        featurize_sec = round(time.time() - t0, 3)
    ts = spark.read.parquet(ts_path)
    n_tok = ts.selectExpr("sum(size(feats)) as n").collect()[0]["n"]
    out: dict = {
        "metric": "train_tier",
        "unit": "sec",
        "n_docs": ts.count(),
        "n_tokens": int(n_tok),
        "featurize_sec": featurize_sec,  # None when the cache was warm
        "load_gate": gate,
        "epochs": {},
    }
    W32 = T32 = None
    for shards in (32, 128):
        W, T, metrics = trainer.train(
            ts, epochs=epochs, shards=shards, batch_docs=32
        )
        if shards == 32:
            W32, T32 = W, T
        walls = [m["wall_sec"] for m in metrics]
        out["epochs"][str(shards)] = {
            "walls_sec": walls,
            "steady_sec": round(min(walls[1:]) if len(walls) > 1 else walls[0], 3),
            "acc_milli": [m["token_acc_milli"] for m in metrics],
            "tokens_per_sec": int(n_tok / min(walls[1:] or walls)),
        }

    # serving A/B (round 7): the TRAINED decoder inside the cascade shape
    # (run_trained_ner — X·W emissions) vs the surrogate NER cascade
    # (run_mode("ner") — hand-built emissions), same corpus, interleaved
    # A/B/A/B so box drift cancels; best-of-2 each, like the ladder legs.
    from grobid_clinical_report_spark.pipeline import apply_split_hint, run_mode

    apply_split_hint(spark, "ner")
    docs = spark.read.parquet(corpus).select("doc_id", "spans")
    serve = {"surrogate_sec": [], "trained_sec": []}
    for _ in range(2):
        t = time.time()
        run_mode(docs, "ner").selectExpr("sum(size(spans))").collect()
        serve["surrogate_sec"].append(round(time.time() - t, 3))
        t = time.time()
        trainer.run_trained_ner(docs, W32, T32).selectExpr(
            "sum(size(spans))"
        ).collect()
        serve["trained_sec"].append(round(time.time() - t, 3))
    out["serving"] = {k: min(v) for k, v in serve.items()}
    out["serving"]["walls"] = serve
    out["end_load"] = round(os.getloadavg()[0], 2)
    spark.stop()
    return out


def scaling(n_small: int = 1, ladder: tuple[int, ...] = (1, 2, 4, 8, 16)) -> dict:
    """Same job at several parallelism levels, each a real spark-submit
    --py-files launch (fresh JVM; the submitter owns --master).

    The N vs 4N criterion is evaluated on (n_small, 4·n_small). The full
    ladder is reported for transparency: this single-socket box saturates
    its memory bus above ~8 concurrent pandas workers (string/feature
    kernels are bandwidth-bound), a ceiling that does not exist across
    multi-node executor clusters where every node adds its own memory bus —
    so the low-core pair is the faithful proxy for node-count scaling.

    The ladder is cut at the cores this process may use: a leg wider than
    the box would time oversubscription, not scaling.
    """
    cores = len(os.sched_getaffinity(0))
    n_big = n_small * 4
    if n_big > cores:
        raise ValueError(
            f"the N→4N pair needs {n_big} cores; this process may use {cores}"
        )
    levels = sorted({c for c in ladder if c <= cores} | {n_small, n_big})

    # Each leg is launched through the REAL `spark-submit --py-files` form
    # the north rule names (round 7): the submitter owns topology
    # (--master local[N], --driver-memory), the package ships as the zip,
    # and get_spark defers to the submitted gateway (session.py). The
    # primary script is this file in --extract-only mode.
    import pyspark

    from grobid_clinical_report_spark.pyfiles import build as build_zip

    cache = os.path.join(REPO, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    pyfiles = build_zip(
        os.path.join(cache, "grobid_clinical_report_spark.zip"),
        repo_root=REPO,
    )
    submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )

    def one_leg(cpus: int) -> dict:
        _gate_idle()  # each attempt starts on an idle box (or times out)
        out = subprocess.run(
            [
                submit,
                "--master", f"local[{cpus}]",
                "--driver-memory", os.environ.get("SPARK_DRIVER_MEM", "8g"),
                "--py-files", pyfiles,
                __file__, "--extract-only", str(cpus),
            ],
            capture_output=True,
            text=True,
            cwd=REPO,
            env={
                **os.environ,
                "SPARK_GRAFT_SF_DIR": SF_DIR,
                "PYSPARK_PYTHON": sys.executable,
                "PYSPARK_DRIVER_PYTHON": sys.executable,
            },
            check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    # best-of-2 per leg, fresh JVM each attempt (round 7: an interleaved
    # HEAD-vs-r6 A/B showed same-code 1-core walls swinging 51-71s under
    # co-tenant noise the 1-min load gate cannot see — a single-shot leg
    # is not evidence). Third out-of-family attempt when the pair
    # disagrees >40%, same policy as the headline legs.
    res, attempts = {}, {}
    for cpus in levels:
        runs = [one_leg(cpus), one_leg(cpus)]
        secs = sorted(r["sec"] for r in runs)
        if secs[1] > 1.4 * secs[0]:
            runs.append(one_leg(cpus))
        best = min(runs, key=lambda r: r["sec"])
        res[cpus] = best
        attempts[cpus] = [round(r["sec"], 2) for r in runs]
    thr = {c: r["n_docs"] / r["sec"] for c, r in res.items()}
    eff = (thr[n_big] / thr[n_small]) / (n_big / n_small)
    return {
        "cores": cores,
        "n_small": n_small,
        "n_big": n_big,
        "docs": res[n_small]["n_docs"],
        "sec_small": round(res[n_small]["sec"], 2),
        "sec_big": round(res[n_big]["sec"], 2),
        "docs_per_sec_small": round(thr[n_small], 1),
        "docs_per_sec_big": round(thr[n_big], 1),
        "scaling_efficiency": round(eff, 3),
        "attempts_sec": {str(c): attempts[c] for c in levels},
        "ladder": {
            str(c): {
                "sec": round(res[c]["sec"], 2),
                "docs_per_sec": round(thr[c], 1),
            }
            for c in levels
        },
    }


BASELINE_MD = os.path.join(REPO, "BENCH", "BASELINE.md")

_BASELINE_PREAMBLE = """# BENCH/BASELINE — two-parallelism scaling evidence

Sandbox stand-in for the N vs 4N executor-cluster criterion
(BASELINE.json `north_rule`): the identical extraction job (read parquet →
guardrail filter → full-cascade mapInArrow → noop sink) run on the same
seeded corpus ({docs} docs, ~150 spans/doc median, 2 embedded 21k-span
whales) at several local parallelism levels. Each leg is a real
`spark-submit --master local[N] --py-files grobid_clinical_report_spark.zip
bench.py --extract-only N` launch — fresh JVM, topology owned by the
submitter, package shipped as the zip (the north rule's literal run form).

Each box that has run this ladder has its own section. Walls are not
comparable across boxes; each efficiency is read within its own box.
"""


def _box_section(s: dict) -> str:
    """The `## <cores>-core box` section for one `scaling()` result."""
    ladder_rows = "\n".join(
        f"| {c} | {v['sec']} | {v['docs_per_sec']} |"
        for c, v in sorted(s["ladder"].items(), key=lambda kv: int(kv[0]))
    )
    attempt_rows = "\n".join(
        f"- {c} cores: {', '.join(f'{a}s' for a in atts)}"
        for c, atts in sorted(
            s.get("attempts_sec", {}).items(), key=lambda kv: int(kv[0])
        )
    )
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"""## {s['cores']}-core box

`bench.py --scaling`, measured {time.strftime('%Y-%m-%d')} on a box whose
process may use {s['cores']} cores ({mem_gb:.0f} GB of memory). The ladder is cut
at those cores; each leg waits behind bench's idle gate.

| level | cores | docs | wall (s) | docs/sec |
|---|---|---|---|---|
| N  | {s['n_small']} | {s['docs']} | {s['sec_small']} | {s['docs_per_sec_small']} |
| 4N | {s['n_big']} | {s['docs']} | {s['sec_big']} | {s['docs_per_sec_big']} |

**Scaling efficiency = (thr_4N / thr_N) / 4 = {s['scaling_efficiency']}**
(target ≥ 0.8, BASELINE.md)

Full ladder (same job, same corpus):

| cores | wall (s) | docs/sec |
|---|---|---|
{ladder_rows}

Per-leg attempts (best-of-2 + out-of-family third, fresh JVM each,
idle-gated; the tables above report the per-leg best):
{attempt_rows}
"""


def write_baseline_md(s: dict, path: str = BASELINE_MD) -> None:
    """Write this box's section of BENCH/BASELINE.md. The section headed
    `## <cores>-core box` is replaced up to its first `### ` note (notes
    such as earlier cuts survive), or added before the other boxes'
    sections; the preamble and every other box's section stay byte for
    byte."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        with open(path) as f:
            old = f.read()
    except FileNotFoundError:
        old = _BASELINE_PREAMBLE.format(docs=s["docs"])
    lines = old.splitlines(keepends=True)
    heads = [i for i, ln in enumerate(lines) if ln.startswith("## ")]
    mine = f"## {s['cores']}-core box"
    at = next(
        (i for i in heads if lines[i].rstrip() == mine
         or lines[i].startswith(mine + " ")),
        None,
    )
    if at is None:  # a new box goes first, ahead of the older boxes
        start = end = heads[0] if heads else len(lines)
    else:
        start = at
        end = next(
            (i for i, ln in enumerate(lines)
             if i > at and ln.startswith(("## ", "### "))),
            len(lines),
        )
    section = _box_section(s)
    if end < len(lines):
        section += "\n"
    elif start and lines[start - 1].strip():
        section = "\n" + section
    with open(path, "w") as f:
        f.write("".join(lines[:start]) + section + "".join(lines[end:]))


if __name__ == "__main__":
    if "--extract-only" in sys.argv:
        extract_only(int(sys.argv[sys.argv.index("--extract-only") + 1]))
    elif "--sf10" in sys.argv:
        print(json.dumps(sf10_tier()))
    elif "--train" in sys.argv:
        print(json.dumps(train_tier()))
    elif "--scaling" in sys.argv:
        s = scaling()
        write_baseline_md(s)
        print(json.dumps({"metric": "scaling_efficiency", **s}))
    else:
        result = headline()
        if "--with-scaling" in sys.argv:
            s = scaling()
            write_baseline_md(s)
            result["scaling"] = s
        print(json.dumps(result))
