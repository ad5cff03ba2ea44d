"""Job-level tests: guardrail quarantine, skew salting, manifest resume
(SURVEY.md §5.2.3/5, FIXTURES.md fx-skew-0006 + resume contract)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from grobid_clinical_report_spark import datagen, manifest as mf, runner
from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA


@pytest.fixture(scope="module")
def input_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("docs") / "documents.parquet")
    datagen.write_documents_parquet(
        p, n_docs=40, heavy_docs=1, heavy_spans=600, max_spans=300
    )
    return p


def test_guardrail_split(spark, input_path):
    df = spark.read.parquet(input_path)
    ok, bad = runner.split_guardrail(df, max_spans=500)
    assert bad.count() == 1  # the heavy doc over the cap
    assert ok.count() == df.count() - 1


def test_salt_partition_fills_every_partition(spark, tmp_path):
    """Each of k partitions gets rows, and each row sits in partition
    pmod(hash(doc_id), k): one hash of doc_id, not a salt in [0, k) hashed a
    second time (which put every row of 400 docs into one partition at k=2)."""
    p = str(tmp_path / "docs.parquet")
    datagen.write_documents_parquet(p, n_docs=400, max_spans=20)
    df = spark.read.parquet(p).select("doc_id")
    for k in (2, 3, 4, 8):
        rows = (
            runner.salt_partition(df, k)
            .select(
                F.spark_partition_id().alias("pid"),
                F.pmod(F.hash("doc_id"), F.lit(k)).alias("want"),
            )
            .collect()
        )
        assert len(rows) >= 400
        assert len({r["pid"] for r in rows}) == k, k
        assert all(r["pid"] == r["want"] for r in rows), k


def test_job_runs_and_resumes_idempotently(spark, input_path, tmp_path):
    out = str(tmp_path / "out")
    m1 = runner.run_extraction_job(
        spark, input_path, out, n_buckets=4, max_spans=500
    )
    assert m1["buckets_run"] == 4
    assert m1["quarantined"] == 1
    # the wave's tasks ran side by side: its four buckets' batches spread
    # over more than one task
    assert m1["peak_concurrency"] >= 2
    first = {
        r["doc_id"]: r["spans"]
        for r in runner.read_extracted(spark, out).collect()
    }
    assert len(first) == m1["docs"] > 0

    # simulate a crash after 4 committed buckets: delete one bucket's data
    # AND its manifest row → resume must redo exactly that bucket
    import shutil

    shutil.rmtree(os.path.join(out, "bucket=2"))
    done_before = mf.completed_buckets(spark, out)
    assert done_before == {0, 1, 2, 3}
    # rewrite manifest without bucket 2 (a crash before commit)
    m = mf.read_manifest(spark, out).filter(F.col("bucket") != 2)
    pdf = m.toPandas()
    shutil.rmtree(mf.manifest_path(out))
    spark.createDataFrame(pdf, mf.MANIFEST_SCHEMA).write.parquet(
        mf.manifest_path(out)
    )
    # these parquet rows are the format an older writer appended: they
    # still refuse an incompatible job
    with pytest.raises(ValueError, match="incompatible"):
        runner.run_extraction_job(
            spark, input_path, out, n_buckets=4, max_spans=400
        )

    m2 = runner.run_extraction_job(
        spark, input_path, out, n_buckets=4, max_spans=500
    )
    assert m2["buckets_run"] == 1  # only the missing bucket
    assert mf.completed_buckets(spark, out) == {0, 1, 2, 3}
    second = {
        r["doc_id"]: r["spans"]
        for r in runner.read_extracted(spark, out).collect()
    }
    assert second == first  # byte-identical resume (FIXTURES.md §5)

    # a third run is a no-op
    m3 = runner.run_extraction_job(
        spark, input_path, out, n_buckets=4, max_spans=500
    )
    assert m3["buckets_run"] == 0


def test_crash_between_write_and_commit_resumes_exactly(
    spark, input_path, tmp_path, monkeypatch
):
    """A crash after a bucket's write_spans but before its manifest commit
    leaves spans on disk with no manifest row. The re-run must redo exactly
    that bucket, end with output equal to an uninterrupted run, and leave a
    third run with nothing to do."""
    ref, out = str(tmp_path / "ref"), str(tmp_path / "out")
    runner.run_extraction_job(spark, input_path, ref, n_buckets=4, max_spans=500)
    want = {
        r["doc_id"]: r["spans"]
        for r in runner.read_extracted(spark, ref).collect()
    }

    real_commit = mf.commit_bucket
    crashed = []

    def commit_or_crash(spark_, output_path, bucket, *args, **kwargs):
        if bucket == 2 and not crashed:
            crashed.append(bucket)
            # the bucket's spans are already written
            assert os.listdir(os.path.join(output_path, "bucket=2"))
            raise RuntimeError("injected crash before the manifest commit")
        return real_commit(spark_, output_path, bucket, *args, **kwargs)

    monkeypatch.setattr(mf, "commit_bucket", commit_or_crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner.run_extraction_job(
            spark, input_path, out, n_buckets=4, max_spans=500
        )
    assert crashed == [2]
    assert mf.completed_buckets(spark, out) == {0, 1, 3}

    m2 = runner.run_extraction_job(
        spark, input_path, out, n_buckets=4, max_spans=500
    )
    assert m2["buckets_run"] == 1  # only the uncommitted bucket
    got = {
        r["doc_id"]: r["spans"]
        for r in runner.read_extracted(spark, out).collect()
    }
    assert got == want
    m3 = runner.run_extraction_job(
        spark, input_path, out, n_buckets=4, max_spans=500
    )
    assert m3["buckets_run"] == 0


def test_staged_buckets_match_unstaged(spark, input_path, tmp_path):
    """stage_buckets=True (one-pass bucket-partitioned staging, directory
    pruning per bucket job) must produce byte-identical output to the
    unstaged path, and the staged copy must actually exist partitioned."""
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    ma = runner.run_extraction_job(
        spark, input_path, out_a, n_buckets=4, max_spans=500
    )
    mb = runner.run_extraction_job(
        spark, input_path, out_b, n_buckets=4, max_spans=500,
        stage_buckets=True,
    )
    assert (ma["docs"], ma["spans"]) == (mb["docs"], mb["spans"])
    a = {
        r["doc_id"]: r["spans"]
        for r in runner.read_extracted(spark, out_a).collect()
    }
    b = {
        r["doc_id"]: r["spans"]
        for r in runner.read_extracted(spark, out_b).collect()
    }
    assert a == b
    assert os.path.isdir(os.path.join(out_b, "_staged_input", "bucket=3"))
    # resume over a staged run is still a no-op (staging reused, 0 buckets)
    m3 = runner.run_extraction_job(
        spark, input_path, out_b, n_buckets=4, max_spans=500,
        stage_buckets=True,
    )
    assert m3["buckets_run"] == 0


def test_stale_staging_restaged_on_param_change(spark, input_path, tmp_path):
    """ADVICE r3 (medium): a leftover staging from a crashed run with MORE
    buckets must not be trusted by a new run with fewer buckets — documents
    in buckets >= n_buckets would silently vanish. The _STAGING_META.json
    sidecar (one file written through the Hadoop FileSystem API, so it
    lives on the same filesystem as the staged data) pins
    (n_buckets, input_path) exactly."""
    import glob
    import json

    def read_meta(staged_dir):
        with open(os.path.join(staged_dir, "_STAGING_META.json")) as f:
            return json.loads(f.readline())

    staged = str(tmp_path / "staged")
    # simulate the crashed prior run: staged with 8 buckets, no manifest
    runner.stage_bucketed_input(spark, input_path, staged, n_buckets=8)
    assert len(glob.glob(os.path.join(staged, "bucket=*"))) == 8
    # same params → skipped (idempotent): mtime of the sidecar file
    # unchanged
    [meta_part] = glob.glob(os.path.join(staged, "_STAGING_META.json"))
    t0 = os.path.getmtime(meta_part)
    runner.stage_bucketed_input(spark, input_path, staged, n_buckets=8)
    assert os.path.getmtime(meta_part) == t0
    # fewer buckets → MUST re-stage (old guard passed because bucket=1 dir
    # existed, dropping buckets 2..7)
    runner.stage_bucketed_input(spark, input_path, staged, n_buckets=2)
    assert sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(staged, "bucket=*"))
    ) == ["bucket=0", "bucket=1"]
    assert read_meta(staged)["n_buckets"] == 2
    # every document survives the re-staging
    n_in = spark.read.parquet(input_path).count()
    assert spark.read.parquet(staged).count() == n_in
    # changed input path → re-stage too (content may differ)
    other = str(tmp_path / "docs2.parquet")
    datagen.write_documents_parquet(other, n_docs=7)
    runner.stage_bucketed_input(spark, other, staged, n_buckets=2)
    assert (
        spark.read.parquet(staged).count()
        == spark.read.parquet(other).count()
    )


def test_fixtures_survive_inside_scale_run(spark, input_path, tmp_path):
    """Fixture docs embedded in the corpus extract identically inside a
    bucketed scale run (FIXTURES.md §4)."""
    out = str(tmp_path / "out2")
    runner.run_extraction_job(spark, input_path, out, n_buckets=2, max_spans=500)
    rows = {
        r["doc_id"]: r["spans"]
        for r in runner.read_extracted(spark, out).collect()
    }
    got = [
        (s["kind"], s["text"], s["media_ref"]) for s in rows["fx-full-0001"]
    ]
    assert got == [tuple(e) for e in datagen.FX_FULL_EXPECTED]


def test_resume_rejects_incompatible_config(spark, input_path, tmp_path):
    """Resume must refuse to mix outputs of different job shapes (mode /
    n_buckets / max_spans / input) under one output directory."""
    out = str(tmp_path / "out3")
    runner.run_extraction_job(
        spark, input_path, out, n_buckets=2, max_spans=500
    )
    for kw in (
        {"mode": "extract_header"},
        {"n_buckets": 4},
        {"max_spans": 400},
    ):
        with pytest.raises(ValueError, match="incompatible"):
            runner.run_extraction_job(
                spark, input_path, out,
                **{"n_buckets": 2, "max_spans": 500, **kw},
            )


def test_quarantine_cleared_on_recompute(spark, input_path, tmp_path):
    """Re-running with a raised max_spans (resume=False) must not leave
    stale quarantine rows from the stricter previous run."""
    out = str(tmp_path / "out4")
    m1 = runner.run_extraction_job(
        spark, input_path, out, n_buckets=2, max_spans=500
    )
    assert m1["quarantined"] == 1
    m2 = runner.run_extraction_job(
        spark, input_path, out, n_buckets=2, max_spans=100_000, resume=False
    )
    assert m2["quarantined"] == 0
    q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
    assert q.count() == 0


def test_quarantine_reprocessing_chunks_whales(spark, input_path, tmp_path):
    """Second-pass whale path: the quarantined doc is windowed, extracted,
    and re-merged with offsets in order — quarantine doesn't lose data.
    continuity_cap == max_spans forces the WINDOWED (>cap) branch so this
    covers the monster-tail path, not the un-windowed continuity path."""
    out = str(tmp_path / "out5")
    m = runner.run_extraction_job(
        spark, input_path, out, n_buckets=2, max_spans=500
    )
    assert m["quarantined"] == 1
    q = runner.process_quarantined(
        spark, input_path, out, max_spans=500, continuity_cap=500
    )
    assert q["docs"] == 1 and q["spans"] > 0
    rows = spark.read.parquet(os.path.join(out, "bucket=quarantine")).collect()
    spans = rows[0]["spans"]
    offs = [s["offset"] for s in spans]
    assert offs == sorted(offs)
    # the unified bucket=* view now covers ALL docs (whales included —
    # bucket=quarantine sits next to the regular buckets)
    total = runner.read_extracted(spark, out).count()
    docs_in = spark.read.parquet(input_path).count()
    assert total == docs_in


def test_quarantine_zone_continuity(spark, tmp_path):
    """VERDICT r3 #5: a whale whose HEADER crosses the window boundary must
    produce the same spans as an un-windowed run with a raised cap. Whales
    under continuity_cap take the un-windowed path, so zone decisions are
    document-global — no re-opened zones, no double-emitted fields."""
    import pandas as pd

    from grobid_clinical_report_spark.pipeline import PANDAS_MODES

    cap = 20
    # header block of 26 lines (crosses the 20-span window boundary),
    # then a body with clear structure
    lines = [("text", "COMPTE RENDU OPÉRATOIRE", None),
             ("text", "Le 12.03.2019", None)]
    lines += [
        ("text", f"Service de Chirurgie {i} — 9401{i % 10} CRETEIL", None)
        for i in range(24)
    ]
    lines += [("text", "", None),
              ("text", "INTERVENTION :", None)]
    lines += [
        ("text", f"Le geste opératoire numéro {i} s'est déroulé sans "
                 "complication notable.", None)
        for i in range(10)
    ]
    spans = datagen._with_offsets(lines)
    pdf = pd.DataFrame([{"doc_id": "whale-hdr", "spans": spans}])

    inp = str(tmp_path / "whale.parquet")
    spark.createDataFrame(pdf, DOCUMENTS_SCHEMA).write.parquet(inp)
    out = str(tmp_path / "out6")
    m = runner.run_extraction_job(
        spark, inp, out, n_buckets=1, max_spans=cap
    )
    assert m["quarantined"] == 1
    runner.process_quarantined(spark, inp, out, max_spans=cap)
    got = spark.read.parquet(
        os.path.join(out, "bucket=quarantine")
    ).collect()
    got_spans = [
        (s["kind"], s["text"], s["media_ref"]) for s in got[0]["spans"]
    ]
    want = PANDAS_MODES["extract_full"](pdf)  # un-windowed reference run
    want_spans = [
        (s["kind"], s["text"], s["media_ref"])
        for s in want["spans"].iloc[0]
    ]
    assert got_spans == want_spans


def test_jsonl_documents_round_trip_and_extraction(spark, tmp_path):
    """JSON-lines source/sink (io.py): the LLM-corpus interchange shape.
    Write the documents table as .jsonl, read it back with the ENFORCED
    schema, and the rows — and a full extraction pass over them — must
    match the parquet path exactly (including null media_ref fields on
    text spans, which ignoreNullFields would otherwise drop)."""
    from grobid_clinical_report_spark import datagen
    from grobid_clinical_report_spark.io import read_documents, write_spans
    from grobid_clinical_report_spark.pipeline import run_mode

    pq_dir = str(tmp_path / "docs_pq")
    datagen.write_documents_parquet(pq_dir, n_docs=40, shards=2)
    docs_pq = read_documents(spark, pq_dir).select("doc_id", "spans")

    jl_dir = str(tmp_path / "docs.jsonl")
    write_spans(docs_pq, jl_dir)
    docs_jl = read_documents(spark, jl_dir).select("doc_id", "spans")

    def rows(df):
        return sorted(
            (
                r["doc_id"],
                tuple(
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in r["spans"]
                ),
            )
            for r in df.collect()
        )

    assert rows(docs_jl) == rows(docs_pq)
    got = rows(run_mode(docs_jl, "extract_full"))
    want = rows(run_mode(docs_pq, "extract_full"))
    # 40 synthetic + the embedded fixture corpus
    assert got == want and len(got) == docs_pq.count()


def test_jsonl_corrupt_lines_quarantined_not_dropped(spark, tmp_path):
    """A corrupt line in a JSONL corpus must neither crash the job nor
    vanish: it lands on the quarantine side of split_guardrail (counted,
    stored) while the well-formed documents extract normally."""
    import json as _json

    from grobid_clinical_report_spark import runner
    from grobid_clinical_report_spark.io import read_documents

    jl = tmp_path / "docs.jsonl"
    good = {
        "doc_id": "ok-1",
        "spans": [
            {"kind": "line", "text": "DIAGNOSTIC :", "media_ref": None,
             "offset": 0}
        ],
    }
    jl.write_text(
        _json.dumps(good)
        + "\nTHIS IS NOT JSON\n"
        + '{"doc_id": "bad-spans", "spans": "nope"}\n'
    )
    docs = read_documents(spark, str(jl)).select("doc_id", "spans")
    ok, bad = runner.split_guardrail(docs)
    assert [r["doc_id"] for r in ok.collect()] == ["ok-1"]
    assert sorted(
        (r["doc_id"] or "<corrupt>") for r in bad.collect()
    ) == ["<corrupt>", "bad-spans"]

    out = str(tmp_path / "out")
    m = runner.run_extraction_job(spark, str(jl), out, n_buckets=1)
    assert m["docs"] == 1 and m["quarantined"] == 2


def test_chunked_corpus_writer_matches_single_shot_semantics(spark, tmp_path):
    """write_documents_parquet_chunked must read exactly like the one-frame
    writer's output: unique doc_ids across chunks (seed-embedded ids),
    fixtures and heavy whales present ONCE (chunk 0 only), same schema. The
    chunked path exists because the one-frame build peaks at ~10x the
    parquet size in RAM (a 2M-doc corpus OOM-risks a 128 GB box). One
    shard per chunk writes one file per chunk."""
    from grobid_clinical_report_spark import datagen

    single = str(tmp_path / "single")
    datagen.write_documents_parquet(single, n_docs=10)
    for shards in (4, 1):
        p = str(tmp_path / f"chunked{shards}")
        datagen.write_documents_parquet_chunked(
            p, n_docs=900, chunk_docs=400, shards_per_chunk=shards,
            heavy_docs=2,
        )
        assert len(os.listdir(p)) == 3 * shards
        df = spark.read.parquet(p)
        total = df.count()
        n_fx = df.filter("doc_id like 'fx-%'").count()
        assert total == 900 + n_fx + 2 and n_fx > 0
        assert df.select("doc_id").distinct().count() == total
        # exactly the single-shot writer's schema (the extraction input DDL)
        assert df.schema == spark.read.parquet(single).schema
        # whales only once
        heavy = df.selectExpr("size(spans) as n").filter("n >= 20000").count()
        assert heavy == 2


def test_trained_weights_serve_extraction(spark, input_path, tmp_path):
    """Deployment: run_extraction_job with extract_fn (a trained decoder)
    produces the same rows as run_trained_ner applied directly; resume is
    idempotent under the same job_tag and REFUSED under a different one
    (different weights must never mix into one output directory)."""
    import numpy as np

    from grobid_clinical_report_spark import trainer
    from grobid_clinical_report_spark.io import read_documents

    docs = read_documents(spark, input_path).select("doc_id", "spans")
    ts = trainer.build_training_set(docs).cache()
    W, T, _ = trainer.train(ts, epochs=2, shards=2, batch_docs=8)
    ts.unpersist()

    out = str(tmp_path / "served")
    fn = lambda df: trainer.run_trained_ner(df, W, T)  # noqa: E731
    m1 = runner.run_extraction_job(
        spark, input_path, out, mode="ner", n_buckets=3, max_spans=500,
        extract_fn=fn, job_tag="wtest1",
    )
    assert m1["buckets_run"] == 3
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["offset"]) for s in r["spans"]]
        for r in runner.read_extracted(spark, out).collect()
    }
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["offset"]) for s in r["spans"]]
        for r in trainer.run_trained_ner(
            docs.where(F.size("spans") <= 500), W, T
        ).collect()
    }
    assert got == want

    m2 = runner.run_extraction_job(
        spark, input_path, out, mode="ner", n_buckets=3, max_spans=500,
        extract_fn=fn, job_tag="wtest1",
    )
    assert m2["buckets_run"] == 0
    with pytest.raises(ValueError, match="incompatible"):
        runner.run_extraction_job(
            spark, input_path, out, mode="ner", n_buckets=3, max_spans=500,
            extract_fn=fn, job_tag="wtest2",
        )
    with pytest.raises(ValueError, match="job_tag"):
        runner.run_extraction_job(
            spark, input_path, str(tmp_path / "x"), mode="ner",
            n_buckets=3, extract_fn=fn,
        )


def test_salt_partition_spreads_a_buckets_light_docs(spark, input_path):
    """Docs are partitioned by a hash independent of with_bucket's: a
    bucket's chunk salted with ``tasks`` dividing ``n_buckets`` spreads over
    more than one partition. With the bucket hash as the salt, every doc of
    bucket b got salt b mod gcd(tasks, n_buckets): one partition."""
    chunk = (
        runner.with_bucket(spark.read.parquet(input_path), 4)
        .filter(F.col("bucket") == 1)
        .drop("bucket")
    )
    salted = runner.salt_partition(chunk, 4)
    pids = [r[0] for r in salted.select(F.spark_partition_id()).collect()]
    assert len(pids) >= 4 and len(set(pids)) > 1


def _docs(spark, rows, path):
    from grobid_clinical_report_spark.schema import DOCUMENTS_DDL

    spark.createDataFrame(
        [
            (doc_id, None if n is None else datagen._with_offsets(
                [("text", f"Ligne {i} du compte rendu", None)
                 for i in range(n)]
            ))
            for doc_id, n in rows
        ],
        DOCUMENTS_DDL,
    ).write.parquet(path)


def test_job_output_and_quarantine_hold_every_row_once(spark, tmp_path):
    """Exactly once at the job level: every input row lands once in the
    output or the quarantine, as a multiset of doc_id (None included), with
    duplicate ids, malformed rows (thousands: the size pass only counts a
    bucket's quarantine), an empty doc, docs at and just over the
    guardrail, and admitted heavy docs (one duplicated) that go through
    salt_partition inside the job."""
    from collections import Counter

    cap = 5_002
    malformed = [(f"bad-{i}", None) for i in range(3000)]
    rows = [
        ("dup", 3), ("dup", 3),
        ("heavy", 5_001), ("heavy", 5_001),
        ("null-spans", None), (None, 2),
        ("empty", 0),
        ("at-cap", cap), ("over-cap", cap + 1),
    ] + [(f"doc-{i}", 1 + i % 7) for i in range(12)] + malformed
    inp = str(tmp_path / "docs.parquet")
    _docs(spark, rows, inp)

    out = str(tmp_path / "out")
    m = runner.run_extraction_job(
        spark, inp, out, mode="extract_header", n_buckets=4, max_spans=cap
    )

    got_out = [r["doc_id"] for r in runner.read_extracted(spark, out).collect()]
    q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
    got_q = [r["doc_id"] for r in q.collect()]
    assert Counter(got_out + got_q) == Counter(d for d, _ in rows)
    want_q = [("null-spans", None), (None, 2), ("over-cap", cap + 1)]
    assert sorted(map(tuple, q.select("doc_id", "n_spans").collect()),
                  key=str) == sorted(want_q + malformed, key=str)
    assert (m["docs"], m["quarantined"]) == (len(got_out), 3 + len(malformed))


def _jobs_of(spark, group, calls):
    """The ids of the Spark jobs ``calls()`` starts, under job group
    ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        calls()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_manifest_calls_start_no_spark_job(spark, tmp_path):
    """Commit, pending and the compatibility check run on the driver
    through the Hadoop FileSystem API: no Spark job."""
    out = str(tmp_path / "out")
    config = {"mode": "extract_full", "n_buckets": 4, "max_spans": 500,
              "input_path": "in"}

    def jobs_of(group, calls):
        return _jobs_of(spark, group, calls)

    def commit_and_check():
        for b in (0, 2):
            mf.commit_bucket(
                spark, out, b, 10 + b, 100 + b, b, 0.5, "in", "run-t", config
            )
        assert mf.pending_buckets(spark, out, 4) == [1, 3]
        mf.check_compatible(spark, out, config)
        with pytest.raises(ValueError, match="incompatible"):
            mf.check_compatible(spark, out, {**config, "max_spans": 400})

    assert not jobs_of("manifest-commit", commit_and_check)
    assert [
        (r["bucket"], r["n_docs"], r["n_spans"], r["n_quarantined"],
         r["mode"], r["max_spans"])
        for r in sorted(mf.read_manifest(spark, out).collect())
    ] == [(0, 10, 100, 0, "extract_full", 500),
          (2, 12, 102, 2, "extract_full", 500)]
    # the group does see a job
    assert jobs_of("manifest-count", lambda: spark.range(3).count())


def test_concurrent_commits_lose_no_bucket(spark, tmp_path):
    """Commits are no longer serialized: many threads committing at once,
    more threads than cores and a short switch interval, must each leave
    their bucket done."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    out = str(tmp_path / "out")
    n = 48
    config = {"mode": "m", "n_buckets": n, "max_spans": 1, "input_path": "in"}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            futures = [
                ex.submit(mf.commit_bucket, spark, out, b, 1, 1, 0, 0.0,
                          "in", "run-c", config)
                for b in range(n)
            ]
            for f in futures:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert mf.pending_buckets(spark, out, n) == []
    mf.check_compatible(spark, out, config)


def test_jobs_carry_mode_and_bucket_labels(spark, input_path, tmp_path,
                                           monkeypatch):
    """A wave's job is labelled "<mode> wave=<i> buckets=<b,…>", the size
    pass "<mode> size pass", and afterwards the caller's own label is
    back."""
    sc = spark.sparkContext
    seen = []
    real_size_pass = runner._size_pass

    def size_pass(*args):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return real_size_pass(*args)

    def extract(df):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return df

    monkeypatch.setattr(runner, "_size_pass", size_pass)
    sc.setJobDescription("caller's label")
    try:
        runner.run_extraction_job(
            spark, input_path, str(tmp_path / "out"), mode="ner",
            n_buckets=3, max_spans=500, extract_fn=extract, job_tag="labels",
        )
        assert seen == ["ner size pass", "ner wave=0 buckets=0,1,2"]
        assert sc.getLocalProperty("spark.job.description") == "caller's label"
    finally:
        sc.setJobDescription(None)


def test_one_wave_starts_one_extraction_job(spark, input_path, tmp_path):
    """Pending buckets that fit one wave are extracted by one Spark job: a
    run over 8 buckets starts as many jobs as a run over 1, and a run that
    quarantines nothing starts one job fewer (no quarantine write)."""
    def jobs(name, n_buckets, max_spans=500):
        return len(_jobs_of(spark, name, lambda: runner.run_extraction_job(
            spark, input_path, str(tmp_path / name), n_buckets=n_buckets,
            max_spans=max_spans,
        )))

    one = jobs("wave-1", 1)
    assert jobs("wave-8", 8) == one
    assert jobs("wave-8-clean", 8, max_spans=100_000) == one - 1


def test_waves_cut_at_the_span_budget():
    """Pending buckets join a wave while its admitted spans fit ``cores``
    mapper batches; a bucket over that runs alone, and a bucket with no
    admitted spans never starts a wave of its own."""
    c = runner._COALESCE_SPANS

    def waves(*spans, cores=2):
        sizes = {b: {"spans": n} for b, n in enumerate(spans)}
        return runner._waves(list(sizes), sizes, cores)

    assert runner._waves([], {}, 4) == []
    assert waves(c, c) == [[0, 1]]  # exactly the budget
    assert waves(c, c, 1) == [[0, 1], [2]]
    assert waves(c, c, 1, cores=3) == [[0, 1, 2]]
    assert waves(1, 3 * c, 1) == [[0], [1], [2]]  # oversized: alone
    assert waves(3 * c, 2 * c) == [[0], [1]]
    assert waves(0, 3 * c, 0, 1) == [[0, 1, 2], [3]]
    assert waves(0, 0, 0) == [[0, 1, 2]]
    # pending order is kept, whatever the bucket numbers
    sizes = {5: {"spans": c}, 2: {"spans": c}, 7: {"spans": 1}}
    assert runner._waves([2, 5, 7], sizes, 2) == [[2, 5], [7]]


def test_waves_split_a_run_and_commit_wave_by_wave(spark, input_path,
                                                   tmp_path, monkeypatch):
    """With the mapper-batch span cap lowered to 800, the 40-doc input's 4
    buckets (1,055, 2,093, 1,358 and 1,244 admitted spans) run as two waves
    on 4 cores. Output and quarantine equal a one-wave run's. A crash in
    the second wave leaves the first wave's buckets committed; a resume
    runs the rest as one wave, and a failed commit there leaves only that
    bucket for the next resume."""
    from grobid_clinical_report_spark.pipeline import run_mode

    sc = spark.sparkContext
    labels, crash_in = [], []

    def extract(df):
        label = sc.getLocalProperty("spark.job.description")
        labels.append(label)
        if label in crash_in:
            raise RuntimeError("injected crash in the wave")
        return run_mode(df, "extract_full")

    def run(out, **kw):
        return runner.run_extraction_job(
            spark, input_path, out, n_buckets=4, max_spans=500,
            extract_fn=extract, job_tag="waves", **kw,
        )

    def rows(out):
        got = {r["doc_id"]: r["spans"]
               for r in runner.read_extracted(spark, out).collect()}
        q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
        return got, sorted(map(tuple, q.select("doc_id", "n_spans").collect()))

    one = str(tmp_path / "one")
    assert run(one)["buckets_run"] == 4
    assert labels == ["extract_full wave=0 buckets=0,1,2,3"]
    want = rows(one)

    monkeypatch.setattr(runner, "_COALESCE_SPANS", 800)
    two = str(tmp_path / "two")
    labels.clear()
    m = run(two)
    assert labels == ["extract_full wave=0 buckets=0,1",
                      "extract_full wave=1 buckets=2,3"]
    assert (m["buckets_run"], m["quarantined"], m["peak_concurrency"]) == (
        4, 1, 4)
    assert rows(two) == want

    out = str(tmp_path / "out")
    crash_in.append("extract_full wave=1 buckets=2,3")
    with pytest.raises(RuntimeError, match="injected crash in the wave"):
        run(out)
    assert mf.completed_buckets(spark, out) == {0, 1}

    real_commit = mf.commit_bucket

    def commit_or_fail(spark_, output_path, bucket, *args, **kwargs):
        if bucket == 2:
            raise RuntimeError("injected commit failure")
        return real_commit(spark_, output_path, bucket, *args, **kwargs)

    labels.clear()
    crash_in.clear()
    monkeypatch.setattr(mf, "commit_bucket", commit_or_fail)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        run(out)
    assert labels == ["extract_full wave=0 buckets=2,3"]
    assert mf.completed_buckets(spark, out) == {0, 1, 3}

    monkeypatch.setattr(mf, "commit_bucket", real_commit)
    labels.clear()
    assert run(out)["buckets_run"] == 1
    assert labels == ["extract_full wave=0 buckets=2"]
    assert rows(out) == want
    assert run(out)["buckets_run"] == 0


def test_recompute_leaves_every_bucket_and_no_stale_rows(spark, input_path,
                                                         tmp_path):
    """A recompute over an earlier output leaves exactly its own buckets'
    output and quarantine directories, holding exactly this run's rows:
    after the whale pass wrote ``bucket=quarantine`` (each doc is then read
    once), with fewer buckets than the run before, with an input whose
    buckets are partly empty, and with an input whose every row is
    quarantined (0 output rows, not a missing path). A file the job did
    not write survives every recompute; the committer's staging does not."""
    import glob
    import shutil

    out = str(tmp_path / "out")
    runner.run_extraction_job(spark, input_path, out, n_buckets=4,
                              max_spans=500)
    runner.process_quarantined(spark, input_path, out, max_spans=500)
    assert os.path.isdir(os.path.join(out, "bucket=quarantine"))
    notes = os.path.join(out, "notes.txt")
    with open(notes, "w") as f:
        f.write("not the job's\n")
    # task output a killed driver left in the committer's staging: a
    # copy of bucket 0's rows, which a job commit would merge back
    task = os.path.join(out, "_temporary", "0", "task_x", "bucket=0")
    os.makedirs(task)
    shutil.copy(max(glob.glob(os.path.join(out, "bucket=0", "*.parquet")),
                    key=os.path.getsize), os.path.join(task, "part-0.parquet"))

    sizes = {r["doc_id"]: r["n"] for r in spark.read.parquet(input_path)
             .select("doc_id", F.size("spans").alias("n")).collect()}
    every = sorted(sizes)
    admitted = sorted(d for d, n in sizes.items() if n <= 500)
    whales = sorted(d for d, n in sizes.items() if n > 500)
    assert whales and len(every) == len(sizes)
    for name, docs, n, cap, want_out, want_q in (
        ("after-whale-pass", input_path, 4, 100_000, every, []),
        ("fewer-buckets", input_path, 2, 500, admitted, whales),
        ("one-doc", [("only", 3)], 4, 500, ["only"], []),
        ("all-quarantined", [("w1", 9), ("w2", 12), ("bad", None)], 4, 5,
         [], ["bad", "w1", "w2"]),
    ):
        inp = docs
        if not isinstance(docs, str):
            inp = str(tmp_path / f"{name}.parquet")
            _docs(spark, docs, inp)
        m = runner.run_extraction_job(spark, inp, out, n_buckets=n,
                                      max_spans=cap, resume=False)
        assert m["buckets_run"] == n, name
        want_dirs = [f"bucket={b}" for b in range(n)]
        for root in (out, os.path.join(out, "_quarantine")):
            got_dirs = sorted(os.path.basename(d) for d in
                              glob.glob(os.path.join(root, "bucket=*")))
            assert got_dirs == want_dirs, (name, root)
        got = sorted(r["doc_id"] for r in
                     runner.read_extracted(spark, out).collect())
        assert got == want_out, name
        q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
        assert sorted(r["doc_id"] for r in q.collect()) == want_q, name
        with open(notes) as f:
            assert f.read() == "not the job's\n", name
        assert not os.path.exists(os.path.join(out, "_temporary")), name


def test_resume_merges_no_task_output_a_killed_driver_left(
    spark, input_path, tmp_path
):
    """A driver killed after some of a wave's tasks committed, but before
    the job commit, leaves their output under the committer's
    ``_temporary``. The next job commit of the default (v1)
    FileOutputCommitter merges every committed task directory it finds
    there, so the resume of that bucket must clear it first: each doc is
    then read once, from its bucket and from the quarantine alike."""
    import glob
    import shutil

    out = str(tmp_path / "out")
    q_root = os.path.join(out, "_quarantine")
    runner.run_extraction_job(spark, input_path, out, n_buckets=4,
                              max_spans=500)

    def rows(root):
        return sorted(r["doc_id"] for r in spark.read.parquet(
            os.path.join(root, "bucket=*")).collect())

    want, want_q = rows(out), rows(q_root)
    # the whale's bucket holds rows in both the output and the quarantine
    (b,) = {r["bucket"] for r in spark.read.parquet(q_root).collect()}
    for f in glob.glob(os.path.join(mf.manifest_path(out), f"_done-{b}-*")):
        os.remove(f)
    for root in (out, q_root):
        part = max(glob.glob(os.path.join(root, f"bucket={b}", "*.parquet")),
                   key=os.path.getsize)
        task = os.path.join(root, "_temporary", "0", "task_x", f"bucket={b}")
        os.makedirs(task)
        shutil.copy(part, os.path.join(task, "part-0.parquet"))

    m = runner.run_extraction_job(spark, input_path, out, n_buckets=4,
                                  max_spans=500)
    assert m["buckets_run"] == 1
    assert rows(out) == want
    assert rows(q_root) == want_q


def test_staging_check_starts_no_spark_job(spark, input_path, tmp_path):
    """A staging whose marker and _STAGING_META.json sidecar match is
    skipped on the driver, through the Hadoop FileSystem API: no Spark job.
    A staging whose sidecar is a 1-row text dataset (the earlier format) is
    restaged once, and then skipped."""
    import json

    staged = str(tmp_path / "staged")

    def stage():
        runner.stage_bucketed_input(spark, input_path, staged, n_buckets=4)

    stage()
    assert not _jobs_of(spark, "staging-skip", stage)
    # the earlier format: a text dataset directory instead of the file
    meta = os.path.join(staged, "_STAGING_META.json")
    with open(meta) as f:
        line = f.readline()
    os.remove(meta)
    os.makedirs(os.path.join(staged, "_STAGING_META"))
    with open(os.path.join(staged, "_STAGING_META", "part-00000"), "w") as f:
        f.write(line)
    assert _jobs_of(spark, "staging-old-format", stage)
    assert not os.path.exists(os.path.join(staged, "_STAGING_META"))
    with open(meta) as f:
        assert json.loads(f.readline()) == {
            "input_path": input_path, "n_buckets": 4
        }
    assert not _jobs_of(spark, "staging-skip-again", stage)
    assert spark.read.parquet(staged).count() == spark.read.parquet(
        input_path
    ).count()
