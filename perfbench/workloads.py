"""The workloads, driven from outside through the engine's public entry
points: ``pipeline.run_mode`` for the single-pass workloads and
``runner.run_extraction_job`` for the batch job. See README.md for why each
workload exists and what it should move."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import functions as F

from grobid_clinical_report_spark import datagen, manifest, pipeline, runner
from grobid_clinical_report_spark.session import get_spark

from . import layers
from .layers import metric
from .procstat import TreeSampler
from .sparkrest import SparkRest

CPUS = len(os.sched_getaffinity(0))
LADDER_REPS = 2
# the set-up ends with WARM_PASSES identity mapInArrow passes over the
# corpus: on a new JVM the scan and the Arrow boundary take that many passes
# before the JIT settles their CPU, and they cost a fraction of a mode pass.
# Single-pass workloads then time at least MIN_PASSES passes and report the
# median; a job pass outlasts a run on its own.
WARM_PASSES = 6
MIN_PASSES = 4

# corpora: sized so one run fits the benchmark's time budget at local[4]
SPANS_DOCS = 3000  # log-normal, median ~120 spans
SPANS_WHALES = (2, 20_000)  # (count, spans each)
SHORT_DOCS = 2000  # median ~40 spans
SHORT_WHALES = (2, 60_000)  # above runner.DEFAULT_MAX_SPANS: quarantined
SHORT_SEED_OFFSET = 1_000_003  # the job corpus uses another seed
# one equal data file per core: the scan's default split then gives every
# core one task of the same size, and the mapper sees large batches, as at
# production split sizes. The whales sit in the first file.
SHARDS = CPUS
N_BUCKETS = 8

WORKLOAD_MODE = {
    "full_cascade": "extract_full",
    "ner_tokens": "ner",
    "header_job": "extract_header",
}


class InjectedCrash(RuntimeError):
    """Raised once by the wrapped manifest commit of the crashed bucket."""


@dataclass
class Pass:
    wall_s: float
    cpu_s: float
    docs: int  # documents attempted
    failed: int  # lost, quarantined unexpectedly, or wrong
    resume_s: float = 0.0
    buckets_resumed: int = 0
    jobs: set = field(default_factory=set)


def _identity(batches):
    yield from batches


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, root: str, work: str, cache: str):
        self.root, self.work, self.cache = root, work, cache
        self.spark = None
        self.sampler: TreeSampler | None = None
        self.session_start_s = 0.0
        self.correct = True
        self.notes: list[str] = []
        self.driver_calls: dict[str, list] = {
            "commit": [], "pending": [], "bucket_walls": []
        }
        self.crash_bucket: int | None = None
        self.quarantined = 0
        self.peak_concurrency = 0  # of the job without the crash (traced runs)
        self.rest: SparkRest | None = None  # set in traced runs

    # -- session -------------------------------------------------------------

    def _start_session(self, mode: str) -> float:
        """Launch a JVM and start the session on it; returns the wall."""
        t0 = time.monotonic()
        self.spark = get_spark(app="perfbench", cpus=CPUS)
        elapsed = time.monotonic() - t0
        self.spark.sparkContext.setLogLevel("FATAL")
        pipeline.apply_split_hint(self.spark, mode)
        self.sampler = TreeSampler(SparkContext._gateway.proc.pid)
        return elapsed

    def close(self) -> None:
        """Stop Spark, the JVM and every process it started, and wait."""
        gw = SparkContext._gateway
        if gw is None:
            return
        pids = set(self.sampler._tree()) if self.sampler else set()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 20
        while pids and time.monotonic() < deadline:
            pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass

    # -- inputs --------------------------------------------------------------

    def corpus(self, workload: str, seed: int) -> str:
        if workload == "header_job":
            name = f"short-{SHORT_DOCS}w{SHORT_WHALES[1]}s{SHARDS}-{seed}"
            kw = dict(
                n_docs=SHORT_DOCS, seed=seed + SHORT_SEED_OFFSET, median_spans=40,
                heavy_docs=SHORT_WHALES[0], heavy_spans=SHORT_WHALES[1],
            )
        else:
            name = f"spans-{SPANS_DOCS}w{SPANS_WHALES[1]}s{SHARDS}-{seed}"
            kw = dict(
                n_docs=SPANS_DOCS, seed=seed,
                heavy_docs=SPANS_WHALES[0], heavy_spans=SPANS_WHALES[1],
            )
        path = os.path.join(self.cache, name)
        if not os.path.isdir(path):
            tmp = os.path.join(self.work, name)
            datagen.write_documents_parquet(tmp, shards=SHARDS, **kw)
            os.makedirs(self.cache, exist_ok=True)
            try:
                os.rename(tmp, path)
            except OSError:  # written meanwhile by another run
                shutil.rmtree(tmp, ignore_errors=True)
        return path

    @staticmethod
    def n_docs(path: str) -> int:
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path) if f.endswith(".parquet")
        )

    # -- correctness ---------------------------------------------------------

    def _fixture_failures(self, mode: str, fixtures) -> int:
        got = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
            for r in fixtures
        }
        bad = 0
        for doc_id, exp in datagen.FIXTURE_EXPECTED[mode].items():
            if got.get(doc_id) != [tuple(e) for e in exp]:
                bad += 1
                self.notes.append(f"fixture mismatch: {mode}/{doc_id}")
        return bad

    @staticmethod
    def digest(out) -> dict:
        """Docs, spans, an order-sensitive digest of every output row (the
        span list hashes in order; rows fold with xor, so the digest does not
        depend on which task emitted a row) and the fixture rows."""
        r = out.agg(
            F.count(F.lit(1)).alias("docs"),
            F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("spans"),
            F.coalesce(F.bit_xor(F.xxhash64("doc_id", "spans")), F.lit(0)).alias("x"),
            F.collect_list(
                F.when(F.col("doc_id").startswith("fx-"), F.struct("doc_id", "spans"))
            ).alias("fixtures"),
        ).collect()[0]
        return {
            "docs": r["docs"],
            "spans": r["spans"],
            "digest": f"{r['docs']}:{r['spans']}:{r['x'] & (2**64 - 1):016x}",
            "fixtures": r["fixtures"],
        }

    def record_digest(self, workload: str, seed: int, digest: str) -> None:
        """Digests must repeat for a seed across runs in this checkout."""
        path = os.path.join(self.cache, "digests.json")
        try:
            with open(path) as f:
                seen = json.load(f)
        except (OSError, ValueError):
            seen = {}
        key = f"{workload}/{seed}"
        if seen.get(key, digest) != digest:
            self.correct = False
            self.notes.append(f"digest {digest} != earlier run's {seen[key]}")
        seen.setdefault(key, digest)
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    # -- set-up --------------------------------------------------------------

    def setup(self, mode: str, corpus: str) -> float:
        """Session start plus warm-up: the JVM launch, the session, the mode
        over the embedded fixture documents on every core (this spawns the
        Python workers and is the fixture span-equality gate), then the
        identity passes that warm the JIT."""
        t0 = time.monotonic()
        self.session_start_s = self._start_session(mode)
        fx = (
            self.spark.read.parquet(corpus)
            .filter(F.col("doc_id").startswith("fx-"))
            .repartition(CPUS)
        )
        rows = pipeline.run_mode(fx, mode).collect()
        for _ in range(WARM_PASSES):
            df = self.spark.read.parquet(corpus)
            df.mapInArrow(_identity, df.schema).write.format("noop").mode("overwrite").save()
        setup_s = time.monotonic() - t0
        self.notes.append(f"setup: {setup_s:.2f} s (session {self.session_start_s:.2f} s)")
        if self._fixture_failures(mode, rows):
            self.correct = False
        return setup_s

    # -- timed operations ----------------------------------------------------

    def _timed(self, fn):
        """(result, wall, CPU of the Spark process tree, Spark jobs run)."""
        before = self.rest.job_ids() if self.rest else set()
        c0 = self.sampler.cpu_s()
        t0 = time.monotonic()
        res = fn()
        wall = time.monotonic() - t0
        cpu = self.sampler.cpu_s() - c0
        jobs = self.rest.job_ids() - before if self.rest else set()
        return res, wall, cpu, jobs

    def noop_pass(self, mode: str, corpus: str, n_in: int, failed: int) -> Pass:
        """One pass of the mode over the whole corpus to the noop sink.
        ``failed`` is what ``check_output`` found for the same plan."""
        out = pipeline.run_mode(self.spark.read.parquet(corpus), mode)
        _, wall, cpu, jobs = self._timed(
            lambda: out.write.format("noop").mode("overwrite").save()
        )
        return Pass(wall, cpu, n_in, failed, jobs=jobs)

    def check_output(self, mode: str, corpus: str, n_in: int) -> tuple[str, int]:
        """The plan of the noop passes, untimed, into the digest: (digest,
        documents lost or wrong)."""
        d = self.digest(pipeline.run_mode(self.spark.read.parquet(corpus), mode))
        failed = max(0, n_in - d["docs"]) + self._fixture_failures(mode, d["fixtures"])
        return d["digest"], failed

    def _install_driver_wrappers(self) -> None:
        """Wrap the manifest's public functions: time them, keep each
        bucket's wall, and raise once in the crashed bucket's commit."""
        calls = self.driver_calls
        real_commit, real_pending = manifest.commit_bucket, manifest.pending_buckets

        def commit_bucket(spark, output_path, bucket, n_docs, n_spans,
                          n_quarantined, wall_sec, *a, **kw):
            calls["bucket_walls"].append(wall_sec)
            if bucket == self.crash_bucket:
                self.crash_bucket = None
                raise InjectedCrash(f"injected crash at bucket {bucket}")
            t0 = time.monotonic()
            real_commit(spark, output_path, bucket, n_docs, n_spans,
                        n_quarantined, wall_sec, *a, **kw)
            calls["commit"].append(time.monotonic() - t0)

        def pending_buckets(*a, **kw):
            t0 = time.monotonic()
            try:
                return real_pending(*a, **kw)
            finally:
                calls["pending"].append(time.monotonic() - t0)

        manifest.commit_bucket = commit_bucket
        manifest.pending_buckets = pending_buckets

    def job_reference(self, corpus: str) -> dict:
        """What an uninterrupted job must produce: the mode over every
        document the guardrail lets through."""
        ok, _ = runner.split_guardrail(self.spark.read.parquet(corpus))
        return self.digest(pipeline.run_mode(ok, "extract_header"))

    def job_pass(self, corpus: str, n_in: int, ref: dict) -> Pass:
        """The batch job with one injected crash at a bucket's manifest
        commit, then the resume, parquet to parquet."""
        out = os.path.join(self.work, "job_out")
        shutil.rmtree(out, ignore_errors=True)
        # the last bucket: by the time its commit fails every other bucket
        # has committed (an earlier failure would also cancel queued ones)
        self.crash_bucket = N_BUCKETS - 1
        args = (self.spark, corpus, out)
        kw = dict(mode="extract_header", n_buckets=N_BUCKETS)

        def crashed_then_resumed():
            try:
                runner.run_extraction_job(*args, resume=False, **kw)
            except InjectedCrash:
                pass
            else:
                raise RuntimeError("the injected crash did not fire")
            t0 = time.monotonic()
            res = runner.run_extraction_job(*args, resume=True, **kw)
            return res, time.monotonic() - t0

        (res, resume_s), wall, cpu, jobs = self._timed(crashed_then_resumed)
        d = self.digest(runner.read_extracted(self.spark, out))
        quarantined = self.spark.read.parquet(
            os.path.join(out, "_quarantine", "bucket=*")
        ).count()
        whales = SHORT_WHALES[0]
        failed = (
            abs(quarantined - whales)
            + max(0, n_in - whales - d["docs"])
            + self._fixture_failures("extract_header", d["fixtures"])
        )
        if d["digest"] != ref["digest"]:
            self.notes.append(f"job digest {d['digest']} != reference {ref['digest']}")
            failed = n_in
        if res["buckets_run"] != 1:
            self.correct = False
            self.notes.append(f"resume ran {res['buckets_run']} buckets, not 1")
        self.quarantined = quarantined
        return Pass(wall, cpu, n_in, failed, resume_s, res["buckets_run"], jobs)

    @staticmethod
    def passes(one, seconds: float, min_passes: int) -> list[Pass]:
        """Closed loop: run passes back to back until ``seconds`` elapsed and
        at least ``min_passes`` ran."""
        out: list[Pass] = []
        t_end = time.monotonic() + seconds
        while len(out) < min_passes or time.monotonic() < t_end:
            out.append(one())
        return out

    # -- runs ----------------------------------------------------------------

    def run(self, workload: str, seed: int, seconds: float, trace: bool) -> dict:
        mode = WORKLOAD_MODE[workload]
        corpus = self.corpus(workload, seed)
        n_in = self.n_docs(corpus)
        setup_s = self.setup(mode, corpus)

        if workload == "header_job":
            ref = self.job_reference(corpus)
            self.record_digest(workload, seed, ref["digest"])
            if self._fixture_failures(mode, ref["fixtures"]):
                self.correct = False
            if trace:
                # before the wrappers go in, so that its commits stay out of
                # the driver rows; it also warms the JVM for the job as much
                # for the untraced passes as for the profiled ones
                self.peak_concurrency = self.uninterrupted_job(corpus, ref)["peak_concurrency"]
            self._install_driver_wrappers()

            def one():
                return self.job_pass(corpus, n_in, ref)
        else:
            digest, failed = self.check_output(mode, corpus, n_in)
            self.record_digest(workload, seed, digest)

            def one():
                # every noop pass runs the plan check_output ran
                return self.noop_pass(mode, corpus, n_in, failed)

        if trace:
            self.rest = SparkRest(self.spark.sparkContext)
        min_passes = 1 if workload == "header_job" else MIN_PASSES
        timed = self.passes(one, seconds, min_passes)
        all_passes = list(timed)
        if trace:
            traced, metrics = self.trace(
                workload, mode, corpus, lambda: self.passes(one, seconds, min_passes), timed
            )
            all_passes += traced
        else:
            metrics = self.end_to_end(timed, setup_s)

        attempted = sum(p.docs for p in all_passes)
        failed = sum(p.failed for p in all_passes)
        self.notes += [f"pass: wall {p.wall_s:.2f} s, cpu {p.cpu_s:.2f} s, "
                       f"failed {p.failed}" for p in all_passes]
        for n in self.notes:
            print("perfbench:", n, file=sys.stderr, flush=True)
        return {
            "correct": bool(self.correct and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def end_to_end(self, timed: list[Pass], setup_s: float) -> dict:
        attempted = sum(p.docs for p in timed)
        failed = sum(p.failed for p in timed)
        return {
            "docs_per_s": metric(_docs_per_s(timed), "docs/s"),
            "cpu_ms_per_doc": metric(_median([1000 * p.cpu_s / p.docs for p in timed]), "ms"),
            "setup_s": metric(setup_s, "s"),
            "worker_rss_peak_mb": metric(self.sampler.worker_hwm_mb(), "MB"),
            "complete_share": metric((attempted - failed) / attempted, "share"),
        }

    # -- traced run ----------------------------------------------------------

    def ladder(self, mode: str, corpus: str) -> tuple[dict, set, float]:
        """Bare scan -> identity mapInArrow -> the mode, each to the noop
        sink, over the documents the guardrail admits. Returns the rung walls
        (median of LADDER_REPS) and the jobs and wall of the last mode rung."""
        def rung(name):
            df, _ = runner.split_guardrail(self.spark.read.parquet(corpus))
            if name == "identity":
                df = df.mapInArrow(_identity, df.schema)
            elif name == "mode":
                df = pipeline.run_mode(df, mode)
            before = self.rest.job_ids()
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            return time.monotonic() - t0, self.rest.job_ids() - before

        walls = {}
        for name in ("scan", "identity", "mode"):
            runs = [rung(name) for _ in range(LADDER_REPS)]
            walls[name] = _median([w for w, _ in runs])
        wall, jobs = runs[-1]
        return walls, jobs, wall

    def profiled(self, run_passes):
        """Passes with the worker-side profiler on; (passes, merged stats)."""
        self.spark.profile.clear()
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            traced = run_passes()
        finally:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        stats = None
        for st in self.spark._profiler_collector._perf_profile_results.values():
            if stats is None:
                stats = st
            else:
                stats.add(st)
        self.spark.profile.clear()
        return traced, (stats.stats if stats is not None else {})

    def trace(self, workload, mode, corpus, run_passes, untraced):
        walls, mode_jobs, mode_wall = self.ladder(mode, corpus)
        if workload == "header_job":
            # the job's own stages: salt shuffle, bucket writes, manifest
            p = untraced[0]
            spark_rows = self.rest.summary(p.jobs, p.wall_s, CPUS)
        else:
            spark_rows = self.rest.summary(mode_jobs, mode_wall, CPUS)
        driver_rows = self.driver_layers(workload, untraced)
        traced, stats = self.profiled(run_passes)

        m = {"session.start_s": metric(self.session_start_s, "s"),
             "spark.scan_s": metric(walls["scan"], "s"),
             "spark.boundary_s": metric(walls["identity"] - walls["scan"], "s")}
        for k, unit in (("input_bytes", "bytes"), ("output_bytes", "bytes"),
                        ("shuffle_write_bytes", "bytes"), ("gc_ms", "ms"),
                        ("tasks", "count"), ("task_p50_ms", "ms"),
                        ("task_p90_ms", "ms"), ("straggler_ratio", "ratio"),
                        ("slot_busy_share", "share")):
            m["spark." + k] = metric(spark_rows[k], unit)

        m.update(layers.worker_metrics(stats, len(traced)))
        m.update(driver_rows)
        m["runner.peak_concurrency"] = metric(self.peak_concurrency, "count")
        _, driver_missing = layers.resolve_map(layers.DRIVER)
        for name, reason in driver_missing.items():
            m[name] = layers.missing(m[name]["unit"], reason)

        traced_dps, untraced_dps = _docs_per_s(traced), _docs_per_s(untraced)
        m["trace.docs_per_s"] = metric(traced_dps, "docs/s")
        m["trace.untraced_docs_per_s"] = metric(untraced_dps, "docs/s")
        m["trace.overhead_share"] = metric(1.0 - traced_dps / untraced_dps, "share")
        m["sampler.ms_per_pass"] = metric(
            1000 * self.sampler.cost_s / (len(untraced) + len(traced)), "ms"
        )
        return traced, m

    def driver_layers(self, workload: str, untraced: list[Pass]) -> dict:
        """runner/manifest rows of the untraced job passes (0 elsewhere)."""
        names = ("runner.bucket_p50_s", "runner.bucket_max_s", "runner.quarantined",
                 "runner.buckets_resumed", "runner.resume_s", "manifest.commit_s",
                 "manifest.pending_s")
        units = ("s", "s", "count", "count", "s", "s", "s")
        if workload != "header_job":
            return {n: metric(0, u) for n, u in zip(names, units)}
        calls = self.driver_calls
        walls = calls["bucket_walls"]
        npass = len(untraced)
        vals = (
            _median(walls),
            max(walls, default=0.0),
            self.quarantined,
            _median([p.buckets_resumed for p in untraced]),
            _median([p.resume_s for p in untraced]),
            sum(calls["commit"]) / npass,
            sum(calls["pending"]) / npass,
        )
        return {n: metric(v, u) for n, v, u in zip(names, vals, units)}

    def uninterrupted_job(self, corpus: str, ref: dict) -> dict:
        """The job without the crash, into its own directory: its metrics
        (the crashed job raises before returning them) and the check that its
        output equals the reference."""
        out = os.path.join(self.work, "job_uninterrupted")
        res = runner.run_extraction_job(
            self.spark, corpus, out, mode="extract_header", n_buckets=N_BUCKETS,
            resume=False,
        )
        d = self.digest(runner.read_extracted(self.spark, out))
        if d["digest"] != ref["digest"]:
            self.correct = False
            self.notes.append(
                f"uninterrupted job digest {d['digest']} != reference {ref['digest']}"
            )
        shutil.rmtree(out, ignore_errors=True)
        return res


def _docs_per_s(passes: list[Pass]) -> float:
    return _median([(p.docs - p.failed) / p.wall_s for p in passes])

