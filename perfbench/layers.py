"""Layer map and self-time attribution for the traced run.

Each worker-side per-layer metric names the functions it measures, as
``module:qualname`` references. The traced run profiles the ``mapInArrow``
mapper in every Python worker (``spark.sql.pyspark.udf.profiler=perf``) and
gets back merged ``pstats``. A layer's self time is the inclusive time of its
functions minus the time of the layers nested inside them: every profiled
function's own time goes to the innermost layer on its call path, and a
function reached from several layers is split between them in proportion to
the time each call edge carries (the gprof approximation).

The guard: a reference that no longer resolves (a refactor renamed or
removed the function) makes its metric ``missing`` with the reason, never 0.
"""

from __future__ import annotations

import importlib
import inspect
import os
import types

PKG = "grobid_clinical_report_spark"
_K = PKG + ".kernels."
_RE2 = [_K + f"arrowtext:{f}" for f in ("contains", "match", "count", "replace")]

# the profiled root: all other worker layers sit under it
MAPPER = [PKG + ".pipeline:run_mode.<locals>.mapper"]

# metric -> functions whose time, minus nested layers, is the metric
TIMED: dict[str, list[str]] = {
    # Arrow IPC reads from the JVM: the wait for the scan's next batch
    "pipeline.arrow_in_wait_s": [
        "pyspark.sql.pandas.serializers:ArrowStreamUDFSerializer.load_stream"
    ],
    "pipeline.coalesce_s": [PKG + ".pipeline:_coalesced"],
    "pipeline.flatten_s": [PKG + ".pipeline:_lines_from_batch"],
    "pipeline.emit_s": [PKG + ".pipeline:_batch_from_flat"],
    "tokenize.sanitize_s": [_K + "tokenize:sanitize_lines"],
    "tokenize.structure_s": [_K + "tokenize:assign_blocks_pages"],
    "tokenize.explode_s": [_K + "tokenize:explode_tokens"],
    "features.lines_s": [_K + "features:featurize_lines"],
    "features.extras_s": [_K + "features:featurize_extras"],
    "segmenter.emissions_s": [_K + "segmenter:segment_emissions"],
    "viterbi.s": [_K + "viterbi:viterbi_segments"],
    "body.label_s": [_K + "body:label_body_lines", _K + "body:relabel_caption_tails"],
    "body.spans_s": [_K + "body:body_spans", _K + "body:zone_block_spans"],
    "cluster.dedup_notes_s": [_K + "cluster:dedup_notes"],
    "header.label_s": [_K + "header:label_header_lines"],
    "header.merge_s": [_K + "header:merge_header_fields"],
    "header.enrich_s": [_K + "header:enrich_header_fields"],
    "subparsers.token_features_s": [_K + "subparsers:token_features"],
    "subparsers.tokens_to_spans_s": [_K + "subparsers:tokens_to_spans"],
    "ner.emissions_s": [_K + "ner:ner_emissions"],
    "arrowtext.re2_s": _RE2,
}

# metric -> functions whose call count is the metric
COUNTED: dict[str, list[str]] = {
    "pipeline.batches": [PKG + ".pipeline:_lines_from_batch"],
    "viterbi.calls": [_K + "viterbi:viterbi_segments"],
    "viterbi.step_calls": [_K + "viterbi:_step_structured"],
    "arrowtext.re2_calls": _RE2,
}

# driver-side rows (header_job): the benchmark wraps these public functions
_COMMIT = [PKG + ".manifest:commit_bucket"]
_JOB = [PKG + ".runner:run_extraction_job"]
DRIVER: dict[str, list[str]] = {
    "runner.bucket_p50_s": _COMMIT,
    "runner.bucket_max_s": _COMMIT,
    "runner.quarantined": _JOB,
    "runner.peak_concurrency": _JOB,
    "runner.buckets_resumed": _JOB,
    "runner.resume_s": _JOB,
    "manifest.commit_s": _COMMIT,
    "manifest.pending_s": [PKG + ".manifest:pending_buckets"],
}

Key = tuple[str, int, str]  # pstats key after strip_dirs: (file, line, name)


def resolve(ref: str) -> Key | None:
    """``module:qualname`` -> the pstats key of that function, or None when
    the module, an attribute or a nested function no longer exists."""
    mod_name, qual = ref.split(":")
    try:
        obj = importlib.import_module(mod_name)
    except ImportError:
        return None
    code = None
    for part in qual.split("."):
        if part == "<locals>":
            continue
        if code is None:
            obj = getattr(obj, part, None)
            if obj is None:
                return None
            if inspect.isfunction(obj):
                code = inspect.unwrap(obj).__code__
        else:
            code = next(
                (c for c in code.co_consts
                 if isinstance(c, types.CodeType) and c.co_name == part),
                None,
            )
            if code is None:
                return None
    if code is None:
        return None
    return os.path.basename(code.co_filename), code.co_firstlineno, code.co_name


def resolve_map(refs: dict[str, list[str]]) -> tuple[dict[str, list[Key]], dict[str, str]]:
    """(metric -> keys, metric -> reason it is missing)."""
    keys, missing = {}, {}
    for metric, names in refs.items():
        got = [(n, resolve(n)) for n in names]
        gone = [n for n, k in got if k is None]
        if gone:
            missing[metric] = "function not found: " + ", ".join(gone)
        else:
            keys[metric] = [k for _, k in got]
    return keys, missing


def attribute(stats: dict, layers: dict[str, list[Key]], root: list[Key]) -> dict:
    """Split the profiled time of ``stats`` (a ``pstats.Stats.stats`` dict)
    into per-layer self times.

    Returns ``{"self": {metric: s}, "root_s": inclusive time of the root,
    "unattributed_s": time under the root in no named layer, "outside_s":
    profiled time not under the root}``. Self times, unattributed and
    outside add up to the total profiled time."""
    entry = {k: m for m, ks in layers.items() for k in ks}
    root_keys = set(root)
    memo: dict[Key, dict[str, float]] = {}

    def dist(f: Key, stack: set) -> dict[str, float]:
        """Where the time of ``f``'s frames belongs: layer -> share."""
        if f in entry:
            return {entry[f]: 1.0}
        if f in root_keys:
            return {"_root": 1.0}
        if f in memo:
            return memo[f]
        callers = stats.get(f, (0, 0, 0, 0, {}))[4]
        out: dict[str, float] = {}
        total = 0.0
        stack = stack | {f}
        for c, edge in callers.items():
            if c in stack:
                continue
            w = edge[3] or 1e-12
            total += w
            for lab, share in dist(c, stack).items():
                out[lab] = out.get(lab, 0.0) + w * share
        res = {k: v / total for k, v in out.items()} if total else {"_outside": 1.0}
        memo[f] = res
        return res

    acc: dict[str, float] = {}
    for f, (_cc, _nc, tt, _ct, callers) in stats.items():
        if f in entry or f in root_keys or not callers:
            owners = [(tt, dist(f, set()))]
        else:
            # the function's own time is split exactly by its call edges
            owners = [
                (edge[2], dist(c, {f}) if c != f else dist(f, set()))
                for c, edge in callers.items()
            ]
        for t, owner in owners:
            for lab, share in owner.items():
                acc[lab] = acc.get(lab, 0.0) + t * share
    root_s = sum(stats[k][3] for k in root_keys if k in stats)
    return {
        "self": {m: acc.get(m, 0.0) for m in layers},
        "root_s": root_s,
        "unattributed_s": acc.get("_root", 0.0),
        "outside_s": acc.get("_outside", 0.0),
    }


def counts(stats: dict, layers: dict[str, list[Key]]) -> dict[str, int]:
    return {
        m: sum(stats[k][1] for k in ks if k in stats) for m, ks in layers.items()
    }


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def missing(unit: str, reason: str) -> dict:
    """A metric whose functions are gone: no value, never a 0."""
    return {"value": None, "unit": unit, "missing": reason}


def worker_metrics(stats: dict, passes: int) -> dict:
    """Per-pass worker-side layer metrics from the merged profile of
    ``passes`` passes: the mapper's inclusive time, each TIMED layer's self
    time, each COUNTED call count, and the mapper time no layer claims."""
    timed, gone = resolve_map(TIMED)
    counted, gone_counts = resolve_map(COUNTED)
    root, gone_root = resolve_map({"pipeline.mapper_s": MAPPER})
    att = attribute(stats, timed, root.get("pipeline.mapper_s", []))
    cnt = counts(stats, counted)
    out = {"pipeline.mapper_s": metric(att["root_s"] / passes, "s")}
    out.update({m: metric(s / passes, "s") for m, s in att["self"].items()})
    out.update({m: metric(n / passes, "count") for m, n in cnt.items()})
    for m, reason in gone_root.items():
        out[m] = missing("s", reason)
    for m, reason in gone.items():
        out[m] = missing("s", reason)
    for m, reason in gone_counts.items():
        out[m] = missing("count", reason)
    rest = att["unattributed_s"] + att["outside_s"]
    out["trace.unattributed_s"] = metric(rest / passes, "s")
    out["trace.unattributed_share"] = metric(
        rest / att["root_s"] if att["root_s"] else 0.0, "share"
    )
    return out
