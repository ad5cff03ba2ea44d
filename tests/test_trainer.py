"""Distributed structured-perceptron trainer (trainer.py — reference mode 0,
MedicalReportTrainerRunner.java:134-143 'train').

Layers under test:
 - feature contract: every TRAIN_FEATURES bit is a real boolean
   token_features() column (bias aside) and the mask fits int64;
 - shard_pass kernel vs a NAIVE per-position/per-bigram update reference
   (decode shared — kernels/viterbi.py carries its own brute-force
   optimality pins; what the trainer adds is the vectorized update math);
 - distributed train() vs the serial twin train_local(): bit-equal weights
   and metrics (the Spark run adds only plumbing, never arithmetic);
 - convergence on a linearly separable toy corpus (0 updates reached);
 - join_supervision round-trip (external gold realigns exactly).

The registered queries' output values are pinned against their literal
VALUES oracles by the generic DuckDB parity suite in test_entry.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from grobid_clinical_report_spark import trainer
from grobid_clinical_report_spark.kernels.viterbi import viterbi_segments

_L = trainer._L
_NF = trainer._NF


def test_feature_contract():
    from grobid_clinical_report_spark.kernels.subparsers import tokens_of

    assert _NF <= 63
    assert trainer.TRAIN_FEATURES[-1] == "bias"
    lines = pd.DataFrame(
        {
            "doc_id": [0, 0],
            "seq": [0, 1],
            "text": ["Daptomycine 1500 mg le 12/03/2021", "Dr. C. LEROY"],
            "offset": [0, 1],
        }
    )
    toks = tokens_of(lines)
    for name in trainer.TRAIN_FEATURES:
        if name == "bias":
            continue
        assert name in toks.columns, name
        assert toks[name].dtype == bool, name
    bits = trainer.pack_features(toks)
    X = trainer.unpack_features(bits)
    assert X.shape == (len(toks), _NF)
    # bias bit always on; unpack inverts pack exactly
    assert (X[:, -1] == 1).all()
    for i, name in enumerate(trainer.TRAIN_FEATURES[:-1]):
        np.testing.assert_array_equal(
            X[:, i], toks[name].to_numpy().astype(np.int64), err_msg=name
        )


def _naive_pass(shard_pdf, W, T, step, batch_docs):
    """Per-position / per-bigram loop reference for shard_pass: same
    mini-batch decode (shared Viterbi kernel), naive update application."""
    W = W.copy()
    T = T.copy()
    n_up = n_tok = n_ok = 0
    order = np.argsort(shard_pdf["doc_id"].to_numpy(), kind="stable")
    rows = [shard_pdf.iloc[i] for i in order]
    for lo in range(0, len(rows), batch_docs):
        mb = rows[lo : lo + batch_docs]
        # decode each doc of the mini-batch with the CURRENT weights
        decoded = []
        for r in mb:
            f = np.asarray(r["feats"], dtype=np.int64)
            g = np.asarray(r["gold"], dtype=np.int64)
            s = np.asarray(r["starts"], dtype=np.int64)
            pred = viterbi_segments(trainer.unpack_features(f) @ W, s, T)
            decoded.append((f, g, s, pred))
            n_tok += len(g)
            n_ok += int((pred == g).sum())
        # then apply the whole mini-batch's updates
        for f, g, s, pred in decoded:
            if (pred == g).all():
                continue
            n_up += 1
            X = trainer.unpack_features(f)
            for p in range(len(g)):
                if pred[p] != g[p]:
                    for j in range(_NF):
                        if X[p, j]:
                            W[j, g[p]] += step
                            W[j, pred[p]] -= step
            starts_set = set(s.tolist())
            for p in range(1, len(g)):
                if p not in starts_set:
                    T[g[p - 1], g[p]] += step
                    T[pred[p - 1], pred[p]] -= step
    return W, T, n_up, n_tok, n_ok


def _toy_shard(rng, n_docs=6, shard=0):
    """Random small docs over two informative bits (0 and 5) + bias."""
    rows = []
    for d in range(n_docs):
        n = rng.integers(3, 9)
        hot = rng.integers(0, 2, size=n).astype(np.int64)
        feats = (np.int64(1) << np.int64(_NF - 1)) | (hot << 5) | 1
        gold = np.where(hot == 1, 3, 0).astype(np.int32)
        starts = np.array([0, n // 2] if n >= 4 else [0], dtype=np.int32)
        rows.append(
            {
                "doc_id": f"d{d:03d}",
                "seq": np.arange(n, dtype=np.int32),
                "tok_idx": np.arange(n, dtype=np.int32),
                "feats": feats,
                "gold": gold,
                "starts": starts,
                "shard": shard,
            }
        )
    return pd.DataFrame(rows)


def test_shard_pass_matches_naive_reference():
    rng = np.random.default_rng(7)
    pdf = _toy_shard(rng, n_docs=8)
    W0 = rng.integers(-3, 4, size=(_NF, _L)).astype(np.int64)
    T0 = rng.integers(-2, 3, size=(_L, _L)).astype(np.int64)
    for batch_docs in (1, 3, 8):
        got = trainer.shard_pass(
            pa.Table.from_pandas(pdf, preserve_index=False), W0, T0,
            step=2, batch_docs=batch_docs,
        )
        want = _naive_pass(pdf, W0, T0, step=2, batch_docs=batch_docs)
        np.testing.assert_array_equal(got[0], want[0])
        np.testing.assert_array_equal(got[1], want[1])
        assert got[2:] == want[2:]


def test_convergence_on_separable_toy():
    rng = np.random.default_rng(11)
    pdf = _toy_shard(rng, n_docs=12)
    W, T, metrics = trainer.train_local(pdf, epochs=10, batch_docs=1)
    assert metrics[-1]["n_updates"] == 0
    assert metrics[-1]["token_acc_milli"] == 1000
    # and the final weights decode the training set perfectly
    for _, r in pdf.iterrows():
        f = np.asarray(r["feats"], dtype=np.int64)
        pred = viterbi_segments(
            trainer.unpack_features(f) @ W,
            np.asarray(r["starts"], dtype=np.int64),
            T,
        )
        np.testing.assert_array_equal(pred, np.asarray(r["gold"]))


def test_distributed_matches_serial_twin(spark, fixture_docs_pdf):
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    ts = trainer.build_training_set(docs).cache()
    pdf = trainer.with_shard(ts, 3).toPandas()
    W_d, T_d, m_d = trainer.train(ts, epochs=3, shards=3, batch_docs=4)
    W_l, T_l, m_l = trainer.train_local(pdf, epochs=3, batch_docs=4)
    ts.unpersist()
    np.testing.assert_array_equal(W_d, W_l)
    np.testing.assert_array_equal(T_d, T_l)
    strip = [{k: v for k, v in m.items() if k != "wall_sec"} for m in m_d]
    assert strip == m_l


def test_training_set_alignment(spark, fixture_docs_pdf):
    """The packed rows reproduce the supervision table exactly: exploding
    (seq, tok_idx, gold) matches run_training_ner's per-token labels."""
    from grobid_clinical_report_spark.pipeline import run_training_ner
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    ts = trainer.build_training_set(docs)
    got = (
        trainer.predict(
            ts,
            np.zeros((_NF, _L), dtype=np.int64),
            np.zeros((_L, _L), dtype=np.int64),
        )
        .select("doc_id", "seq", "tok_idx", "gold")
        .toPandas()
        .sort_values(["doc_id", "seq", "tok_idx"])
        .reset_index(drop=True)
    )
    want = (
        run_training_ner(docs)
        .select("doc_id", "seq", "tok_idx", "label")
        .toPandas()
        .sort_values(["doc_id", "seq", "tok_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["gold"], want["label"], check_names=False
    )


def test_join_supervision_roundtrip(spark, fixture_docs_pdf):
    """Re-joining the distilled labels as an EXTERNAL supervision table
    reproduces the original gold arrays (ordering preserved), and an
    empty supervision yields all-'other'."""
    from pyspark.sql import functions as F

    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        fixture_docs_pdf.head(6), schema=DOCUMENTS_SCHEMA
    )
    ts = trainer.build_training_set(docs).cache()
    sup = (
        trainer.predict(
            ts,
            np.zeros((_NF, _L), dtype=np.int64),
            np.zeros((_L, _L), dtype=np.int64),
        )
        .selectExpr("doc_id", "seq", "tok_idx", "gold as label")
    )
    orig = {r["doc_id"]: list(r["gold"]) for r in ts.collect()}
    back = trainer.join_supervision(ts, sup)
    for r in back.collect():
        assert list(r["gold"]) == orig[r["doc_id"]], r["doc_id"]
    empty = sup.filter(F.lit(False))
    other = trainer._IX["other"]
    for r in trainer.join_supervision(ts, empty).collect():
        assert set(r["gold"]) == {other}
    ts.unpersist()


def test_distributed_exact_across_arrow_chunking(spark, fixture_docs_pdf):
    """A shard spanning Arrow chunk boundaries must still train as ONE
    pass: with maxRecordsPerBatch=2 every partition arrives in many tiny
    chunks, and the epoch worker has to reassemble them before grouping
    (regression: chunk-wise passes silently reset local weights mid-shard
    — invisible on small fixtures, caught at sf0.1)."""
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    ts = trainer.build_training_set(docs).cache()
    pdf = trainer.with_shard(ts, 2).toPandas()
    try:
        spark.conf.set(key, "2")
        W_d, T_d, m_d = trainer.train(ts, epochs=2, shards=2, batch_docs=4)
    finally:
        spark.conf.set(key, prev)
        ts.unpersist()
    W_l, T_l, m_l = trainer.train_local(pdf, epochs=2, batch_docs=4)
    np.testing.assert_array_equal(W_d, W_l)
    np.testing.assert_array_equal(T_d, T_l)
    strip = [{k: v for k, v in m.items() if k != "wall_sec"} for m in m_d]
    assert strip == m_l


def test_imported_supervision_aligns_with_packed_rows(spark):
    """A6→A7 contract: supervision imported from an external annotated
    corpus (corpus_import — its own offset-containment labeling over the
    shared Arrow tokenizer) joins onto the trainer's packed rows with
    EXACT per-token alignment — every (doc_id, seq, tok_idx) in the
    import maps to the same token text and label in the training set,
    and unlabeled tokens fall back to 'other'."""
    from grobid_clinical_report_spark import corpus_import
    from grobid_clinical_report_spark.kernels.labels import NER_LABELS

    corpus = corpus_import.fixture_corpus_df(spark)
    sup = corpus_import.import_ner_supervision(corpus)
    docs = corpus.selectExpr(
        "doc_id",
        # one span per LINE: the importer labels per (line seq, tok_idx)
        "transform(split(text, '\\n'), (s, i) -> named_struct("
        "'kind','text','text',s,'media_ref',cast(null as string),"
        "'offset',i)) as spans",
    )
    ts2 = trainer.join_supervision(trainer.build_training_set(docs), sup)
    got = {}
    for r in ts2.collect():
        for s, t_i, g in zip(r["seq"], r["tok_idx"], r["gold"]):
            got[(r["doc_id"], s, t_i)] = NER_LABELS[g]
    want = {
        (r["doc_id"], r["seq"], r["tok_idx"]): r["label"]
        for r in sup.collect()
    }
    # every imported row aligned exactly; everything else is 'other'
    assert want and set(want) <= set(got)
    for k, lab in want.items():
        assert got[k] == lab, k
    for k in set(got) - set(want):
        assert got[k] == "other", k


def test_pack_unpack_property():
    """Property: pack→unpack is the identity on arbitrary boolean feature
    frames, and the uint8 fast path equals the shift-based reference."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=(1 << (_NF - 1)) - 1),
            min_size=0,
            max_size=200,
        )
    )
    def run(masks):
        f = (np.array(masks, dtype=np.int64) | (1 << (_NF - 1)))
        if len(masks) == 0:
            f = np.zeros(0, dtype=np.int64)
        X = trainer.unpack_features(f)
        X8 = trainer._unpack_u8(f)
        np.testing.assert_array_equal(X, X8.astype(np.int64))
        # repack: bit i set exactly when column i is 1
        repacked = (
            (X * (np.int64(1) << trainer._SHIFTS)[None, :]).sum(axis=1)
            if len(f)
            else f
        )
        np.testing.assert_array_equal(repacked, f)

    run()


def test_matmul_exact_property():
    """Property: every _matmul_exact tier (sgemm/dgemm/int64) returns the
    exact integer product, including at weights near the tier bounds."""
    rng = np.random.default_rng(23)
    X = rng.integers(0, 2, size=(257, _NF)).astype(np.uint8)
    for scale in (1, 10_000, 300_000, 10**12):
        W = rng.integers(-scale, scale + 1, size=(_NF, trainer._L)).astype(
            np.int64
        )
        np.testing.assert_array_equal(
            trainer._matmul_exact(X, W), X.astype(np.int64) @ W
        )


@pytest.mark.parametrize("name,extra", [
    ("medic", ("has_at",)),
    ("patient", ("is_born_marker", "is_le_after_born", "is_ans_cue",
                 "is_idno_kw", "is_sex_kw")),
])
def test_sub_specs_train_with_own_layout(spark, fixture_docs_pdf, name,
                                         extra):
    """ModelSpec genericity: each sub-model trains through the same
    kernel with its OWN label space and bit layout (incl. its own cue
    columns), distributed bit-equal to the serial twin; layouts are
    per-spec so the NER masks are untouched by the extra features."""
    from grobid_clinical_report_spark.kernels.subparsers import tokens_of
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    spec = trainer.SPECS[name]()
    assert spec.n_feats == _NF + len(extra)
    toks = tokens_of(pd.DataFrame(
        {"doc_id": [0], "seq": [0], "text": ["Née le 02/02/1962"],
         "offset": [0]}
    ))
    assert all(e in spec.features and e in toks.columns for e in extra)
    assert trainer.SPECS["fr-medical-ner"]().features == trainer.TRAIN_FEATURES
    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    ts = trainer.build_training_set(docs, spec=spec).cache()
    pdf = trainer.with_shard(ts, 2).toPandas()
    W_d, T_d, m_d = trainer.train(
        ts, epochs=2, shards=2, batch_docs=4, spec=spec,
    )
    W_l, T_l, m_l = trainer.train_local(
        pdf, epochs=2, batch_docs=4, spec=spec,
    )
    ts.unpersist()
    assert W_d.shape == (spec.n_feats, spec.n_labels)
    np.testing.assert_array_equal(W_d, W_l)
    np.testing.assert_array_equal(T_d, T_l)
    strip = [{k: v for k, v in m.items() if k != "wall_sec"} for m in m_d]
    assert strip == m_l


def test_run_trained_ner_deploys_learned_weights(spark, fixture_docs_pdf):
    """Deploy path: the trained decoder runs inside the cascade's
    mapInArrow shape and its spans agree with predict()'s token labels —
    RLE-clustered, 'other' dropped — on the fixture corpus."""
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    ts = trainer.build_training_set(docs).cache()
    W, T, _ = trainer.train(ts, epochs=4, shards=2, batch_docs=4)
    spans = (
        trainer.run_trained_ner(docs, W, T)
        .selectExpr("doc_id", "inline(spans)")
        .toPandas()
    )
    toks = trainer.predict(ts, W, T).toPandas()
    ts.unpersist()
    # span kinds per doc == RLE runs of predicted non-'other' labels
    want = {}
    for doc_id, g in toks.sort_values(["doc_id", "seq", "tok_idx"]).groupby(
        "doc_id"
    ):
        runs, prev = [], None
        for _, r in g.iterrows():
            key = (r["seq"], r["pred"])
            if r["pred"] != "other" and key != prev:
                runs.append(r["pred"])
            prev = key
        if runs:
            want[doc_id] = runs
    got = {}
    for doc_id, g in spans.groupby("doc_id"):
        # spans on the same line share an offset; the writer emits them in
        # positional order, so the tie-break must be a STABLE sort
        got[doc_id] = list(g.sort_values("offset", kind="stable")["kind"])
    assert got == want


def test_train_split_eval_holds_out_disjoint_docs(spark, fixture_docs_pdf):
    """Mode-2 split: the holdout filter partitions the corpus exactly, the
    trained weights never see the holdout docs (bit-equal to the serial
    twin run on the train fraction alone), and the returned P/R/F1 covers
    only held-out tokens."""
    from pyspark.sql import functions as F

    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    ts = trainer.build_training_set(docs).cache()
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(1000))
    tr_ids = {r[0] for r in ts.where(bucket < 800).select("doc_id").collect()}
    ho_ids = {r[0] for r in ts.where(bucket >= 800).select("doc_id").collect()}
    all_ids = {r[0] for r in ts.select("doc_id").collect()}
    assert tr_ids | ho_ids == all_ids and not tr_ids & ho_ids
    assert ho_ids  # the fixture corpus must actually exercise the holdout

    prf, metrics, W_d, T_d = trainer.train_split_eval(
        ts, split_milli=800, epochs=4, shards=2, batch_docs=4
    )
    got = prf.orderBy("label").toPandas()

    # serial twin on the train fraction only → identical weights
    from grobid_clinical_report_spark.evaluate import token_prf

    tr_pdf = trainer.with_shard(ts.where(bucket < 800), 2).toPandas()
    W_l, T_l, m_l = trainer.train_local(tr_pdf, epochs=4, batch_docs=4)
    np.testing.assert_array_equal(W_d, W_l)
    np.testing.assert_array_equal(T_d, T_l)
    want = (
        token_prf(trainer.predict(ts.where(bucket >= 800), W_l, T_l))
        .orderBy("label")
        .toPandas()
    )
    ts.unpersist()
    pd.testing.assert_frame_equal(got, want)
    strip = [{k: v for k, v in m.items() if k != "wall_sec"} for m in metrics]
    assert strip == [
        {k: v for k, v in m.items() if k != "wall_sec"} for m in m_l
    ]


def test_train_nfold_eval_partitions_and_balances(spark, fixture_docs_pdf):
    """Mode-3 invariants: one micro row per fold; across folds every
    non-'other' gold token is scored exactly once (fold n_gold sums to
    the corpus total), and each row's counts are internally consistent
    (tp+fn == n_gold, tp+fp == n_pred). Exact values are pinned by the
    train_nfold VALUES oracle in the test_entry parity suite."""
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    ts = trainer.build_training_set(docs).cache()
    got = (
        trainer.train_nfold_eval(ts, n_folds=3, epochs=2, shards=2,
                                 batch_docs=4)
        .orderBy("fold")
        .toPandas()
    )
    other = trainer.NER_LABELS.index("other")
    total = sum(
        int((np.asarray(r["gold"]) != other).sum())
        for r in ts.select("gold").collect()
    )
    ts.unpersist()
    assert list(got["fold"]) == [0, 1, 2]
    assert int(got["n_gold"].sum()) == total
    assert (got["tp"] + got["fn"]).equals(got["n_gold"])
    assert (got["tp"] + got["fp"]).equals(got["n_pred"])


def test_run_training_job_modes_roundtrip(spark, fixture_docs_pdf, tmp_path):
    """CLI-job surface: mode 0 persists weights load_model round-trips
    bit-exactly; mode 1 evaluates them (same micro row as predict+token_prf
    composed by hand); a layout-mismatched file is refused; modes 2/3
    produce eval parquet with the expected shapes."""
    from grobid_clinical_report_spark.evaluate import evaluate_labels
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    corpus = str(tmp_path / "docs")
    docs.write.parquet(corpus)

    out0 = trainer.run_training_job(
        spark, corpus, str(tmp_path / "m0"), mode=0, epochs=2, shards=2,
        batch_docs=4,
    )
    W, T, name = trainer.load_model(out0["weights"])
    assert name == "fr-medical-ner" and len(out0["epochs"]) == 2
    ts = trainer.build_training_set(docs).cache()
    W2, T2, _ = trainer.train(ts, epochs=2, shards=2, batch_docs=4)
    np.testing.assert_array_equal(W, W2)
    np.testing.assert_array_equal(T, T2)

    out1 = trainer.run_training_job(
        spark, corpus, str(tmp_path / "m1"), mode=1,
        weights=out0["weights"],
    )
    want = (
        evaluate_labels(trainer.predict(ts, W, T))
        .where("label = '__micro__'")
        .orderBy("level")
        .collect()
    )
    ts.unpersist()
    assert out1["eval"] == [r.asDict() for r in want]
    assert [r["level"] for r in out1["eval"]] == ["field", "token"]

    # layout contract: a medic-spec file refuses to load as NER and a
    # tampered feature list refuses to load at all
    spec_m = trainer.SPECS["medic"]()
    pm = str(tmp_path / "medic.npz")
    trainer.save_model(
        pm, np.zeros((spec_m.n_feats, spec_m.n_labels), np.int64),
        np.zeros((spec_m.n_labels, spec_m.n_labels), np.int64), spec_m,
    )
    with pytest.raises(ValueError, match="medic model"):
        trainer.run_training_job(
            spark, corpus, str(tmp_path / "mx"), mode=1, weights=pm
        )
    import json

    z = dict(np.load(out0["weights"]))
    feats = json.loads(str(z["features"]))
    z["features"] = np.array(json.dumps(["bogus"] + feats[1:]))
    tampered = str(tmp_path / "tampered.npz")
    np.savez(tampered, **z)
    with pytest.raises(ValueError, match="different"):
        trainer.load_model(tampered)

    out2 = trainer.run_training_job(
        spark, corpus, str(tmp_path / "m2"), mode=2, epochs=2, shards=2,
        batch_docs=4,
    )
    assert out2["eval"][0]["label"] == "__micro__" and "weights" in out2
    out3 = trainer.run_training_job(
        spark, corpus, str(tmp_path / "m3"), mode=3, n_folds=2, epochs=2,
        shards=2, batch_docs=4,
    )
    assert [r["fold"] for r in out3["eval"]] == [0, 1]


def test_run_training_job_sub_spec(spark, fixture_docs_pdf, tmp_path):
    """A sub-spec runs every job mode on its OWN layout: the medic model
    trains 44-bit x 14-label weights (no NER bias-bit drop, no foreign
    labels), evaluates them, and its split / n-fold evals score medic
    labels only — n-fold gold counts every non-'other' MEDIC token once."""
    from grobid_clinical_report_spark.kernels.labels import MEDIC_LABELS
    from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    corpus = str(tmp_path / "docs")
    docs.write.parquet(corpus)
    kw = dict(model="medic", epochs=2, shards=2, batch_docs=4)

    out0 = trainer.run_training_job(spark, corpus, str(tmp_path / "m0"),
                                    mode=0, **kw)
    W, T, name = trainer.load_model(out0["weights"])
    assert name == "medic"
    assert W.shape == (44, len(MEDIC_LABELS)) == (44, 14)
    assert T.shape == (14, 14)

    out1 = trainer.run_training_job(spark, corpus, str(tmp_path / "m1"),
                                    mode=1, weights=out0["weights"], **kw)
    assert [r["level"] for r in out1["eval"]] == ["field", "token"]

    out2 = trainer.run_training_job(spark, corpus, str(tmp_path / "m2"),
                                    mode=2, **kw)
    labels = {r["label"] for r in spark.read.parquet(
        out2["eval_path"]).collect()}
    assert "__micro__" in labels
    assert labels <= set(MEDIC_LABELS) | {"__micro__"}

    out3 = trainer.run_training_job(spark, corpus, str(tmp_path / "m3"),
                                    mode=3, n_folds=2, **kw)
    assert [r["fold"] for r in out3["eval"]] == [0, 1]
    ts = trainer.build_training_set(docs, spec=trainer.SPECS["medic"]())
    other = MEDIC_LABELS.index("other")
    total = sum(
        int((np.asarray(r["gold"]) != other).sum())
        for r in ts.select("gold").collect()
    )
    assert sum(r["n_gold"] for r in out3["eval"]) == total
