"""Property tests over the seeded synthetic corpus (SURVEY.md §5.2.4):
invariants that must hold for ANY document, plus exact parity between the
in-process entry points (PANDAS_MODES) and the Spark mapInArrow path — both
run the same batch loop, so any difference is a boundary bug."""

from __future__ import annotations

import pandas as pd

from grobid_clinical_report_spark import datagen
from grobid_clinical_report_spark.kernels.labels import BODY_LABELS, SEG_LABELS
from grobid_clinical_report_spark.pipeline import (
    FLAT_MODES,
    PANDAS_MODES,
    run_mode,
)
from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

_VOCAB = set(BODY_LABELS) | set(SEG_LABELS)


def _synth(n=60, seed=7):
    return datagen.synthetic_documents_pdf(n, seed=seed)


def test_output_invariants_on_synthetic_corpus():
    pdf = _synth()
    out = PANDAS_MODES["extract_full"](pdf)
    assert len(out) == len(pdf)  # cardinality preserved
    in_media = {
        s["media_ref"]
        for spans in pdf.spans
        for s in spans
        if s["kind"] == "media"
    }
    out_media = set()
    for spans in out.spans:
        offs = [s["offset"] for s in spans]
        assert offs == sorted(offs)  # order preserved
        assert {s["kind"] for s in spans} <= _VOCAB
        out_media |= {s["media_ref"] for s in spans if s["media_ref"]}
    # media refs that survive are real input refs, and most media survives
    # into figure spans (never fabricated)
    assert out_media <= in_media
    assert len(out_media) >= 0.8 * len(in_media)


def _row(doc_id, spans) -> tuple:
    return doc_id, [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
    ]


def test_spark_and_pandas_paths_identical(spark):
    """Every mode, row for row in input order — including two rows that
    share a doc_id (fixture docs 0 and 1): each row keeps its own spans."""
    fx = datagen.fixture_documents_pdf()
    dup = fx.iloc[[0, 1]].assign(doc_id="dup")
    pdf = pd.concat([fx, _synth(40), dup], ignore_index=True)
    df = spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)
    for mode in sorted(FLAT_MODES):
        want = [
            _row(r.doc_id, r.spans) for r in PANDAS_MODES[mode](pdf).itertuples()
        ]
        got = [
            _row(r["doc_id"], r["spans"]) for r in run_mode(df, mode).collect()
        ]
        assert got == want, mode


def test_generator_is_deterministic():
    a = _synth(20, seed=3)
    b = _synth(20, seed=3)
    assert a.doc_id.tolist() == b.doc_id.tolist()
    assert all(x == y for x, y in zip(a.spans, b.spans))


def test_tokenizer_roundtrip_property():
    """Property (hypothesis): for ANY text, gap-prefixed token concatenation
    reconstructs the exact source prefix up to the last token — the
    invariant tokens_to_spans relies on for verbatim span text."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from grobid_clinical_report_spark.kernels.tokenize import (
        TOKEN_RE,
        explode_tokens,
    )

    # the engine's tokenizer is RE2 (Arrow); RE2's \s is exactly
    # [\t\n\f\r ] while Python's additionally covers \x0b and \x1c-\x1f,
    # so the reference mirror pins RE2's class
    py_token_re = TOKEN_RE.replace(r"\s", r" \t\n\f\r")

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), blacklist_characters="\x00"
                ),
                max_size=60,
            ),
            min_size=1,
            max_size=4,
        )
    )
    def check(texts):
        lines = pd.DataFrame(
            {
                "doc_id": [0] * len(texts),
                "seq": range(len(texts)),
                "text": texts,
            }
        )
        out = explode_tokens(lines)
        for i, t in enumerate(texts):
            rows = out[out["seq"] == i]
            rebuilt = "".join(
                (g or "") + tok for g, tok in zip(rows["gap"], rows["tok"])
            )
            matches = re.findall(py_token_re, t)
            if not matches:
                assert len(rows) == 0
                continue
            # rebuilt must be an exact prefix of the source ending at the
            # last token
            assert t.startswith(rebuilt)
            assert rebuilt.endswith(matches[-1])
            assert rows["tok"].tolist() == matches

    check()


def test_media_ref_conservation_property():
    """Property (hypothesis): for ANY document shape, extract_full never
    loses or duplicates a media reference that sits in the body zone, spans
    come out offset-ordered, and the caption pull/push relabeling keeps
    every media_ref attached to exactly one figure span."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    line_kinds = st.sampled_from(
        [
            ("text", "SYNTHÈSE MÉDICALE", None),
            ("text", "EXAMEN :", None),
            ("text", "Le patient se porte bien et poursuit son traitement.", None),
            ("text", "Figure 1 : coupe sagittale", None),
            ("text", "avec produit de contraste.", None),
            ("text", "Voir annexe.", None),
            ("text", "- tension stable", None),
            ("text", "", None),
            ("media", "", "REF"),
        ]
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(line_kinds, min_size=3, max_size=25))
    def check(lines):
        # make media refs unique per position
        spans, off, n_media = [], 0, 0
        for kind, text, ref in lines:
            if ref:
                ref = f"img/{n_media}.png"
                n_media += 1
            spans.append(
                {"kind": kind, "text": text, "media_ref": ref, "offset": off}
            )
            off += max(len(text), 1) + 1
        pdf = pd.DataFrame({"doc_id": ["d"], "spans": [spans]})
        out = PANDAS_MODES["extract_full"](pdf)
        assert len(out) == 1
        got = out.iloc[0]["spans"]
        offs = [s["offset"] for s in got]
        assert offs == sorted(offs)
        refs = [s["media_ref"] for s in got if s["media_ref"]]
        assert len(refs) == len(set(refs))  # never duplicated
        assert set(refs) <= {s["media_ref"] for s in spans if s["media_ref"]}
        for s in got:
            if s["media_ref"]:
                assert s["kind"] == "figure"

    check()


def test_pojo_merge_property():
    """Property (hypothesis): fill_fields with the POJO separators matches a
    row-by-row reference fill: one span per (doc, kind); case/space-
    insensitive repeats dropped, the first kept; a date keeps its longest
    value (the first among equals), ISO-normalized; a time keeps its first;
    every other field joins its values with its kind's separator; fields
    come out by (offset, document order), also when offsets tie."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from grobid_clinical_report_spark.kernels.header import fill_fields
    from grobid_clinical_report_spark.pipeline import _POJO_SEPS

    words = ["Dr A", "dr  a", "Ward B", "CHU X", "9 rue Y"]
    iso = {
        "29.04.2000": "2000-04-29", "01.02.1999": "1999-02-01",
        "29 avril 2000": "2000-04-29", "29 Avril  2000": "2000-04-29",
        "2 mai 99": "1999-05-02", "hier": "hier",
    }
    times = ["10h30", "10H30", "08:15", "9 h 05"]
    pairs = (
        [(k, v) for k in ("persname", "rolename", "note", "orgname")
         for v in words]
        + [("date", v) for v in iso]
        + [("time", v) for v in times]
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(
        st.tuples(st.sampled_from(["d0", "d1"]), st.sampled_from(pairs),
                  st.integers(0, 2)),
        min_size=1, max_size=12,
    ))
    def check(rows):
        # document order: by doc, then offset; rows sharing an offset keep
        # their drawn order
        rows = sorted(rows, key=lambda r: (r[0], r[2]))
        spans = pd.DataFrame(
            {
                "doc_id": [d for d, _, _ in rows],
                "kind": [k for _, (k, _), _ in rows],
                "text": [v for _, (_, v), _ in rows],
                "media_ref": None,
                "offset": [o for _, _, o in rows],
            }
        )
        out = fill_fields(spans, "; ", _POJO_SEPS)

        expected = []
        for doc in sorted({d for d, _, _ in rows}):
            fields, seen = {}, set()
            for pos, (d, (kind, text), off) in enumerate(rows):
                canon = (kind, "".join(text.lower().split()))
                if d == doc and canon not in seen:
                    seen.add(canon)
                    fields.setdefault(kind, []).append((off, pos, text))
            filled = []
            for kind, vals in fields.items():
                if kind == "date":
                    off, pos, text = max(vals, key=lambda v: len(v[2]))
                    text = iso[text]
                elif kind == "time":
                    off, pos, text = vals[0]
                else:
                    off, pos, _ = vals[0]
                    text = _POJO_SEPS.get(kind, "; ").join(v[2] for v in vals)
                filled.append((off, pos, kind, text))
            expected += [(doc, k, t, o) for o, _, k, t in sorted(filled)]
        got = list(zip(out["doc_id"], out["kind"], out["text"], out["offset"]))
        assert got == expected

    check()


def test_date_normalization_breadth_property():
    """C2 date normalization breadth (HeaderMedicalParser.java:394-409 /
    DateParser formats): numeric dd/mm/yyyy, dd.mm.yyyy, dd-mm-yyyy with
    2- or 4-digit years, textual French-month forms ('Le 29 avril 2000',
    '1er janvier 98'), any casing, embedded in prose — every generated
    combination must normalize to the exact ISO day."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from grobid_clinical_report_spark.kernels.lexicon import MONTHS_FR
    from grobid_clinical_report_spark.kernels.normalize import to_iso_date

    month_names = sorted(MONTHS_FR)

    @settings(max_examples=300, deadline=None)
    @given(
        day=st.integers(1, 28),
        month=st.integers(1, 12),
        year=st.integers(1950, 2029),
        sep=st.sampled_from(["/", ".", "-"]),
        textual=st.booleans(),
        two_digit_year=st.booleans(),
        pad=st.booleans(),
        prefix=st.sampled_from(["", "Le ", "Fait à Paris, le ", "Date : "]),
        suffix=st.sampled_from(["", " à 15h30", "."]),
        title_case=st.booleans(),
    )
    def check(day, month, year, sep, textual, two_digit_year, pad, prefix,
              suffix, title_case):
        yy = year % 100
        # the 00-29→20xx / else→19xx pivot must round-trip the chosen year
        if two_digit_year and not ((year >= 2000) == (yy < 30)):
            two_digit_year = False
        ystr = f"{yy:02d}" if two_digit_year else str(year)
        if textual:
            name = next(n for n in month_names if MONTHS_FR[n] == month)
            if title_case:
                name = name.title()
            dstr = f"{day}er" if day == 1 else str(day)
            raw = f"{prefix}{dstr} {name} {ystr}{suffix}"
        else:
            d = f"{day:02d}" if pad else str(day)
            m = f"{month:02d}" if pad else str(month)
            raw = f"{prefix}{d}{sep}{m}{sep}{ystr}{suffix}"
        got = to_iso_date(pd.Series([raw])).iloc[0]
        assert got == f"{year:04d}-{month:02d}-{day:02d}", raw

    check()


def test_adversarial_inputs_never_crash():
    """Malformed/degenerate documents (empty span lists, null text, media-
    only, control chars + astral-plane unicode, negative offsets) must flow
    through every extraction mode without raising, and output cardinality
    must equal input cardinality (a doc that produces nothing still gets
    its empty row — the S4 'no blackholed data' contract)."""
    from grobid_clinical_report_spark import pipeline as pl

    docs = pd.DataFrame([
        {"doc_id": "empty", "spans": []},
        {"doc_id": "nulltext",
         "spans": [{"kind": "text", "text": None,
                    "media_ref": None, "offset": 0}]},
        {"doc_id": "onlymedia",
         "spans": [{"kind": "media", "text": None,
                    "media_ref": "m/1.png", "offset": 0}]},
        {"doc_id": "unicode",
         "spans": [{"kind": "text", "text": "‮\U00010000\x00� ÆØÅ 𝕏𝕐ℤ",
                    "media_ref": None, "offset": 0}]},
        {"doc_id": "negoff",
         "spans": [{"kind": "text", "text": "Bonjour docteur.",
                    "media_ref": None, "offset": -5}]},
    ])
    modes = ["extract_full", "extract_header", "extract_leftnote", "ner",
             "parse_dateline", "parse_medic", "parse_patient", "parse_name",
             "parse_address", "parse_org"]
    for mode in modes:
        out = pl.PANDAS_MODES[mode](docs)
        assert len(out) == len(docs), mode
        assert set(out["doc_id"]) == set(docs["doc_id"]), mode


def test_pack_sequences_property_random_corpora(spark, tmp_path):
    """Packing invariants on randomized corpora (hypothesis): per shard the
    documents tile the token stream exactly (gapless prefix sums), every
    offset < the pack budget, and totals conserve."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from grobid_clinical_report_spark.mixing import (
        PACK_SEQ_TOKENS, q_pack_sequences,
    )

    case = {"n": 0}

    @settings(max_examples=5, deadline=None)
    @given(
        n_docs=st.integers(5, 60),
        seed=st.integers(0, 2**16),
        max_words=st.integers(1, 400),
    )
    def check(n_docs, seed, max_words):
        rng = np.random.default_rng(seed)
        texts = [
            " ".join(f"w{rng.integers(50)}" for _ in range(rng.integers(1, max_words + 1)))
            for _ in range(n_docs)
        ]
        d = str(tmp_path / f"c{case['n']}")
        case["n"] += 1
        import os

        os.makedirs(d, exist_ok=True)
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": "fr",
                "source": "s",
                "n_chars": [len(t) for t in texts],
            }
        ).to_parquet(os.path.join(d, "documents.parquet"))
        out = q_pack_sequences(spark, d).toPandas()
        assert len(out) == n_docs
        assert (out["pack_offset"] < PACK_SEQ_TOKENS).all()
        g = out.sort_values(["shard", "pack_id", "pack_offset"])
        for _, grp in g.groupby("shard"):
            starts = (
                grp["pack_id"].to_numpy() * PACK_SEQ_TOKENS
                + grp["pack_offset"].to_numpy()
            )
            expect = np.concatenate(
                [[0], np.cumsum(grp["n_tokens"].to_numpy())[:-1]]
            )
            assert (starts == expect).all()

    check()


def test_anonymize_no_placeholder_leakage_property(spark):
    """The two-phase placeholder fold must never leak its control-char
    placeholders into output, for any mix of honorific names (including
    names that are substrings of pseudonyms or of each other), stray
    control chars in the input, and hex-looking strings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from grobid_clinical_report_spark import anonymize

    PH_OPEN, PH_CLOSE = chr(2), chr(3)
    first = st.sampled_from(
        ["Jean", "Alix", "Camille", "Lou", "Anne-Marie", "Éloïse"]
    )
    last = st.sampled_from(["ROUX", "DURAND", "MARTIN", "DUBOIS", "N'GUYEN"])
    title = st.sampled_from(["Dr", "Pr", "Madame", "Monsieur", "Mme"])
    name = st.builds(lambda t, f, s: f"{t} {f} {s}", title, first, last)
    short = st.builds(lambda t, f: f"{t} {f}", title, first)
    filler = st.sampled_from(
        ["consulte", "opère à Paris", "signe le 12/05/2019",
         PH_OPEN + "deadbeef" + PH_CLOSE, "0123456789abcdef" * 2,
         "mail a@b.fr"]
    )
    collected = []

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.one_of(name, short, filler), min_size=1, max_size=8),
           st.integers(0, 2**31))
    def build(parts, doc_id):
        collected.append((doc_id, ". ".join(parts) + "."))

    build()
    df = spark.createDataFrame(collected, "doc_id long, text string")
    out = (
        df.selectExpr("doc_id", f"{anonymize._spark_stage1()} as t2")
        .selectExpr("doc_id", f"{anonymize._spark_stage2()} as t3")
        .selectExpr("doc_id", f"{anonymize._spark_stage3()} as anon_text")
        .toPandas()
    )
    joined = " ".join(out["anon_text"])
    # no placeholder residue beyond what the INPUT itself contained
    n_input_ctrl = sum(t.count(PH_OPEN) + t.count(PH_CLOSE)
                       for _, t in collected)
    assert joined.count(PH_OPEN) + joined.count(PH_CLOSE) <= n_input_ctrl
    # no real surname survives anywhere
    for s in ["ROUX", "N'GUYEN"]:
        assert s not in joined


def test_pseudonym_space_distinctness(spark):
    """VERDICT r4 next #5: the per-person pseudonym space is 64×64 = 4096
    combos, so K distinct real names map to ~K distinct pseudonyms. 200
    distinct names expect ~5 birthday collisions in 4096; under 185
    distinct outputs would be a >6-sigma event (and the old 81-combo space
    could never exceed 81). Deterministic: the mapping is a pure function
    of the name."""
    from grobid_clinical_report_spark import anonymize

    names = [f"Alde{i} BRANCHE{i}" for i in range(200)]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    out = df.selectExpr(
        f"{anonymize._pseudo_spark('name')} as pseudo"
    ).toPandas()
    n_distinct = out["pseudo"].nunique()
    assert n_distinct >= 185, n_distinct
    # and every pseudonym is a well-formed 'First LAST' from the lexicons
    for p in out["pseudo"].unique():
        f, s = p.split(" ", 1)
        assert f in anonymize._FIRST and s in anonymize._LAST


def test_cross_engine_parity_random_corpora(spark, tmp_path):
    """Oracle parity beyond the fixed tiers: on randomized corpora, the
    integer-exact operators (lm_quality's divmod ppm, sample_mix's md5
    gate, pack_sequences' windows, corpus_filter's bitmask, the
    components closure) must hash-match DuckDB bit-for-bit."""
    import hashlib
    import os

    import duckdb
    import numpy as np

    import __spark_entry__ as entry
    from grobid_clinical_report_spark import datagen

    qs, oracles = entry.queries(), entry.oracle_sql()
    ops = ["lm_quality", "sample_mix", "pack_sequences", "corpus_filter",
           "dedup_components"]

    def canon(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            df[c] = df[c].astype(str)
        df = df.sort_values(list(df.columns)).reset_index(drop=True)
        return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()

    for seed in (7, 1234, 99999):
        d = str(tmp_path / f"corp{seed}")
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng(seed)
        pdf = datagen.synthetic_text_documents_pdf(
            int(rng.integers(40, 200)), seed=seed,
            words_per_doc=int(rng.integers(10, 120)),
        )
        pdf.to_parquet(os.path.join(d, "documents.parquet"))
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(d, 'documents.parquet')}'"
        )
        for name in ops:
            got = qs[name](spark, d).toPandas()
            want = con.sql(oracles[name]).df()
            assert len(got) == len(want), (seed, name)
            assert canon(got) == canon(want), (seed, name)


def test_stream_sessionize_matches_batch_twin_out_of_order(spark, tmp_path):
    """Randomized streaming↔batch equivalence for the gap-session operator
    (ADVICE r4 follow-through): random per-user session structures whose
    events arrive SHUFFLED WITHIN EACH TRUE SESSION and split across
    micro-batches (so late-but-in-watermark events can precede the open
    session's carried start and cross batch boundaries), streamed with a
    generous watermark, must reproduce the batch lag+cumsum sessionization
    of the fully-sorted log exactly: same (user, start, end, n_events)
    sets. Within-session shuffling is the equivalence envelope: the
    operator emits gap-closed sessions eagerly, so an event arriving after
    a LATER session already closed could never retro-merge (the documented
    eager-emission semantics); inside the open session, order must not
    matter at all."""
    import glob
    import os
    import shutil

    import numpy as np

    from grobid_clinical_report_spark.streaming import stream_sessionize

    rng = np.random.RandomState(20260817)
    gap_min = 30
    t0 = pd.Timestamp("2026-02-01 00:00:00")

    def make_trial(trial):
        rows = []  # arrival order
        truth = []
        eid = 0
        for u in range(1, 5):
            minute = int(rng.randint(0, 60))
            for _s in range(int(rng.randint(1, 4))):
                n_ev = int(rng.randint(1, 7))
                offs = np.sort(rng.randint(0, gap_min - 2, size=n_ev))
                sess_ts = [minute + int(o) for o in offs]
                truth.append(
                    (u, min(sess_ts), max(sess_ts), n_ev)
                )
                order = rng.permutation(n_ev)
                for k in order:
                    rows.append((eid + int(k), u, sess_ts[int(k)]))
                eid += n_ev
                minute = max(sess_ts) + gap_min + 1 + int(rng.randint(0, 30))
        return rows, truth

    for trial in range(2):
        rows, truth = make_trial(trial)
        in_dir = tmp_path / f"ev{trial}"
        out_dir = str(tmp_path / f"out{trial}")
        in_dir.mkdir()

        def write_batch(name, batch_rows):
            pdf = pd.DataFrame(
                [
                    {"event_id": e, "ts": t0 + pd.Timedelta(minutes=m),
                     "user_id": u, "event_type": "clk", "value": 1.0,
                     "props": ""}
                    for e, u, m in batch_rows
                ]
            )
            tmp = in_dir / f"_{name}"
            spark.createDataFrame(pdf).coalesce(1).write.parquet(str(tmp))
            for f in glob.glob(str(tmp / "part*")):
                shutil.move(f, str(in_dir / f"{name}.parquet"))

        # split the arrival sequence into 3 micro-batches + a flush batch
        cuts = sorted(rng.choice(range(1, len(rows)), 2, replace=False))
        batches = [rows[: cuts[0]], rows[cuts[0]: cuts[1]], rows[cuts[1]:]]
        batches.append([(10**6, 999, 10**5)])  # watermark flush
        for bi, batch_rows in enumerate(batches):
            write_batch(f"b{bi}", batch_rows)
            q = stream_sessionize(
                spark, str(in_dir), out_dir, gap_minutes=gap_min,
                late_threshold="12 hours",
            )
            try:
                assert q.awaitTermination(180)
            finally:
                q.stop()

        got = spark.read.parquet(
            os.path.join(out_dir, "sessions", "epoch=*")
        ).toPandas()
        got = got[got.user_id != 999]
        to_min = lambda s: (  # noqa: E731
            (s - t0).dt.total_seconds() / 60
        ).astype(int)
        got_set = sorted(
            zip(got["user_id"], to_min(got["session_start"]),
                to_min(got["session_end"]), got["n_events"])
        )
        assert got_set == sorted(truth), f"trial {trial}"
    assert not spark.streams.active
