"""grobid_clinical_report_spark — a from-scratch, PySpark-native clinical-document
extraction engine with the capabilities of tantikristanti/grobid-clinical-report
(reference: /root/reference, a Java GROBID module).

Not a port: the reference's per-document Java object pipeline (pdfalto → layout
tokens → Wapiti CRF cascade → TEI) is re-expressed as vectorized Arrow/pandas
stages over an interleaved-span document table:

    documents(doc_id string,
              spans array<struct<kind, text, media_ref, offset>>)

One row = one document. All extraction logic lives in pure
``pandas.DataFrame -> pandas.DataFrame`` kernels (``kernels/``) composed inside a
single shuffle-free ``mapInArrow`` pass (``pipeline.py``); Spark provides
partitioning, skew salting, checkpoint/resume and writes (``runner.py``,
``manifest.py``).

Capability map to the reference (SURVEY.md §2):
  kernels.tokenize    — T1/T2/T3  (GrobidAnalyzer tokenization, line split, sanitize)
  kernels.features    — F1-F7     (FeaturesVectorMedical / FullMedicalText et al.)
  kernels.lexicon     — F8        (Lexicon / MedicalNERLexicon gazetteers)
  kernels.viterbi     — L1        (Wapiti CRF decode → numpy linear-chain Viterbi)
  kernels.cluster     — L2/L3/C6  (TaggingTokenClusteror, zone assembly, note dedup)
  kernels.segmenter   — segmenter model (MedicalReportSegmenterParser)
  kernels.header      — header model + merge rules (HeaderMedicalParser)
  kernels.leftnote    — left-note model (LeftNoteMedicalParser)
  kernels.body        — full-text body model + TEI assembly (FullMedicalTextParser,
                        TEIFormatter.toTEITextPiece)
  kernels.subparsers  — medic/patient/dateline string parsers (MedicParser et al.)
  kernels.ner         — French medical NER (FrenchMedicalNERParser)
  pipeline            — C1 cascade as one vectorized pass
  textops             — training-data ops (dedup/langid/quality/LM-perplexity/
                        Gopher repetition/decontamination/tokens/fingerprint)
  similarity          — embedding ANN (brute-force + LSH-bucketed)
  multimodal          — media columns + real pure-numpy PPM decode
"""

__version__ = "0.3.0"
