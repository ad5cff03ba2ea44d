"""spark-submit entrypoint (SURVEY.md §2.6 batch CLI parity).

Mirrors the reference CLI (`GrobidMedicalReportMain.java:136-218` /
`ProcessEngineMedical.java`) commands as extraction modes:

    spark-submit --py-files grobid_clinical_report_spark.zip \
        scripts/submit_job.py \
        --input  /data/documents        (parquet dir or Iceberg table path)
        --output /data/extracted \
        --mode   extract_full           (extract_header | extract_leftnote |
                                         ner | parse_medic | parse_patient |
                                         parse_dateline)
        --buckets 256 --max-spans 50000 [--no-resume] [--generate N]

`--generate N` materializes the seeded synthetic corpus first (local tiers).

`--train {0|1|2|3}` switches to the trainer runner (reference parity:
`MedicalReportTrainerRunner.java:25,51` — "0 - train", "1 - evaluate",
"2 - split, train and evaluate", "3 - n-fold evaluation", with `-s` →
--split-milli and `-n` → --folds):

    ... --train 0 --model fr-medical-ner --input docs --output models/
    ... --train 2 --split-milli 800 ...          (saves the split-trained model)
    ... --train 1 --weights models/fr-medical-ner.npz ...
    ... --train 3 --folds 5 ...

Modes 1-3 write the P/R/F1 table to <output>/eval and print its micro rows.

A trained model then SERVES extraction (the reference's model-directory
deployment): `--mode ner --weights models/fr-medical-ner.npz` decodes with
the learned weights instead of the surrogate; the manifest mode records a
weights fingerprint so resume never mixes outputs across model versions.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="grobid_clinical_report_spark")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    from .pipeline import FLAT_MODES

    p.add_argument(
        "--mode", default="extract_full", choices=sorted(FLAT_MODES)
    )
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--max-spans", type=int, default=50_000)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--generate", type=int, default=0,
                   help="generate N synthetic docs into --input first")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument(
        "--process-quarantine", action="store_true",
        help="after the main pass, window+extract quarantined whales into "
             "bucket=quarantine (second-pass long-document path)",
    )
    p.add_argument(
        "--train", type=int, choices=[0, 1, 2, 3], default=None,
        help="run the trainer runner instead of extraction "
             "(0 train, 1 evaluate, 2 split-train-evaluate, 3 n-fold)",
    )
    p.add_argument("--model", default="fr-medical-ner",
                   help="trainable model spec (--train only)")
    p.add_argument("--weights", default=None,
                   help="existing model .npz to evaluate (--train 1)")
    p.add_argument("--split-milli", type=int, default=800,
                   help="train fraction ·1000 for --train 2")
    p.add_argument("--folds", type=int, default=3,
                   help="fold count for --train 3")
    p.add_argument("--epochs", type=int, default=3)
    p.add_argument("--train-shards", type=int, default=4)
    p.add_argument("--batch-docs", type=int, default=32)
    p.add_argument(
        "--stage-buckets", action="store_true",
        help="materialize a bucket-partitioned copy of the input first so "
             "each wave scans its buckets via directory pruning (use when the "
             "source is NOT already bucket-partitioned)",
    )
    args = p.parse_args(argv)

    if args.generate:
        from .datagen import write_documents_parquet

        write_documents_parquet(
            args.input, n_docs=args.generate, shards=max(args.buckets * 4, 16)
        )

    from .session import get_spark

    if args.train is not None:
        from .trainer import run_training_job

        spark = get_spark(app=f"train-{args.model}", cpus=args.cpus)
        try:
            metrics = run_training_job(
                spark, args.input, args.output,
                model=args.model, mode=args.train, weights=args.weights,
                split_milli=args.split_milli, n_folds=args.folds,
                epochs=args.epochs, shards=args.train_shards,
                batch_docs=args.batch_docs,
            )
        finally:
            spark.stop()
        print(json.dumps(metrics))
        return 0

    from .runner import process_quarantined, run_extraction_job

    extract_fn = job_tag = None
    if args.weights:
        # serve TRAINED weights inside the extraction job (the reference's
        # model-directory deployment): only the NER decoder has a trained
        # deploy shape today
        import hashlib

        from .trainer import load_model, run_trained_ner

        if args.mode != "ner":
            p.error("--weights (trained serving) requires --mode ner")
        W, T, name = load_model(args.weights)
        if name != "fr-medical-ner":
            p.error(f"--weights holds a {name} model; --mode ner needs "
                    "fr-medical-ner")
        with open(args.weights, "rb") as f:
            job_tag = "w" + hashlib.md5(f.read()).hexdigest()[:12]
        extract_fn = lambda df: run_trained_ner(df, W, T)  # noqa: E731

    spark = get_spark(app=f"extract-{args.mode}", cpus=args.cpus)
    from .pipeline import apply_split_hint

    apply_split_hint(spark, args.mode)
    try:
        metrics = run_extraction_job(
            spark,
            args.input,
            args.output,
            mode=args.mode,
            n_buckets=args.buckets,
            max_spans=args.max_spans,
            resume=not args.no_resume,
            stage_buckets=args.stage_buckets,
            extract_fn=extract_fn,
            job_tag=job_tag,
        )
        if args.process_quarantine and metrics["quarantined"]:
            # the whale pass uses the SAME decoder as the main pass — with
            # --weights the trained decoder, never the surrogate cascade
            # (one output directory must hold one decoder's spans)
            metrics["quarantine_pass"] = process_quarantined(
                spark, args.input, args.output,
                mode=args.mode, max_spans=args.max_spans,
                extract_fn=extract_fn,
            )
    finally:
        spark.stop()
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
