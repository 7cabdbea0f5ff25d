"""Training-data curation job — the spark-submit deliverable for the
documents pipeline (quality gate → exact dedup → sequence packing):

    ./scripts/make_pyfiles.sh
    spark-submit --py-files dist/kgforge.zip jobs/curate_job.py \\
        --input  /path/to/documents_table \\
        --output /path/to/curated_out \\
        [--pack-cap 128] [--strata lang] [--run-id c1] \\
        [--lm-ppl-max 40.0] [--bench /path/to/eval_docs]

Reads documents(doc_id, <strata>, text) (parquet; Iceberg catalogs plug
in via ``--input table:<name>``), writes:

    <output>/curated/  — quality-passing, fingerprint-deduped docs
                         (partitioned by stratum)
    <output>/packed/   — (doc_id, stratum, bin_id, n_tokens) assignment
    <output>/stats/    — per-stratum funnel (n_raw, n_kept, n_unique,
                         n_tokens_final)
    <output>/reasons/  — drop-reason histogram (attributable drops)

and prints a one-line JSON summary.  Same operators the oracle-checked
curation_funnel / text_quality_filter queries pin.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--pack-cap", type=int, default=128)
    ap.add_argument("--strata", default="lang")
    ap.add_argument("--lm-ppl-max", type=float, default=None,
                    help="CCNet LM gate: drop docs with bigram-LM "
                         "perplexity above this (off by default)")
    ap.add_argument("--bench", default=None,
                    help="docs-shaped parquet of eval data; docs sharing "
                         ">= 3 distinct shingles with it are dropped")
    ap.add_argument("--redact-pii", action="store_true",
                    help="scrub emails/ids/IPs/phones from surviving text "
                         "before dedup fingerprinting (functions/pii.py)")
    ap.add_argument("--run-id", default="curate0")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kgforge.functions.curation import curate
    from kgforge.functions.quality import quality_flags

    spark = SparkSession.builder.appName("kgforge-curate-job").getOrCreate()
    if args.input.startswith("table:"):
        docs = spark.read.table(args.input.split(":", 1)[1])
    else:
        docs = spark.read.parquet(args.input)
    docs = docs.select("doc_id", args.strata, "text")

    bench_docs = spark.read.parquet(args.bench) if args.bench else None
    t0 = time.monotonic()
    curated, packed, stats = curate(
        docs, pack_cap=args.pack_cap, strata_col=args.strata,
        lm_ppl_max=args.lm_ppl_max, bench_docs=bench_docs,
        redact_pii=args.redact_pii,
    )
    curated.write.mode("overwrite").partitionBy(args.strata).parquet(
        f"{args.output}/curated"
    )
    packed.write.mode("overwrite").parquet(f"{args.output}/packed")
    stats.write.mode("overwrite").parquet(f"{args.output}/stats")
    reasons = (
        quality_flags(docs)
        .filter(F.col("reason") != "ok")  # drop-reason histogram: drops only
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
    )
    reasons.write.mode("overwrite").parquet(f"{args.output}/reasons")

    agg = stats.agg(
        F.sum("n_raw").alias("r"),
        F.sum("n_kept").alias("k"),
        F.sum("n_lm_dropped").alias("lm"),
        F.sum("n_contaminated").alias("ct"),
        F.sum("n_unique").alias("u"),
        F.sum("n_tokens_final").alias("t"),
    ).collect()[0]
    n_bins = packed.select(args.strata, "bin_id").distinct().count()
    summary = {
        "run_id": args.run_id,
        "n_raw": int(agg.r or 0),  # empty input -> all-NULL agg row
        "n_kept": int(agg.k or 0),
        "n_lm_dropped": int(agg.lm or 0),
        "n_contaminated": int(agg.ct or 0),
        "n_unique": int(agg.u or 0),
        "n_tokens_final": int(agg.t or 0),
        "n_bins": n_bins,
        "pack_cap": args.pack_cap,
        "wall_sec": round(time.monotonic() - t0, 1),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
