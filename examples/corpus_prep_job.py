"""spark-submit entry point for the composed LLM-corpus preparation
pipeline — the certified hygiene chain over an arbitrary documents
table. The stage list, each stage's operator call and the
materialization rule live in ``schema_drift_detector_spark.plans.corpus``
(the same composition the board entry corpus_pipeline_e2e certifies):

    [URL governance (--url-col)] → Unicode normalization → Gopher
    quality filter → exact dedup → cross-doc boilerplate strip →
    intra-doc repetition strip → PII redaction → [benchmark
    decontamination (--eval-docs)] → MinHash near-dup drop → CCNet
    LM-perplexity tier drop → mixing (per-source token budget, or
    mT5-style temperature quotas with --mix temperature) → context
    chunking → next-fit sequence packing

    zip -r engine.zip schema_drift_detector_spark
    spark-submit --py-files engine.zip examples/corpus_prep_job.py \
        --docs /path/to/documents.parquet \
        --out /path/to/prep_out \
        [--eval-docs /path/to/eval.parquet]   # decontamination source
        [--budget-tokens 1000000] [--chunk-tokens 2048] [--stride 1024] \
        [--pack-cap 4096] [--shards 64] [--min-stopword-hits 2] \
        [--skip-quality] [--skip-normalize] [--skip-lm-tier] \
        [--url-col url --url-blocklist evil.example \
         --url-hard-kw /xxx --url-soft-kw casino=2,free=1 \
         --url-soft-threshold 3 --url-drop-null] \
        [--mix temperature --mix-total 0 --mix-alpha 0.3]

The fixed stage parameters (Gopher min words 50, gram n 8, boilerplate
min df 4, LSH threshold 0.6, 4096 LM buckets, 10% LM training subset)
are constants of plans/corpus.py.

Input schema: (doc_id long, source string, text string) — extra
columns pass through to the survivors output, EXCEPT the reserved
internal names n_tokens/n_removed (the job fails loud on those) and
NULL-text rows (dropped up front, counted in the stats). Outputs
under --out:
  survivors/   cleaned, deduped, budgeted docs (doc_id, source, text)
  chunks/      (doc_id, chunk_index, chunk_text, n_chunk_tokens)
  packed/      the packed-sequence manifest (chunk_uid, shard, bin,
               n_tokens, truncated)
  stats.json   per-stage row counts (drop-rate audit)
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# stage → (stats.json key, output directory under --out)
AUDIT = {
    "url_governance": ("after_url_governance", None),
    "quality_filter": ("after_quality_filter", None),
    "exact_dedup": ("after_exact_dedup", None),
    "decontaminate": ("after_decontamination", None),
    "neardup_drop": ("after_neardup_drop", None),
    "lm_tier_drop": ("after_lm_tier_drop", None),
    "token_budget": ("after_token_budget", "survivors"),
    "temperature_mix": ("after_temperature_mix", "survivors"),
    "chunk": ("chunks", "chunks"),
    "pack": ("packed_chunks", "packed"),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet path/table")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--eval-docs", help="benchmark/eval docs to decontaminate against")
    ap.add_argument("--budget-tokens", type=int, default=1_000_000)
    ap.add_argument("--chunk-tokens", type=int, default=2048)
    ap.add_argument("--stride", type=int, default=1024)
    ap.add_argument("--pack-cap", type=int, default=4096)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--min-stopword-hits", type=int, default=2)
    # each --skip-* leaves its stage out of the list
    skip = dict(dest="skip", action="append_const", default=[])
    ap.add_argument("--skip-quality", const="quality_filter", **skip)
    ap.add_argument(
        "--skip-normalize",
        const="normalize",
        **skip,
        help="skip Unicode normalization (strip controls, NFC, space "
        "mapping, whitespace collapse) — ON by default because "
        "un-normalized text defeats every downstream dedup/decontam "
        "gram identity",
    )
    ap.add_argument("--skip-lm-tier", const="lm_tier_drop", **skip)
    ap.add_argument(
        "--url-col",
        help="run URL governance FIRST over this column (RefinedWeb "
        "§3.1: drop crawl records whose URL hits the domain blocklist "
        "or the keyword rules) — requires at least one of "
        "--url-blocklist / --url-hard-kw / --url-soft-kw",
    )
    ap.add_argument(
        "--url-blocklist", default="",
        help="comma-separated lowercase blocked domains (subdomains "
        "blocked too)",
    )
    ap.add_argument(
        "--url-hard-kw", default="",
        help="comma-separated lowercase substrings — one occurrence "
        "anywhere in the URL drops the record",
    )
    ap.add_argument(
        "--url-soft-kw", default="",
        help="comma-separated kw=weight pairs; weighted occurrence sum "
        ">= --url-soft-threshold drops the record",
    )
    ap.add_argument("--url-soft-threshold", type=int, default=3)
    ap.add_argument(
        "--url-drop-null",
        action="store_true",
        help="ALSO drop records whose URL is NULL (unattributable). "
        "Default keeps them: a NULL verdict means 'no attribution', "
        "not 'pass' — this knob is where the caller decides, per the "
        "urlmeta contract",
    )
    ap.add_argument(
        "--mix", choices=["budget", "temperature"], default="budget",
        help="final mixing rule: 'budget' = per-source token budget "
        "(--budget-tokens; NULL-source docs are budgeted as their own "
        "group); 'temperature' = mT5-style doc quotas proportional to "
        "source_size**alpha (--mix-total, --mix-alpha; NULL-source "
        "docs are DROPPED — they cannot be attributed to a mixture "
        "component)",
    )
    ap.add_argument(
        "--mix-total", type=int, default=0,
        help="temperature mix: total docs to draw (default: half the "
        "surviving docs)",
    )
    ap.add_argument("--mix-alpha", type=float, default=0.3)
    args = ap.parse_args()

    from schema_drift_detector_spark.plans import corpus
    from schema_drift_detector_spark.sources.io import read_table

    spark = SparkSession.builder.appName("corpus-prep").getOrCreate()
    stats: dict[str, int] = {}

    docs = read_table(spark, args.docs)
    # n_tokens/n_removed are produced-and-consumed internally by the
    # strip stages; a caller's same-named columns would be silently
    # destroyed — fail loud instead (the gopher clash-guard discipline)
    reserved_names = set(corpus.STRIP_COUNTERS)
    if "lm_tier_drop" not in args.skip:
        reserved_names |= set(corpus.LM_COLUMNS)
    reserved = reserved_names & set(docs.columns)
    if reserved:
        raise SystemExit(
            f"input carries reserved column(s) {sorted(reserved)} — rename them"
        )
    small = corpus.small_input(docs)
    stats["input"] = docs.count()

    # NULL text can never survive the chain usefully (token_count on
    # NULL is the classic size(-1) trap under legacy sizeOfNull) —
    # drop it up front, audited
    docs = docs.filter(F.col("text").isNotNull())
    stats["after_null_text_drop"] = docs.count()

    url = None
    if args.url_col:
        block = [d for d in args.url_blocklist.split(",") if d]
        hard = [k for k in args.url_hard_kw.split(",") if k]
        soft = {}
        for pair in args.url_soft_kw.split(","):
            if pair:
                k, _, w = pair.partition("=")
                try:
                    soft[k] = int(w or 1)
                except ValueError:
                    raise SystemExit(
                        f"--url-soft-kw weights must be integers, got {pair!r}"
                    )
        if not (block or hard or soft):
            raise SystemExit(
                "--url-col given but no rule configured (--url-blocklist / "
                "--url-hard-kw / --url-soft-kw) — the stage would be a no-op"
            )
        if args.url_col not in docs.columns:
            raise SystemExit(f"input has no column {args.url_col!r}")
        url = corpus.UrlRules(
            args.url_col, block, hard, soft, args.url_soft_threshold, args.url_drop_null
        )

    steps = corpus.stages(
        small=small,
        min_stopword_hits=args.min_stopword_hits,
        mix=corpus.TemperatureMix(args.mix_total, args.mix_alpha)
        if args.mix == "temperature"
        else args.budget_tokens,
        chunk_tokens=args.chunk_tokens,
        stride=args.stride,
        pack_cap=args.pack_cap,
        shards=args.shards,
        url=url,
        eval_docs=(lambda _: read_table(spark, args.eval_docs))
        if args.eval_docs
        else None,
    )

    def audit(name, df):
        if name in AUDIT:
            key, out = AUDIT[name]
            counted = df
            if out:
                # count the written files: the packing stage is not
                # checkpointed, and counting it would re-run the pack fold
                df.write.mode("overwrite").parquet(f"{args.out}/{out}")
                counted = spark.read.parquet(f"{args.out}/{out}")
            stats[key] = counted.count()
        return df

    corpus.run(docs, [s for s in steps if s.name not in args.skip], audit)

    line = json.dumps(stats)
    # the documented stats.json artifact (stdout alone drowns in
    # spark-submit noise); local filesystem outputs only — for remote
    # --out (s3a:// etc.) the stdout line is the record
    if "://" not in args.out:
        import os

        os.makedirs(args.out, exist_ok=True)
        with open(os.path.join(args.out, "stats.json"), "w") as fh:
            fh.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
