"""spark-submit entry point for corpus cleaning — runs the composed
C4/RefinedWeb-style gate chain (guackg/ops/clean.py: language gate →
quality gate → optional Gopher repetition gate (--max-dup-line-frac)
→ exact dedup → MinHash near-dup collapse) over a parquet
documents table and ships the kept corpus plus a full per-doc audit.

The reference's analog surface is the processor's validate/quarantine
split (SURVEY §2.2 P4/P8 — every document either flows through or is
dropped with a recorded reason); this CLI is the training-data-shaped
version a 100-TB cleaning run needs: auditable attrition per stage, a
deterministic kept set, and no silent drops.

    spark-submit --py-files guackg.zip scripts/clean_corpus.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --out /tmp/cleaned [--langs en] [--min-quality 0.3] \
        [--near-threshold 0.5] [--master local[8]]

Writes (when --out is given):
    <out>/kept/   — the surviving docs (all input columns)
    <out>/audit/  — one row per INPUT doc:
                    (doc_id, lang_guess, quality, dup_line_frac,
                     stage, cluster_id, keep)
Prints one JSON summary line with per-stage counts either way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from guackg.ops.clean import clean_corpus, clean_corpus_stats
from guackg.session import get_spark


def run_clean(spark, args) -> dict:
    """Returns the summary dict. Kept separate from main() so tests
    drive it in-process."""
    docs = spark.read.parquet(args.input)
    langs = tuple(s.strip() for s in args.langs.split(",") if s.strip())
    if args.drop_dup_paragraphs:
        # dedup ONCE up front and clean the rewritten corpus — the
        # composition-law test pins this equal to clean_corpus's own
        # drop_dup_paragraphs=True path, and kept/ then ships the text
        # the gates actually scored (running the corpus-wide dedup
        # twice was a round-4 review finding)
        from guackg.ops.dedup import paragraph_dedup
        rewritten = paragraph_dedup(docs, args.text_col) \
            .withColumnRenamed("text_dedup", args.text_col)
        docs = docs.drop(args.text_col).join(
            rewritten.select("doc_id", args.text_col), on="doc_id")
    # getattr defaults: in-process callers (tests) build bare
    # Namespaces without the optional decontamination args
    bench_path = getattr(args, "benchmark", None)
    benchmark = spark.read.parquet(bench_path) if bench_path else None
    audit = clean_corpus(docs, text_col=args.text_col, langs=langs,
                         min_quality=args.min_quality,
                         near_threshold=args.near_threshold,
                         max_dup_line_frac=args.max_dup_line_frac,
                         benchmark=benchmark,
                         contamination_n=getattr(args, "contamination_n",
                                                 13),
                         max_contamination=getattr(
                             args, "max_contamination", 0.0))
    # --dedup-state: the persisted cross-batch near-dup gate. First
    # batch writes the minhash state table; later batches read it,
    # drop batch docs that near-duplicate the STORED corpus (audit
    # stage 'near_dup_corpus' — the within-batch 'near_dup' collapse
    # already ran inside clean_corpus), and append their own state,
    # so every batch's dedup work stays O(batch).
    state_dir = getattr(args, "dedup_state", None)
    if state_dir:
        from pyspark.sql import functions as F

        from guackg.io import append_table, read_table, table_exists
        from guackg.ops.dedup import (minhash_lsh_pairs_stored,
                                      write_minhash_state)
        kept_docs = docs.join(audit.filter("keep").select("doc_id"),
                              on="doc_id")
        if table_exists(state_dir):
            state = read_table(spark, state_dir)
            pairs, delta = minhash_lsh_pairs_stored(
                kept_docs, state, text_col=args.text_col,
                threshold=args.near_threshold)
            old_ids = state.select("doc_id").distinct()
            drop_ids = (pairs.join(old_ids.withColumnRenamed(
                            "doc_id", "doc_a"), on="doc_a")
                        .select(F.col("doc_b").alias("doc_id"))
                        .union(pairs.join(old_ids.withColumnRenamed(
                            "doc_id", "doc_b"), on="doc_b")
                            .select(F.col("doc_a").alias("doc_id")))
                        .distinct()
                        .join(kept_docs.select("doc_id"), on="doc_id")
                        .withColumn("_cross", F.lit(True))
                        .localCheckpoint())
            audit = (audit.join(drop_ids, on="doc_id", how="left")
                     .withColumn("keep",
                                 F.when(F.col("_cross"), F.lit(False))
                                 .otherwise(F.col("keep")))
                     .withColumn("stage",
                                 F.when(F.col("_cross"),
                                        F.lit("near_dup_corpus"))
                                 .otherwise(F.col("stage")))
                     .drop("_cross").localCheckpoint())
            append_table(delta.join(audit.filter("keep").select("doc_id"),
                                    on="doc_id"), state_dir)
        else:
            write_minhash_state(kept_docs, state_dir,
                                text_col=args.text_col)
    if args.out:
        # audit comes back checkpointed (clean_corpus materializes
        # it), so the write, the kept join, and the stats rollup all
        # reuse one computation — no re-read workaround needed
        audit.write.mode("overwrite") \
            .parquet(os.path.join(args.out, "audit"))
        kept = docs.join(audit.filter("keep").select("doc_id"),
                         on="doc_id")
        kept.write.mode("overwrite") \
            .parquet(os.path.join(args.out, "kept"))
    stats = {r.stage: r.n_docs for r in
             clean_corpus_stats(audit).collect()}
    return {"input": args.input, "out": args.out,
            "docs_in": sum(stats.values()),
            "kept": stats.get("kept", 0),
            "dropped_per_stage": {k: v for k, v in sorted(stats.items())
                                  if k != "kept"}}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet docs table with (doc_id, <text-col>)")
    ap.add_argument("--out", default=None,
                    help="output dir for kept/ and audit/ parquet")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--langs", default="en",
                    help="comma-separated languages to keep")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--near-threshold", type=float, default=0.8)
    ap.add_argument("--max-dup-line-frac", type=float, default=None,
                    help="enable the Gopher duplicate-line repetition "
                         "gate at this threshold (off by default)")
    ap.add_argument("--benchmark", default=None,
                    help="parquet docs table of the eval set; enables "
                         "the decontamination gate (n-gram overlap)")
    ap.add_argument("--contamination-n", type=int, default=13)
    ap.add_argument("--max-contamination", type=float, default=0.0)
    ap.add_argument("--dedup-state", default=None,
                    help="dir for the persisted minhash near-dup "
                         "state: first batch writes it, later batches "
                         "drop docs near-duplicating the stored "
                         "corpus (stage near_dup_corpus) and append "
                         "their own state — O(batch) incremental "
                         "ingest")
    ap.add_argument("--drop-dup-paragraphs", action="store_true",
                    help="remove corpus-wide duplicated paragraphs "
                         "BEFORE the gates (RefinedWeb order); kept/ "
                         "then ships the rewritten text")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("guackg-clean", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    summary = run_clean(spark, args)
    summary["elapsed_sec"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
