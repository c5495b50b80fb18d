"""One-call corpus cleaning — the composed C4/RefinedWeb-style
pipeline a training-data team actually ships, built from the audited
primitives in textstats/dedup (each of which carries its own oracle):

    1. language gate      (textstats.lang_guess_col — the
                           language_id expression)
    2. quality gate       (textstats.quality_col — the quality_score
                           composite expression)
    3. exact dedup        (dedup.exact_dedup: min doc_id per hash)
    4. near-dup collapse  (dedup.minhash_lsh_pairs →
                           dedup.near_dup_collapse: one representative
                           per connected component)

The reference's analog is the processor's validate/quarantine +
ingestor dedup chain (SURVEY §2.2 P4/P8): every document either flows
through or is dropped with a recorded reason. This composition keeps
that contract — the output has ONE ROW PER INPUT DOC with the first
gate that dropped it, so corpus attrition is auditable per stage (no
silent caps, SURVEY §4) and the kept set is reproducible.

Scale shape: stages 1-3 are pure narrow/columnar built-ins plus one
hash window; stage 4 is the bucketed LSH + connected-components path
(see minhash_lsh_pairs / near_dup_collapse for their 100-TB notes).
Each gate shrinks the frame the next stage scans, in the cheap-to-
expensive order a 10^12-doc run needs: LSH only ever sees docs that
survived the O(1)-per-row gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from guackg.ops.dedup import (exact_dedup, minhash_lsh_pairs,
                              near_dup_collapse)
from guackg.ops.textstats import (lang_guess_col, quality_col,
                                  repetition_col)

CLEAN_STAGES = ("lang", "quality", "repetition", "contaminated",
                "exact_dup", "near_dup", "kept")


def clean_corpus(docs: DataFrame, text_col: str = "text",
                 langs: tuple[str, ...] = ("en",),
                 min_quality: float = 0.3,
                 near_threshold: float = 0.8,
                 max_dup_line_frac: float | None = None,
                 drop_dup_paragraphs: bool = False,
                 benchmark: DataFrame | None = None,
                 contamination_n: int = 13,
                 max_contamination: float = 0.0) -> DataFrame:
    """docs(doc_id, text, …) → one row per input doc:
    (doc_id, lang_guess, quality, dup_line_frac, stage, cluster_id,
    keep).

    `stage` is the FIRST gate that dropped the doc ('lang', 'quality',
    'repetition' when `max_dup_line_frac` is set — the Gopher
    duplicate-line filter — 'exact_dup', 'near_dup') or 'kept'.
    `cluster_id` is the near-dup component representative for docs
    that reached the last stage (its own doc_id for singletons; NULL
    for docs dropped earlier). `keep` is (stage == 'kept').

    `benchmark` (a docs frame with doc_id + text_col) enables the
    decontamination gate: docs whose word-`contamination_n`-gram
    overlap frac with the benchmark exceeds `max_contamination`
    (default: any overlap) exit at 'contaminated'. The gate sits
    after the row-wise gates and before the dedup stages — cheap-to-
    expensive order holds (the broadcast-join overlap check only
    scans row-wise survivors), and since contamination is a per-doc
    measure vs a FIXED benchmark, the verdict is independent of which
    other docs are in the frame.

    `drop_dup_paragraphs=True` runs dedup.paragraph_dedup FIRST (the
    RefinedWeb order: boilerplate removal before the quality signals,
    so navigation chrome repeated across a site neither inflates
    dup_line_frac nor drags quality) — every gate then scores the
    paragraph-deduped text, and downstream consumers should keep the
    rewritten corpus (join `paragraph_dedup(docs)` on the kept ids).

    Determinism: every tie-break is the smallest doc_id (exact_dedup's
    window order; near_dup_collapse's component min; paragraph_dedup's
    min-(doc_id, pos) winner), so the kept set is a pure function of
    the corpus. NULL text carries no signal and exits at the language
    gate ('unknown' guess), consistent with the NULL quarantines
    inside simhash/minhash."""
    if drop_dup_paragraphs:
        from guackg.ops.dedup import paragraph_dedup
        docs = paragraph_dedup(docs, text_col) \
            .select("doc_id", F.col("text_dedup").alias(text_col))
    # both gate signals are row-wise expressions — ONE narrow
    # projection, no doc_id self-joins (round-4 review: two corpus-wide
    # joins for per-row columns; the expressions come from textstats so
    # gate values stay identical to the oracle-checked frame functions)
    base = docs.select("doc_id", text_col,
                       lang_guess_col(text_col).alias("lang_guess"),
                       quality_col(text_col).alias("quality"),
                       repetition_col(text_col).alias("dup_line_frac"))
    gate = (F.when(~F.col("lang_guess").isin(*langs), F.lit("lang"))
            .when(F.col("quality") < F.lit(min_quality), F.lit("quality")))
    if max_dup_line_frac is not None:
        gate = gate.when(F.col("dup_line_frac") > F.lit(max_dup_line_frac),
                         F.lit("repetition"))
    # the audit plan consumes `base` through three join branches and
    # the near-dup stage drives eager CC jobs over `survivors` — cache
    # both so the corpus is scanned and gated once, not once per
    # branch (round-4 review). Both caches are released before return:
    # the audit is checkpointed eagerly below, so nothing downstream
    # re-reads them (leaving them persisted leaked executor storage
    # across repeated calls — the follow-up review finding).
    base = base.withColumn("_gate", gate).persist()

    gated = base.filter(F.col("_gate").isNull()) \
        .select("doc_id", text_col)
    cont_bad = None
    if benchmark is not None:
        from guackg.ops.contamination import contamination_overlap
        # gate on the UNROUNDED ratio (matched > max*n), not the
        # 6-decimal contamination_frac — rounding would slip a huge
        # doc with one matched gram past a strict max_contamination=0.
        # persist: this doc_id list is consumed by three plans (the
        # anti-join feeding survivors/ex_keep and the audit join) —
        # unpersisted, the n-gram explode+join would re-run per branch.
        cont_bad = (contamination_overlap(gated, benchmark,
                                          n=contamination_n,
                                          text_col=text_col)
                    .filter(F.col("matched_grams")
                            > F.lit(max_contamination)
                            * F.col("n_grams"))
                    .select("doc_id").withColumn("_cont", F.lit(1))
                    .persist())
        gated = gated.join(cont_bad.select("doc_id"), on="doc_id",
                           how="left_anti")
    # exact winners: smallest doc_id per content hash; every other
    # member of the hash group exits at 'exact_dup'
    ex_keep = exact_dedup(gated, text_col).select("doc_id")
    survivors = gated.join(ex_keep, on="doc_id").persist()
    pairs = minhash_lsh_pairs(survivors, text_col,
                              threshold=near_threshold)
    collapse = near_dup_collapse(survivors, pairs)  # doc_id, cluster_id, keep

    # the audit's exact-dup mark reads the persisted survivors (the
    # same ids: ex_keep ⊆ gated), so exact_dedup's window runs once
    out = base.join(survivors.select("doc_id").withColumn("_ex", F.lit(1)),
                    on="doc_id", how="left")
    late = (F.when(F.col("_ex").isNull(), F.lit("exact_dup"))
            .when(~F.col("_nd_keep"), F.lit("near_dup"))
            .otherwise(F.lit("kept")))
    if cont_bad is not None:
        out = out.join(cont_bad, on="doc_id", how="left")
        late = F.when(F.col("_cont").isNotNull(),
                      F.lit("contaminated")).otherwise(late)
    out = (out
           .join(collapse.withColumnRenamed("keep", "_nd_keep"),
                 on="doc_id", how="left")
           .select(
               "doc_id", "lang_guess", "quality", "dup_line_frac",
               F.coalesce(F.col("_gate"), late).alias("stage"),
               "cluster_id"))
    out = out.withColumn("keep", F.col("stage") == "kept")
    # materialize the audit (one compact row per input doc) and cut
    # its lineage; localCheckpoint blocks are ContextCleaner-managed
    # (freed when the frame is garbage-collected), unlike persist()
    # entries which live in the CacheManager until unpersisted — so
    # the function owns its caches' whole lifecycle. The op was
    # already eager (near_dup_collapse runs CC jobs), so this changes
    # cost, not semantics; downstream consumers (stats rollup, kept
    # join, multiple actions) reuse the checkpoint instead of
    # replaying the LSH stage.
    out = out.localCheckpoint(eager=True)
    survivors.unpersist()
    base.unpersist()
    if cont_bad is not None:
        cont_bad.unpersist()
    return out


def clean_corpus_stats(cleaned: DataFrame) -> DataFrame:
    """Per-stage attrition rollup of a `clean_corpus` output — the
    counters a cleaning run reports (docs in, dropped per gate, kept).
    One tiny agg; `stage` has cardinality len(CLEAN_STAGES) (7)."""
    return (cleaned.groupBy("stage")
            .agg(F.count("*").alias("n_docs"))
            .orderBy("stage"))
