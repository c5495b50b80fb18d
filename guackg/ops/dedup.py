"""Deduplication operators over a documents table: exact, word-Jaccard
near-dup (oracle-checkable), MinHash-LSH near-dup, SimHash (scale
paths). The training-data-pipeline counterpart of guac's
dedup-before-ingest maps (/root/reference/pkg/assembler/
assembler.go:198-314) and visited-set dedup (parser.go:160-188).

Built-in Spark SQL expressions only — no Python UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicates via content hash; keeps the smallest doc_id per
    group (deterministic winner — guac's first-wins map dedup).

    NULL text is NOT a duplicate of other NULL text: md5(NULL) is NULL
    and a window would group all NULLs into one fabricated cluster,
    silently discarding every NULL-text doc but one — so the group key
    falls back to a per-doc sentinel (each NULL doc is its own
    singleton, dup_count=1, content_hash stays NULL)."""
    h = F.md5(F.col(text_col))
    grp = F.coalesce(h, F.concat(F.lit("null:"),
                                 F.col("doc_id").cast("string")))
    return (docs.withColumn("content_hash", h)
            .withColumn("_grp", grp)
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("_grp").orderBy("doc_id")))
            .withColumn("dup_count",
                        F.count("*").over(Window.partitionBy("_grp")))
            .filter(F.col("rn") == 1)
            .select("doc_id", "content_hash", "dup_count"))


def _word_set(text_col: str) -> F.Column:
    return F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))


def _set_jaccard_pairs(docs: DataFrame, elems: F.Column,
                       threshold: float) -> DataFrame:
    """All doc pairs whose distinct-element sets `elems` have Jaccard
    ≥ threshold. Shape: explode the elements → self-equi-join on the
    element (shuffle-partitioned by it) → count common elements per
    pair → Jaccard from |A|,|B|,|A∩B|."""
    rows = docs.select("doc_id", F.explode(elems).alias("e"),
                       F.size(elems).alias("set_size"))
    a, b = rows.alias("a"), rows.alias("b")
    common = (a.join(b, on="e")
              .filter(F.col("a.doc_id") < F.col("b.doc_id"))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"),
                       F.col("a.set_size").alias("size_a"),
                       F.col("b.set_size").alias("size_b"))
              .agg(F.count("*").alias("n_common")))
    jac = F.col("n_common") / \
        (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (common.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def jaccard_word_pairs(docs: DataFrame, threshold: float = 0.8,
                       text_col: str = "text") -> DataFrame:
    """All doc pairs with word-set Jaccard ≥ threshold. The word
    self-join would skew on stopword-level hot words at web scale —
    the production path is minhash_lsh_pairs below; this exact variant
    is the oracle anchor."""
    return _set_jaccard_pairs(docs, _word_set(text_col), threshold)


def _ngram_set(text_col: str, n: int) -> F.Column:
    """Distinct word n-gram shingles (whitespace tokens, lowercase).
    Pure SQL: slice the token array at each start offset; empty set for
    docs shorter than n tokens."""
    ws = f"split(lower(trim({text_col})), '\\\\s+')"
    return F.expr(
        f"case when size({ws}) >= {n} then array_distinct(transform("
        f"sequence(1, size({ws}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({ws}, i, {n})))) "
        f"else array() end")


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.8,
                        text_col: str = "text") -> DataFrame:
    """All doc pairs with word-n-gram-shingle Jaccard ≥ threshold —
    the order-sensitive near-dup variant (word sets miss reorderings;
    shingles catch them). Same shape as `jaccard_word_pairs`: shuffle
    keys are shingles, which are far less skewed than single hot words
    — this is the exact-tier anchor for `minhash_lsh_pairs` at
    scale."""
    return _set_jaccard_pairs(docs, _ngram_set(text_col, n), threshold)


def _banding_for(n_hashes: int, threshold: float,
                 target_recall: float = 0.98) -> tuple[int, int]:
    """(rows_per_band, n_bands): the LONGEST band (most selective —
    fewest junk candidates) whose collision probability at J=threshold
    still meets `target_recall` via 1-(1-t^r)^b. Tuning bands to the
    query threshold matters: r=2 at t=0.9 admits ~12× the true pair
    count as candidates (measured at sf0.1); r=4 admits ~9× fewer
    band-join rows for boundary recall 0.9999."""
    best = (1, n_hashes)
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        if 1.0 - (1.0 - threshold ** r) ** b >= target_recall:
            best = (r, b)
    return best


def _word_sets(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, ws, fp1, fp2): each doc's sorted distinct word set and
    its identity, a 128-bit fingerprint (two independent xxhash64 of
    the sorted array: grouping carries 2 longs, never the array;
    collision odds ~n²/2¹²⁸, and the exact verify is unaffected).
    NULL text is excluded: xxhash64 of a NULL array is the seed
    constant, so grouping it would fabricate one giant J=1.0 group.
    Empty and whitespace-only texts stay — they tokenize to [""], and
    pairing them at J=1.0 is what the exact word-Jaccard oracle does."""
    return (docs.filter(F.col(text_col).isNotNull())
            .select("doc_id",
                    F.array_sort(_word_set(text_col)).alias("ws"))
            .withColumn("fp1", F.xxhash64("ws"))
            .withColumn("fp2", F.xxhash64(F.lit(0x9E37), "ws")))


def _group_table(wsd: DataFrame, n_hashes: int,
                 state: DataFrame | None = None) -> DataFrame:
    """The MinHash-LSH group table: one row per distinct word set —
    (fp1, fp2, rep_id, ws, sig, old, new); `rep_id` is the set's min
    doc_id, `old`/`new` its sorted member doc_ids in the store and in
    the batch `wsd`. ONE aggregation of the batch over the
    fingerprint; each set signed once. Without `state` every member is
    new. With it, the stored groups (one aggregation of the state
    rows) join on the fingerprint and keep their stored `sig` and
    `ws`: only unseen sets are signed, and old TEXT is never read."""
    groups = wsd.groupBy("fp1", "fp2").agg(
        F.min("doc_id").alias("rep_id"),
        F.expr("min_by(ws, doc_id)").alias("ws"),
        F.array_sort(F.collect_list("doc_id")).alias("new"))
    no_ids = F.array().cast(groups.schema["new"].dataType)
    if state is None:
        return groups.select("fp1", "fp2", "rep_id", "ws",
                             _sig_col(n_hashes).alias("sig"),
                             no_ids.alias("old"), "new")
    stored = state.groupBy("fp1", "fp2").agg(
        F.min("doc_id").alias("rep_old"),
        F.first("sig", ignorenulls=True).alias("sig"),
        F.first("ws", ignorenulls=True).alias("ws_old"),
        F.array_sort(F.collect_list("doc_id")).alias("old"))
    return (groups.join(stored, on=["fp1", "fp2"], how="full")
            .select("fp1", "fp2",
                    F.least("rep_id", "rep_old").alias("rep_id"),
                    F.coalesce("ws_old", "ws").alias("ws"),
                    # coalesce short-circuits: stored sets are not signed
                    F.coalesce("sig", _sig_col(n_hashes)).alias("sig"),
                    F.coalesce("old", no_ids).alias("old"),
                    F.coalesce("new", no_ids).alias("new")))


def _lsh_core(groups: DataFrame, n_hashes: int, n_bands: int | None,
              threshold: float) -> DataFrame:
    """Near-dup member pairs (doc_a < doc_b, jaccard) of a materialized
    group table, restricted to pairs touching a `new` member:

    1. band self-join on ONLY (rep_id, band keys) — never the word
       arrays, which a pair colliding in k bands would ship k times —
       probing from the groups with a new member, so old-old
       candidates never form; candidates dedup while 2 ints wide;
    2. signature prefilter ahead of the word-set join (failing
       candidates never carry word arrays): keep est-Jaccard ≥
       threshold − 3σ, σ = sqrt(t(1−t)/n) (≈0.27 at n=32, t=0.5 —
       boundary-pair recall loss <0.5%);
    3. exact word-set Jaccard on the survivors;
    4. member expansion from the member arrays, no member self-join:
       within a group every pair is J=1.0; across a verified group
       pair every member pair shares the groups' Jaccard. A new member
       pairs with every member of the other side, an old one only
       with its new ones."""
    if n_bands is None:
        rows_per_band, n_bands = _banding_for(n_hashes, threshold)
    else:
        rows_per_band = n_hashes // n_bands
    banded = (groups
              .select("rep_id", (F.size("new") > 0).alias("has_new"),
                      F.explode(_band_col(n_hashes, rows_per_band,
                                          n_bands)).alias("band"))
              .select("rep_id", "has_new", "band.band_id",
                      "band.band_hash"))
    a, b = banded.filter("has_new").alias("a"), banded.alias("b")
    # two new-touching groups meet in both orientations: keep one
    cand = (a.join(b, on=["band_id", "band_hash"])
            .filter((F.col("a.rep_id") < F.col("b.rep_id"))
                    | ~F.col("b.has_new"))
            .select(F.col("a.rep_id").alias("rep_a"),
                    F.col("b.rep_id").alias("rep_b"))
            .dropDuplicates(["rep_a", "rep_b"]))

    def side(s: str, *cols: str) -> DataFrame:
        return groups.select(F.col("rep_id").alias(f"rep_{s}"),
                             *[F.col(c).alias(f"{c}_{s}") for c in cols])

    est = F.expr(
        f"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
        f" / cast({n_hashes} as double)")
    # 3σ margin for an n_hashes Bernoulli estimate at J = threshold
    margin = 3.0 * (threshold * (1.0 - threshold) / n_hashes) ** 0.5
    jac = F.size(F.array_intersect("ws_a", "ws_b")) / \
        F.size(F.array_union("ws_a", "ws_b"))
    verified = (cand
                .join(side("a", "sig"), on="rep_a")
                .join(side("b", "sig"), on="rep_b")
                .filter(est >= threshold - margin)
                .select("rep_a", "rep_b")
                .join(side("a", "ws", "old", "new"), on="rep_a")
                .join(side("b", "ws", "old", "new"), on="rep_b")
                .withColumn("jaccard", F.round(jac, 6))
                .filter(F.col("jaccard") >= threshold))
    cross = (verified
             .select("jaccard", "new_a", "new_b", "old_b",
                     F.posexplode(F.concat("new_a", "old_a"))
                     .alias("i", "m_a"))
             .select("m_a", F.explode(
                         F.when(F.col("i") < F.size("new_a"),
                                F.concat("new_b", "old_b"))
                         .otherwise(F.col("new_b"))).alias("m_b"),
                     "jaccard"))
    within = (groups
              .select("new", "old",
                      F.posexplode("new").alias("i", "m_a"))
              .select("m_a", F.explode(F.concat(
                          F.expr("slice(new, i + 2, size(new))"),
                          "old")).alias("m_b"),
                      F.lit(1.0).alias("jaccard")))
    return (within.unionByName(cross)
            .select(F.least("m_a", "m_b").alias("doc_a"),
                    F.greatest("m_a", "m_b").alias("doc_b"), "jaccard"))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      n_hashes: int = 32, n_bands: int | None = None,
                      threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, jaccard) via banded MinHash over
    word sets, verified with true Jaccard (precision 1.0 vs
    `jaccard_word_pairs`).

    Shape: docs are tokenized once and collapsed by ONE aggregation
    into the group table (`_group_table`: one row per distinct word
    set, signed once, with its sorted member doc_ids), materialized
    once by an eager localCheckpoint; every tier of `_lsh_core` reads
    it. Jaccard is a function of the word set alone, so the output is
    identical to per-doc LSH — but a k-doc duplicate cluster costs one
    signature and k member ids instead of O(k²·bands) band-join
    candidates (measured at sf0.1: 5000 docs → 3935 distinct sets).
    What stays quadratic is the OUTPUT, generated from member arrays.

    Materializing the table is the faster side on a 4-vCPU host
    (local[4], corpus_clean benchmark, 10 alternating pairs: median
    8.7 → 12.7 docs/s, 72 → 23 Spark jobs per op; BENCH/NOTES.md):
    the unmaterialized plan re-ran the word-set tokenization in every
    join branch (tests/test_plans.py::test_minhash_tokenizes_once
    pins one).

    `n_bands=None` (default) tunes the banding to the threshold via
    `_banding_for` — longer bands at higher thresholds keep the
    band-join candidate mass proportional to the TRUE pair count."""
    groups = _group_table(_word_sets(docs, text_col), n_hashes) \
        .localCheckpoint()
    return _lsh_core(groups, n_hashes, n_bands, threshold)


def _sig_col(n_hashes: int) -> F.Column:
    """MinHash signature of the `ws` column — THE single signature
    derivation, so stored and fresh signatures never drift apart. Each
    word is string-hashed ONCE; the n permutations derive from its
    8-byte hash via xxhash64(h, j) (ANSI-safe vs affine mixing). The
    hashes are bound as lambda variable `hs` of a one-element
    transform: as a separate projection CollapseProject inlines them
    into the per-permutation lambda, re-hashing every word n times."""
    return F.expr(
        f"transform(array(transform(ws, w -> xxhash64(w))), "
        f"hs -> transform(sequence(0, {n_hashes - 1}), "
        f"j -> array_min(transform(hs, h -> xxhash64(h, j)))))[0]")


def _band_col(n_hashes: int, rows_per_band: int,
              n_bands: int) -> F.Column:
    """Banded slice hashes of a `sig` column (bands are a cheap pure
    function of the signature, so the state table stores only
    `sig`)."""
    return F.array(*[
        F.struct(F.lit(b).alias("band_id"),
                 F.xxhash64(*[F.expr(f"sig[{b * rows_per_band + r}]")
                              for r in range(rows_per_band)])
                 .alias("band_hash"))
        for b in range(n_bands)])


def _state_rows(groups: DataFrame) -> DataFrame:
    """State rows (doc_id, fp1, fp2, sig, ws) of a group table's `new`
    members; `sig`/`ws` only on the rep (min doc_id) of a set the
    store has not seen."""
    rep = (F.col("i") == 0) & (F.size("old") == 0)
    return (groups
            .select("fp1", "fp2", "sig", "ws", "old",
                    F.posexplode("new").alias("i", "doc_id"))
            .select("doc_id", "fp1", "fp2",
                    F.when(rep, F.col("sig")).alias("sig"),
                    F.when(rep, F.col("ws")).alias("ws")))


def write_minhash_state(docs: DataFrame, path: str,
                        text_col: str = "text",
                        n_hashes: int = 32) -> None:
    """Write the PERSISTED near-dup corpus state at ingest — (doc_id,
    fp1, fp2, sig, ws), one row per doc; `sig`/`ws` non-null only on
    each exact-dup group's representative (min doc_id), so the store
    carries ONE signature + word set per distinct word set. Batch 1
    writes the corpus state; every later batch appends the delta
    minhash_lsh_pairs_stored returns. Both go through io.append_table,
    so a failed or killed write never leaves part of a batch in the
    store. n_hashes must match between writer and reader (the
    signature length is the contract)."""
    from guackg.io import append_table
    append_table(_state_rows(_group_table(_word_sets(docs, text_col),
                                          n_hashes)), path)


def minhash_lsh_pairs_stored(new_docs: DataFrame, state: DataFrame,
                             text_col: str = "text",
                             n_hashes: int = 32,
                             n_bands: int | None = None,
                             threshold: float = 0.5
                             ) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash-LSH against a PERSISTED corpus: exactly
    `minhash_lsh_pairs(old ∪ new)` restricted to pairs touching a new
    doc — the same `_lsh_core` over a group table that joins the
    batch's groups to the stored ones — but the batch never reads old
    TEXT, and only word sets the store has never seen are signed.

    Returns (pairs, delta_state). `pairs` is the new-touching pair
    set; `delta_state` is the new docs' state rows (sig/ws on new
    sets' reps only) — append it to the store to make the NEXT batch
    incremental too. Assumes batch doc_ids are disjoint from stored
    ones (the ingest invariant). Exactness vs the one-shot op is
    pinned by tests/test_ops.py::
    test_minhash_stored_state_equals_full_restricted."""
    groups = _group_table(_word_sets(new_docs, text_col), n_hashes,
                          state).localCheckpoint()
    return (_lsh_core(groups, n_hashes, n_bands, threshold),
            _state_rows(groups))


def winnow_near_pairs(docs: DataFrame, text_col: str = "text",
                      min_shared: int = 5,
                      min_overlap: float = 0.0) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints (the MOSS
    shape, Schleimer/Wilkerson/Aiken SIGMOD'03): docs sharing ≥
    `min_shared` window-minimum rolling hashes — and optionally ≥
    `min_overlap` of the smaller doc's fingerprint set — are
    candidates for copied/near-identical content. Catches long
    verbatim SPANS (char-level) that word-set Jaccard dilutes.

    Shape: ONE self-equi-join on the fingerprint value (near-uniform
    64-bit-ish keys — no hot-word skew), count shared per pair, join
    tiny per-doc fingerprint counts for the overlap ratio. Unlike the
    MinHash/SimHash paths, the base-31 polynomial fingerprints are
    engine-portable, so this near-dup operator has a FULL value
    oracle, not just a containment gate."""
    from guackg.ops.textstats import winnow_fingerprints
    fp = winnow_fingerprints(docs, text_col)
    counts = fp.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a, b = fp.alias("a"), fp.alias("b")
    shared = (a.join(b, on="fingerprint")
              .filter(F.col("a.doc_id") < F.col("b.doc_id"))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("n_shared"))
              .filter(F.col("n_shared") >= min_shared))
    out = (shared
           .join(counts.select(F.col("doc_id").alias("doc_a"),
                               F.col("n_fp").alias("n_a")), on="doc_a")
           .join(counts.select(F.col("doc_id").alias("doc_b"),
                               F.col("n_fp").alias("n_b")), on="doc_b")
           .withColumn("overlap",
                       F.round(F.col("n_shared") /
                               F.least("n_a", "n_b"), 6)))
    if min_overlap > 0.0:
        out = out.filter(F.col("overlap") >= min_overlap)
    return out.select("doc_a", "doc_b", "n_shared", "overlap")


_SIMHASH_BITS = 63  # bigint minus the sign bit — the value stays
# non-negative so shiftrightunsigned banding and bit_count(xor)
# hamming need no sign-bit special cases anywhere downstream


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """63-bit SimHash over word sets, pure SQL: for each bit, sum ±1
    contributions of xxhash64(word) bit tests; bit set iff sum > 0.
    Hamming-close simhashes ⇒ near-dup docs (banding over chunks gives
    the LSH variant at scale). 63 bits, not 64, deliberately (see
    _SIMHASH_BITS) — column name 'simhash64' is the storage type, not
    the bit width."""
    # NULL text ⇒ NULL word set ⇒ every bit aggregate NULL ⇒ simhash
    # 0 — which would collide ALL NULL docs into one fabricated
    # hamming-0 duplicate cluster (the same fabrication the MinHash
    # path filters before its fingerprint groupBy). NULL docs carry
    # no content signal: quarantine them from near-dup entirely.
    base = (docs.select("doc_id", _word_set(text_col).alias("ws"))
            .filter(F.col("ws").isNotNull()))
    # bit_count-style: aggregate(transform(...)) per bit, fold to a bigint
    bit_exprs = []
    for i in range(_SIMHASH_BITS):
        bit_exprs.append(
            f"(case when aggregate(transform(ws, w -> "
            f"case when (xxhash64(w) & {1 << i}L) != 0 "
            f"then 1 else -1 end), 0, (acc, x) -> acc + x) > 0 "
            f"then 1 else 0 end)")
    # fold bits into one bigint: sum(bit_i * 2^i) via shiftleft
    fold = " + ".join(
        f"shiftleft(cast({e} as bigint), {i})" for i, e in enumerate(bit_exprs))
    return base.select("doc_id", F.expr(fold).alias("simhash64"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash: band the 63-bit value into
    `max_hamming + 1` chunks — pigeonhole guarantees that any pair
    within the queried hamming radius shares at least one FULL chunk
    (max_hamming differing bits cannot touch all max_hamming+1
    chunks), so recall within the radius is exactly 1.0 — then verify
    true hamming with bit_count(xor).

    Shape: ONE self-equi-join on exploded (chunk_id, chunk_value)
    rows — shuffle keys are the chunk values (near-uniform), the join
    carries only (doc_id, simhash64)."""
    n_chunks = max_hamming + 1
    bounds = [i * _SIMHASH_BITS // n_chunks for i in range(n_chunks + 1)]
    sh = simhash(docs, text_col)
    chunks = F.array(*[
        F.struct(
            F.lit(i).alias("chunk_id"),
            (F.shiftrightunsigned(F.col("simhash64"), bounds[i])
             .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
                         .cast("bigint"))).alias("chunk_val"))
        for i in range(n_chunks)])
    banded = (sh.withColumn("_c", F.explode(chunks))
              .select("doc_id", "simhash64",
                      F.col("_c.chunk_id").alias("chunk_id"),
                      F.col("_c.chunk_val").alias("chunk_val")))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, on=["chunk_id", "chunk_val"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.simhash64").alias("sh_a"),
                     F.col("b.simhash64").alias("sh_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def near_dup_collapse(docs: DataFrame, pairs: DataFrame,
                      doc_col: str = "doc_id",
                      pair_a: str = "doc_a",
                      pair_b: str = "doc_b") -> DataFrame:
    """Pairs → clusters → keep-one-per-cluster: the step a training-data
    dedup pipeline actually ships. Near-dup similarity is not
    transitive, so pairwise output alone over-deletes (dropping the
    higher id of every pair can empty a chain A-B-C); the standard
    resolution (and the reference's, where every equivalent surface
    lands on one interned node — inmem backend.go:73-106) is connected
    components over the pair graph, keeping one canonical document per
    component.

    Returns one row per input doc: (doc_id, cluster_id, keep) where
    cluster_id is the component's minimum doc_id and keep marks its
    deterministic representative (singletons keep themselves).

    Scale shape: the heavy lifting is `connected_components`
    (large-star/small-star iterations above the driver bound); the
    rest is two key-equi joins and one agg on O(docs) rows of 2-3
    scalars. Feed it ANY pair source — MinHash-LSH, SimHash, winnow,
    embedding near-dup — they all emit (doc_a, doc_b, ...)."""
    from guackg.cc import canonicalize_keys, connected_components

    edges = pairs.select(F.col(pair_a).cast("string").alias("key_a"),
                         F.col(pair_b).cast("string").alias("key_b"))
    comps = connected_components(edges)
    m = canonicalize_keys(
        docs.select(F.col(doc_col).alias("doc_id"),
                    F.col(doc_col).cast("string").alias("ckey")),
        "ckey", comps)
    reps = m.groupBy("ckey").agg(F.min("doc_id").alias("cluster_id"))
    return (m.join(reps, on="ckey")
            .select("doc_id", "cluster_id",
                    (F.col("doc_id") == F.col("cluster_id")).alias("keep")))


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    ) -> DataFrame:
    """Paragraph-level deduplication (the CCNet/C4 boilerplate-removal
    shape, public practice): every line-delimited paragraph keeps only
    its GLOBALLY FIRST occurrence — the smallest (doc_id, position) —
    and later copies are dropped from their documents; the surviving
    paragraphs are re-joined in original order.

    Output: one row per input doc —
    (doc_id, text_dedup, n_pars, n_dropped). Empty/whitespace-only
    paragraphs carry no content and are dropped from the
    reconstruction (n_pars counts non-empty paragraphs only); NULL
    text → (NULL, 0, 0). Paragraph identity is md5 of the trimmed
    lowercased paragraph — engine-portable, so the whole op has an
    exact DuckDB oracle (tests/test_textclean.py).

    Determinism: the winner per paragraph is min(struct(doc_id, pos))
    — a total order, so the kept set is a pure function of the corpus.

    Scale shape: the winner aggregation is an algebraic min — map-side
    combinable, so a boilerplate paragraph in 10^9 docs contributes
    one row per map partition, not 10^9 shuffle rows. The join of the
    paragraph stream back to the O(distinct) winner table is an
    equi-join on the paragraph hash; hot boilerplate keys skew its
    probe side, which AQE's skew-join split handles (the build side is
    one row per key, cheap to replicate). Reconstruction groups by
    doc_id — per-doc cardinality, no head-key skew."""
    pars = (docs
            .select("doc_id",
                    F.posexplode(F.split(F.col(text_col), r"\n"))
                    .alias("pos", "par"))
            .withColumn("par", F.trim(F.col("par")))
            .filter(F.col("par") != "")
            .withColumn("pkey", F.md5(F.lower(F.col("par")))))
    winners = (pars.groupBy("pkey")
               .agg(F.min(F.struct("doc_id", "pos")).alias("w")))
    kept = (pars.join(winners, on="pkey")
            .filter((F.col("doc_id") == F.col("w.doc_id"))
                    & (F.col("pos") == F.col("w.pos"))))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("pos", "par"))),
                           lambda s: s["par"]),
                       "\n").alias("text_dedup"),
                    F.count("*").alias("n_kept")))
    totals = pars.groupBy("doc_id").agg(F.count("*").alias("n_pars"))
    return (docs.select("doc_id", F.col(text_col).isNull().alias("_tnull"))
            .join(totals, on="doc_id", how="left")
            .join(rebuilt.select("doc_id", "text_dedup", "n_kept"),
                  on="doc_id", how="left")
            .select(
                "doc_id",
                # NULL in → NULL out; all-paragraphs-dropped → ''
                F.when(F.col("_tnull"), F.lit(None).cast("string"))
                .otherwise(F.coalesce("text_dedup", F.lit("")))
                .alias("text_dedup"),
                F.coalesce("n_pars", F.lit(0)).alias("n_pars"),
                (F.coalesce("n_pars", F.lit(0))
                 - F.coalesce("n_kept", F.lit(0))).alias("n_dropped")))


def hash_sample(docs: DataFrame, rate: float,
                key_col: str = "doc_id") -> DataFrame:
    """Deterministic corpus sampling: keep the rows whose md5(key)
    falls below the rate-scaled threshold in the 128-bit hash space —
    the reproducible subset selection a training pipeline uses for
    eval splits and ablations (same key set in ⇒ same sample out, on
    any engine: the md5-hex string compare is binary-lexicographic in
    Spark and DuckDB alike — exact parity in tests/test_textclean.py).

    A pure narrow filter (no shuffle, no RNG state); sampled fraction
    converges to `rate` by md5 uniformity. rate ≤ 0 keeps nothing,
    rate ≥ 1 everything; NULL keys are never sampled (md5(NULL) is
    NULL — quarantine convention)."""
    if rate <= 0:
        return docs.filter(F.lit(False))
    if rate >= 1:
        return docs
    # 32-hex-digit threshold = floor(rate · 16^32), zero-padded so the
    # string compare equals the numeric compare
    threshold = format(int(rate * (1 << 128)), "032x")
    return docs.filter(
        F.md5(F.col(key_col).cast("string")) < F.lit(threshold))


def stratified_hash_sample(docs: DataFrame, rates: dict[str, float],
                           strata_col: str, default_rate: float = 0.0,
                           key_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum sampling: hash_sample with a
    different rate per value of `strata_col` (the data-mixing /
    up-down-sampling step of corpus assembly — e.g. per-language or
    per-domain rates). Strata not in `rates` use `default_rate`.
    Same engine-portable md5-threshold rule as hash_sample, so the
    kept row set is a pure function of (key, stratum, rates) — unlike
    DataFrame.sampleBy, which draws from RNG state and is neither
    reproducible across engines nor stable under repartitioning.

    A pure narrow filter: the per-stratum threshold is a small
    literal CASE map (O(|rates|) branches, broadcast in the plan —
    fine for the ≤10^3 strata of lang/domain-tier mixing; for 10^6+
    strata join a rates table instead). A NULL stratum is "not in the
    rates map" and samples at `default_rate` (sampleBy's
    not-in-fractions rule, generalized); NULL keys are never sampled
    (md5(NULL) is NULL — quarantine convention). Exact DuckDB parity
    in tests/test_textclean.py."""
    def _thr(rate: float) -> str:
        if rate >= 1:
            return "g"  # lexicographically above every 32-hex digest
        return format(int(max(rate, 0.0) * (1 << 128)), "032x")

    thr = F.lit(_thr(default_rate))
    for val, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == F.lit(val),
                     F.lit(_thr(rate))).otherwise(thr)
    return docs.filter(F.md5(F.col(key_col).cast("string")) < thr)
