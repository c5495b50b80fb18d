"""Stage 3 — LINK: mention surfaces → equivalence edges.

Reimagines guac's identity layer — pURL normalization
(/root/reference/pkg/assembler/helpers/purl.go:36-174), guac-key
fallback synthesis (purl.go:211-229), and explicit equivalence edges
PkgEqual/HashEqual/VulnEqual (pkg/assembler/assembler.go:99-103,
173-186) — for free-text mentions:

1. `normalize_surface_col` — canonical surface normalization, all
   JVM-side built-ins (the PurlToPkg analog, C1).
2. broadcast alias-dictionary join — exact-match linking (the
   deps.dev/osv broadcast-dictionary enrichment pattern,
   certifier/osv/osv.go:63-91).
3. MinHash-LSH banding self-prepared join — fuzzy candidates for
   surfaces the dictionary misses (typos), verified by true Jaccard
   on character-shingle sets. Pure DataFrame: shingles/minhash/bands
   are built-in expressions (`transform`, `xxhash64`, `array_min`),
   so the whole thing stays in whole-stage codegen except nothing —
   there is NO Python here at all.
4. unmatched surfaces get a synthetic `ent:guac/<norm>` key —
   guac-purl fallback semantics (purl.go:211-229).

Output: equivalence edge DataFrame (key_a, key_b, method) feeding CC.

Scale notes: linking operates on DISTINCT surfaces, not mentions —
the head-entity skew (Zipf) collapses before any join (guac's
dedup-before-ingest, assembler.go:198-314). The dictionary side is
broadcast (≤ a few 10^6 rows at web scale after pruning); the LSH
band join is an equi-join on (band_id, band_hash) so AQE handles
residual bucket skew; oversized LSH buckets are capped with a logged
counter — no silent caps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from guackg.local import collect_bounded, local_frame

N_MINHASH = 32
N_BANDS = 16          # r = 2 rows/band: P(cand | J=.6) ≈ .999
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.55
MAX_BUCKET = 200      # LSH bucket cap (logged, not silent)


def normalize_surface_col(col: F.Column) -> F.Column:
    """JVM-side mirror of guackg.vocab.normalize_surface: lowercase,
    strip [.,'], collapse whitespace, trim, drop a leading 'the ' then
    a leading 'dr '. Exact-parity traps (tests/test_link.py parity
    cases): Java's \\s is ASCII-only while Python's is Unicode — a
    U+00A0 from &nbsp; survives html.unescape into surfaces, so the
    (?U) flag is required or the dict join misses; and the prefix
    strip is sequential-once-each ('the dr john' → 'john', but
    'the the john' → 'the john'), which `(the )?(dr )?` mirrors where
    `(the |dr )` (one strip) and `(the |dr )+` (unbounded) both
    diverge from the Python loop."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[.,']", "")
    c = F.trim(F.regexp_replace(c, r"(?U)\s+", " "))
    c = F.regexp_replace(c, r"^(the )?(dr )?", "")
    return c


def surface_key_col(norm: F.Column) -> F.Column:
    return F.concat(F.lit("sfc:"), norm)


def dedupe_alias_dict(alias_dict: DataFrame) -> DataFrame:
    """One canonical key per dictionary surface, deterministically —
    the same tie rule as `relink_fallbacks`: a real identity beats a
    synthesized ent:guac/ key, then lexicographic min. Without this,
    a surface curated twice makes the two linkers DIVERGE: the
    distributed join emits both keys (the equivalence edges then
    merge the two entities via CC) while the driver path would keep
    whichever row collect() returned first — same input, different
    graph depending on vocabulary size. Both linkers dedupe through
    here so the contract is one-place. O(|dict|) window — dwarfed by
    the mention stream."""
    w = Window.partitionBy("surface").orderBy(
        F.col("canonical_key").startswith("ent:guac/").cast("int"),
        "canonical_key")
    return (alias_dict.select("surface", "canonical_key")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def mention_frequencies(triples: DataFrame) -> DataFrame:
    """ONE pass over the exploded mention stream → (norm, n_mentions).

    This single table serves BOTH consumers of the mention stream —
    the linker needs the distinct vocabulary (`select("norm")`), the
    identifier side-channel needs the counts — so the pipeline scans
    and shuffles the O(mentions) stream once, not once per consumer.

    Zipf-aware order: count RAW surfaces first (the map-side partial
    agg collapses the head, so the shuffle carries per-partition
    distinct surfaces only), normalize the O(vocab) result, then one
    tiny re-agg sums counts of surfaces sharing a norm (measured: the
    link stage spent more time normalizing 9.4M exploded mentions
    than linking them before this ordering)."""
    return (triples
            .select(F.explode(F.array("subj_surface", "obj_surface"))
                    .alias("surface"))
            .groupBy("surface").agg(F.count("*").alias("_n"))
            .withColumn("norm", normalize_surface_col(F.col("surface")))
            .groupBy("norm").agg(F.sum("_n").alias("n_mentions")))


def distinct_mentions(triples: DataFrame) -> DataFrame:
    """All distinct mention surfaces, normalized. The Zipf head
    collapses here: downstream linking cost is O(|vocab|), not
    O(|mentions|). Thin view over `mention_frequencies`; pipelines
    that materialize the frequency table should reuse it instead."""
    return mention_frequencies(triples).select("norm")


def _shingles(col_name: str) -> F.Column:
    """Character k-shingle array of a padded string — built-in only."""
    return F.expr(
        f"array_distinct(transform(sequence(0, length(concat('^', {col_name}, '$')) - {SHINGLE_K}), "
        f"i -> substring(concat('^', {col_name}, '$'), i + 1, {SHINGLE_K})))"
    )


def _with_bands(df: DataFrame, text_col: str) -> DataFrame:
    """shingles → 32 minhashes → 16 band keys → exploded band rows.

    Each shingle STRING is hashed exactly once; the 32 permutations
    are derived by re-hashing the resulting 8-byte long with the
    permutation index (xxhash64 over two longs — far cheaper than 32
    UTF8 string hashes per shingle, and ANSI-safe unlike wrap-around
    affine mixing)."""
    df = df.withColumn("_sh", _shingles(text_col)) \
           .withColumn("_hs", F.expr("transform(_sh, s -> xxhash64(s))"))
    rows_per_band = N_MINHASH // N_BANDS
    mh = [
        F.expr(f"array_min(transform(_hs, h -> xxhash64(h, {j}L)))").alias(f"_mh{j}")
        for j in range(N_MINHASH)
    ]
    df = df.select("*", *mh)
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"_mh{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("band_hash"),
        )
        for b in range(N_BANDS)
    ])
    out = df.withColumn("_band", F.explode(bands)).select(
        text_col, "_sh",
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_hash").alias("band_hash"),
    )
    return out


def link_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    broadcast_dict: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """mentions(norm) × alias_dict(surface, canonical_key, kind)
    → (links(norm, canonical_key, method), equivalence_edges(key_a,
    key_b, method)).

    links resolves EVERY input norm (dict / lsh / fallback).

    `broadcast_dict` contract: True force-broadcasts the dictionary
    (and its ×N_BANDS banded form) — correct only while the pruned
    dictionary stays ≲10^6 rows (an explicit F.broadcast hint is NOT
    overridden by AQE). Callers with a larger dictionary pass False
    and let Catalyst/AQE pick the join strategy.
    """
    _maybe_bcast = F.broadcast if broadcast_dict else (lambda d: d)
    # one key per surface, deterministically (see dedupe_alias_dict:
    # a duplicate-surface dictionary must not emit multiple link rows)
    alias_dict = dedupe_alias_dict(alias_dict)
    # mentions is consumed by both the dict join and the LSH left side;
    # both branches share one deduplication exchange (Catalyst reuses
    # the identical shuffle subtree — no checkpoint needed)
    dict_hits = mentions.join(
        _maybe_bcast(alias_dict.withColumnRenamed("surface", "norm")),
        on="norm", how="left",
    ).select("norm", F.col("canonical_key").alias("dict_key"))
    unmatched = dict_hits.filter(F.col("dict_key").isNull()).select("norm")

    jac = F.size(F.array_intersect("_sh", "_dsh")) / \
        F.size(F.array_union("_sh", "_dsh"))
    dict_side = alias_dict.select(F.col("surface").alias("dnorm"),
                                  "canonical_key")

    # --- banded MinHash-LSH over the unmatched tail: band equi-join
    # carries only keys; candidates verify with exact Jaccard. (A
    # broadcast nested-loop variant was measured 5× slower even on a
    # 21k-surface tail — |unmatched|×|dict| pairwise shingle Jaccards
    # dwarf the banding's few tiny shuffles.)
    left = _with_bands(unmatched, "norm")
    right = _with_bands(dict_side.select("dnorm"), "dnorm") \
        .join(_maybe_bcast(dict_side), on="dnorm")
    # cap pathological buckets unconditionally (counted, not silent —
    # lsh_bucket_stats reports how many buckets were capped). The cap
    # is gated on ACTUAL bucket size via the window rank, so a small
    # dictionary pays one cheap window over ≤|dict|×N_BANDS rows and
    # loses nothing; an eager dict.count() action here would run a
    # Spark job on every call.
    w = Window.partitionBy("band_id", "band_hash").orderBy("dnorm")
    right = right.withColumn("_rn", F.row_number().over(w)) \
                 .filter(F.col("_rn") <= MAX_BUCKET).drop("_rn")
    # the banded dictionary is ≤ |dict|×N_BANDS rows — broadcast under
    # the same `broadcast_dict` contract as the exact join above so
    # the (much larger) unmatched side never shuffles
    cand = (
        left.alias("l").join(_maybe_bcast(right.alias("r")),
                             on=["band_id", "band_hash"])
        .select(F.col("l.norm").alias("norm"),
                F.col("l._sh").alias("_sh"),
                F.col("r.dnorm").alias("dnorm"),
                F.col("r._sh").alias("_dsh"),
                F.col("r.canonical_key").alias("canonical_key"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )

    # best candidate per surface; the window also collapses multi-band
    # duplicates (ties on jaccard, tie-break dnorm — deterministic)
    w2 = Window.partitionBy("norm").orderBy(F.desc("jaccard"), F.asc("dnorm"))
    fuzzy = cand.withColumn("_rn", F.row_number().over(w2)) \
        .filter(F.col("_rn") == 1) \
        .select("norm", F.col("canonical_key").alias("lsh_key"))

    # no hint on the fuzzy side: it is bounded by the unmatched tail
    # (not the dictionary), so let AQE pick broadcast-vs-shuffle from
    # its measured size
    links = (dict_hits
             .join(fuzzy, on="norm", how="left")
             .select(
                 "norm",
                 F.coalesce("dict_key", "lsh_key",
                            F.concat(F.lit("ent:guac/"), F.col("norm")))
                 .alias("canonical_key"),
                 F.when(F.col("dict_key").isNotNull(), "dict")
                 .when(F.col("lsh_key").isNotNull(), "lsh")
                 .otherwise("fallback").alias("method")))
    return links, equivalence_edges_from_links(links)


# Below these bounds the vocabulary and dictionary are linked on the
# driver — the same adaptive small-side rule as cc.py's driver
# union-find and Spark's own broadcast threshold. Each input is checked
# against its bound and pulled in one bounded Arrow collect
# (local.collect_bounded, whose check replaces a separate size probe)
# and the links leave as a LocalRelation
# (local.local_frame), instead of ~10 tiny distributed stages whose
# barriers dominate (measured: the distributed link stage spends
# ~6-8 s on a 2.3k-norm vocabulary, nearly all of it
# scheduling/broadcast floors). The distributed LSH path above remains
# the scale path: mention vocabularies grow with the corpus and blow
# these bounds long before 10^12 documents.
DRIVER_LINK_MAX_VOCAB = 50_000
DRIVER_LINK_MAX_DICT = 50_000


def link_mentions_driver(
    mentions: DataFrame,
    alias_dict: DataFrame,
) -> tuple[DataFrame, DataFrame] | None:
    """Driver-side small-vocabulary linker. Same contract as
    `link_mentions` — (norm) × (surface, canonical_key) → links with
    method ∈ {dict, lsh, fallback} — with IDENTICAL normalization,
    shingling (k=3 over '^'+norm+'$', distinct), Jaccard threshold
    and (max jaccard, min dnorm) tie-break. The fuzzy tier scores
    EXACT Jaccard over an inverted shingle index, so its recall is ≥
    the banded path's (banding can only miss candidate pairs; fuzzy
    rows keep the method label 'lsh' because downstream match-rank
    semantics key on the tier, not the algorithm). Returns None, having
    linked nothing, when either input is over its DRIVER_LINK_MAX_*
    bound: the caller then runs `link_mentions`."""
    from collections import defaultdict

    spark = mentions.sparkSession
    m_t, frame = collect_bounded(mentions.select("norm"),
                                 DRIVER_LINK_MAX_VOCAB)
    frame.unpersist()
    d_t = None
    if m_t is not None:
        d_t, frame = collect_bounded(
            alias_dict.select("surface", "canonical_key"),
            DRIVER_LINK_MAX_DICT)
        frame.unpersist()
    if d_t is None:
        return None
    m = m_t.column("norm").to_pylist()
    # same duplicate-surface rule as dedupe_alias_dict (real identity
    # over ent:guac/, then lexicographic min) — NOT collect() row
    # order, which varies with partition layout across runs
    dict_map: dict[str, str] = {}
    for dnorm, k in zip(d_t.column("surface").to_pylist(),
                        d_t.column("canonical_key").to_pylist()):
        cur = dict_map.get(dnorm)
        if cur is None or (k.startswith("ent:guac/"), k) < \
                (cur.startswith("ent:guac/"), cur):
            dict_map[dnorm] = k

    def shingles(s: str) -> set:
        p = "^" + s + "$"
        n = len(p) - SHINGLE_K + 1
        return {p[i:i + SHINGLE_K] for i in range(max(n, 0))}

    dnorms = sorted(dict_map)          # sorted ⇒ index order = tie order
    dsh = [shingles(x) for x in dnorms]
    inv: dict[str, list[int]] = defaultdict(list)
    for i, ds in enumerate(dsh):
        for g in ds:
            inv[g].append(i)

    rows = []
    for norm in m:
        ck = dict_map.get(norm)
        if ck is not None:
            rows.append((norm, ck, "dict"))
            continue
        s = shingles(norm)
        counts: dict[int, int] = defaultdict(int)
        for g in s:
            for i in inv.get(g, ()):
                counts[i] += 1
        best_j, best_i = -1.0, -1
        for i, c in counts.items():
            j = c / (len(s) + len(dsh[i]) - c)
            if j > best_j or (j == best_j and i < best_i):
                best_j, best_i = j, i
        if best_j >= JACCARD_THRESHOLD:
            rows.append((norm, dict_map[dnorms[best_i]], "lsh"))
        else:
            rows.append((norm, "ent:guac/" + norm, "fallback"))
    links = local_frame(
        spark, rows, "norm string, canonical_key string, method string")
    return links, equivalence_edges_from_links(links)


def relink_fallbacks(links: DataFrame, dict_delta: DataFrame) -> DataFrame:
    """O(promotions) re-link for the enrichment cycle: when the alias
    dictionary GROWS (entries are only ever added — the collectsub
    promotion path), the only links that can change to a HIGHER tier
    via the dict join are the previously-unresolved `fallback` norms —
    exactly the reference's anti-join rule of re-processing only
    components without fresh results (root_package.go:127-184).

    One broadcast join of the fallback norms against the delta
    dictionary; returns only the CHANGED rows (norm, canonical_key,
    'dict'), ready to merge into the links table. The fuzzy (LSH)
    tier is deliberately not re-evaluated here: a new dictionary
    surface could also fuzzy-match some other unresolved norm, but
    dict hits outrank lsh anyway (precision guard) and the next
    full ingest re-links its batch's whole vocabulary against the
    enriched dictionary — the same eventual-consistency the
    reference's certifier loop has."""
    fallbacks = links.filter(F.col("method") == "fallback").select("norm")
    delta = dict_delta.select(F.col("surface").alias("norm"),
                              "canonical_key")
    # one key per surface, deterministically: a promotion to a REAL
    # identity beats a confirmation under the synthesized ent:guac/
    # key, then lexicographic min — so a conflicting promotion batch
    # (the same surface curated twice) resolves the same way on every
    # run instead of by row order
    w = Window.partitionBy("norm").orderBy(
        F.col("canonical_key").startswith("ent:guac/").cast("int"),
        "canonical_key")
    delta = delta.withColumn("_rn", F.row_number().over(w)) \
        .filter(F.col("_rn") == 1).drop("_rn")
    return (fallbacks.join(F.broadcast(delta), on="norm")
            .select("norm", "canonical_key",
                    F.lit("dict").alias("method")))


def equivalence_edges_from_links(links: DataFrame) -> DataFrame:
    """Equivalence edges are a pure projection of the links table —
    callers that materialize links should derive the edges from the
    written table instead of recomputing the linking DAG twice."""
    return links.filter(F.col("method") != "fallback").select(
        surface_key_col(F.col("norm")).alias("key_a"),
        F.col("canonical_key").alias("key_b"),
        "method",
    )


def advisory_edges(advisory_triples: DataFrame,
                   links: DataFrame) -> DataFrame:
    """Parsed `same_as` assertions (the advisory dialect,
    triples.py parse_advisory — guac's VulnEqual/PkgEqual equality
    ingest, /root/reference/pkg/assembler/assembler.go:99-103) →
    key-level equivalence edges for the canonicalizer: each asserted
    surface resolves through the SAME links table mentions resolve
    through (dict/LSH key if linked, else the C3 `ent:guac/<norm>`
    synthesized key — exactly resolve_triples' coalesce), so an
    assertion between two surfaces merges whatever keys those
    surfaces actually canonicalize to. Two hash joins against the
    small links table (broadcast at test scale), no Python."""
    link_map = links.select("norm", "canonical_key")
    t = (advisory_triples
         .withColumn("a_norm",
                     normalize_surface_col(F.col("subj_surface")))
         .withColumn("b_norm",
                     normalize_surface_col(F.col("obj_surface"))))
    t = t.join(link_map.withColumnRenamed("norm", "a_norm")
               .withColumnRenamed("canonical_key", "key_a"),
               on="a_norm", how="left")
    t = t.join(link_map.withColumnRenamed("norm", "b_norm")
               .withColumnRenamed("canonical_key", "key_b"),
               on="b_norm", how="left")
    return (t.select(
        F.coalesce("key_a", F.concat(F.lit("ent:guac/"),
                                     F.col("a_norm"))).alias("key_a"),
        F.coalesce("key_b", F.concat(F.lit("ent:guac/"),
                                     F.col("b_norm"))).alias("key_b"),
        F.lit("advisory").alias("method"))
        .distinct())


def identifier_candidates(links: DataFrame,
                          triples: DataFrame | None = None,
                          freq: DataFrame | None = None) -> DataFrame:
    """S9/T12 identifier side-channel: every surface the linker could
    NOT resolve (method = fallback), with its mention frequency and
    synthesized key — the collectsub analog (the reference posts each
    parser-discovered identifier for later collection,
    ingestor/ingestor.go:168-180, collectsub/collectsub.proto:21-65,
    parser/common/types.go:48-58). Feeding these rows back into the
    alias dictionary closes the enrichment cycle (SURVEY §3.3): a
    surface added to the dictionary resolves as `dict` on the next
    ingest (tests/test_link.py exercises the round trip).

    Frequency ranks the curation queue. Pass `freq` (a materialized
    `mention_frequencies` table) to reuse the pipeline's single
    mention-stream pass; with only `triples` the frequencies are
    computed here (map-side partial agg, so head surfaces don't
    create a hot reducer)."""
    if freq is None:
        freq = mention_frequencies(triples)
    return (links.filter(F.col("method") == "fallback")
            .select("norm", F.col("canonical_key").alias("suggested_key"))
            .join(freq, on="norm", how="left")
            .withColumn("n_mentions",
                        F.coalesce("n_mentions", F.lit(0))))


def lsh_bucket_stats(alias_dict: DataFrame) -> DataFrame:
    """Diagnostic: LSH bucket-size distribution on the dictionary side
    (the 'no silent caps' counter — SURVEY.md §4). Audits the SAME
    frame the join bands — the deduped dictionary — or a surface
    curated k times would inflate every one of its buckets k-fold in
    the diagnostic while the real join never saw the duplicates."""
    right = _with_bands(dedupe_alias_dict(alias_dict)
                        .select(F.col("surface").alias("dnorm")),
                        "dnorm")
    return (right.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("bucket_size"))
            .groupBy().agg(
                F.max("bucket_size").alias("max_bucket"),
                F.avg("bucket_size").alias("avg_bucket"),
                F.sum(F.when(F.col("bucket_size") > MAX_BUCKET, 1)
                      .otherwise(0)).alias("capped_buckets")))
