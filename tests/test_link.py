"""Stage 3 tests: normalization parity (JVM vs Python), broadcast
alias-dict linking, MinHash-LSH typo recovery, guac-key fallback."""

import pandas as pd
from pyspark.sql import functions as F

from guackg.link import (distinct_mentions, link_mentions,
                         normalize_surface_col)
from guackg.testing.gen import get_ctx
from guackg.vocab import normalize_surface


def test_normalize_parity_jvm_vs_python(spark):
    samples = ["U.S.", "The United States", "Dr. Ada Lovelace",
               "Acme  Corp.", "  Globex   Corporation ", "Widget X's",
               # Unicode whitespace: &nbsp; (U+00A0) survives
               # html.unescape into surfaces — Java \s is ASCII-only
               # unless the normalizer passes (?U)
               "Ada\u00a0Lovelace", "\u00a0 padded\u00a0",
               "tab\tand\nnewline",
               # sequential-once-each prefix strip: 'the ' then 'dr '
               "The Dr. John McCarthy", "the the beatles",
               "dr the strange", "dr dr who", "the", "dr "]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r.n for r in
           df.select(normalize_surface_col(F.col("s")).alias("n")).collect()]
    assert got == [normalize_surface(s) for s in samples]


def test_dict_and_fallback_linking(spark, alias_df):
    mentions = spark.createDataFrame(
        [("ada lovelace",), ("acme industries",), ("zzz unknown thing",)],
        "norm string")
    links, equiv = link_mentions(mentions, alias_df)
    got = {r.norm: (r.canonical_key, r.method) for r in links.collect()}
    assert got["ada lovelace"] == ("ent:person/ada_lovelace", "dict")
    assert got["acme industries"] == ("ent:org/acme_industries", "dict")
    assert got["zzz unknown thing"] == ("ent:guac/zzz unknown thing",
                                        "fallback")
    # equivalence edges only for real links
    eq = {r.key_a for r in equiv.collect()}
    assert "sfc:ada lovelace" in eq
    assert not any("zzz" in k for k in eq)


def test_lsh_recovers_typos(spark, alias_df):
    """Every planted typo surface must link to its true entity via the
    LSH pass (the linker-recall fixture, FIXTURES.md §2)."""
    ctx = get_ctx()
    typos = list(ctx.typo_by_ent.values())
    assert len(typos) >= 30
    mentions = spark.createDataFrame(
        pd.DataFrame({"norm": [normalize_surface(t["surface"])
                               for t in typos]}))
    links, _ = link_mentions(mentions, alias_df)
    got = {r.norm: (r.canonical_key, r.method) for r in links.collect()}
    misses = [
        t for t in typos
        if got[normalize_surface(t["surface"])][0] != t["canonical_key"]
    ]
    assert len(misses) <= len(typos) * 0.05, misses[:5]
    assert all(got[normalize_surface(t["surface"])][1] == "lsh"
               for t in typos if t not in misses)


def test_distinct_mentions_collapses_duplicates(spark):
    triples = spark.createDataFrame(
        [("Ada Lovelace", "x", "U.S."), ("ada lovelace", "x", "The U.S.")],
        "subj_surface string, pred string, obj_surface string")
    m = distinct_mentions(triples)
    assert sorted(r.norm for r in m.collect()) == ["ada lovelace", "us"]


def test_no_python_in_link_plan(spark, alias_df):
    """Linking is 100% JVM-side: no Python eval nodes of any kind."""
    mentions = spark.createDataFrame([("ada lovelace",)], "norm string")
    links, _ = link_mentions(mentions, alias_df)
    plan = links._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_driver_linker_matches_distributed(spark, alias_df):
    """The adaptive driver fast path (link_mentions_driver) must agree
    with the distributed LSH path on the full fixture vocabulary —
    dict tier identical; fuzzy/fallback tiers may differ ONLY where
    banding missed a true candidate (driver recall ≥ banded recall),
    in which case the driver's pick must genuinely clear the Jaccard
    threshold."""
    from guackg.link import (JACCARD_THRESHOLD, SHINGLE_K,
                             link_mentions_driver)
    ctx = get_ctx()
    norms = sorted({r["surface"] for r in ctx.alias_rows}
                   | {normalize_surface(t["surface"])
                      for t in ctx.typo_by_ent.values()}
                   | {"zz unlinkable gibberish qqq"})
    mentions = spark.createDataFrame(pd.DataFrame({"norm": norms}))
    dist, _ = link_mentions(mentions, alias_df)
    drv, _ = link_mentions_driver(mentions, alias_df)
    d1 = {r.norm: (r.canonical_key, r.method) for r in dist.collect()}
    d2 = {r.norm: (r.canonical_key, r.method) for r in drv.collect()}
    assert set(d1) == set(d2)

    def jaccard(a, b):
        def sh(s):
            p = "^" + s + "$"
            return {p[i:i + SHINGLE_K]
                    for i in range(max(len(p) - SHINGLE_K + 1, 0))}
        sa, sb = sh(a), sh(b)
        return len(sa & sb) / len(sa | sb)

    surf_of = {r["canonical_key"]: r["surface"] for r in ctx.alias_rows}
    for norm in d1:
        if d1[norm] == d2[norm]:
            continue
        # divergence allowed only when the banded path missed a real
        # candidate the exact scorer found
        assert d1[norm][1] == "fallback" and d2[norm][1] == "lsh", \
            (norm, d1[norm], d2[norm])
        assert jaccard(norm, surf_of[d2[norm][0]]) >= JACCARD_THRESHOLD


def test_duplicate_dict_surfaces_resolve_deterministically(spark):
    """A surface curated twice (possible after enrichment promotions)
    must resolve to ONE key, by the same rule in both linkers and in
    relink_fallbacks: real identity over ent:guac/, then lexicographic
    min — never collect() row order, and never two link rows that
    would CC-merge the two entities."""
    from guackg.link import link_mentions_driver
    dup_dict = spark.createDataFrame(
        [("ada lovelace", "ent:person/ada_lovelace"),
         ("ada lovelace", "ent:guac/ada lovelace"),
         ("ada lovelace", "ent:person/ada_byron"),
         ("acme corp", "ent:org/acme")],
        "surface string, canonical_key string")
    mentions = spark.createDataFrame(
        [("ada lovelace",), ("acme corp",)], "norm string")
    want = {"ada lovelace": ("ent:person/ada_byron", "dict"),
            "acme corp": ("ent:org/acme", "dict")}
    for linker in (link_mentions, link_mentions_driver):
        links, equiv = linker(mentions, dup_dict)
        rows = links.collect()
        assert len(rows) == 2, f"{linker.__name__}: one row per norm"
        got = {r.norm: (r.canonical_key, r.method) for r in rows}
        assert got == want, linker.__name__
        # exactly one equivalence edge per linked surface — a dup dict
        # must not fabricate an entity merge
        eq = equiv.collect()
        assert len([e for e in eq if e.key_a == "sfc:ada lovelace"]) == 1


def test_driver_linker_declines_over_bound_inputs(spark, monkeypatch):
    """The driver linker's bounded collects are its size probe: an input
    over its bound yields None (the caller then runs link_mentions),
    never a partial link table."""
    import guackg.link as link
    dict_df = spark.createDataFrame(
        [("ada lovelace", "ent:person/ada"), ("acme corp", "ent:org/acme")],
        "surface string, canonical_key string")
    mentions = spark.createDataFrame([("ada lovelace",)], "norm string")
    assert link.link_mentions_driver(mentions, dict_df) is not None
    monkeypatch.setattr(link, "DRIVER_LINK_MAX_DICT", 1)
    assert link.link_mentions_driver(mentions, dict_df) is None
    monkeypatch.setattr(link, "DRIVER_LINK_MAX_DICT", 2)
    monkeypatch.setattr(link, "DRIVER_LINK_MAX_VOCAB", 0)
    assert link.link_mentions_driver(mentions, dict_df) is None
