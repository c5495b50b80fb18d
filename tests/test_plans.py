"""Physical-plan quality gates — the 100-TB guardrails.

BASELINE.json input_hint: "no per-row Python" anywhere on the hot
path. Row-at-a-time Python shows up in plans as BatchEvalPython;
Arrow-vectorized stages show as ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas (allowed). Also pins: parquet filter/column
pushdown reaches the scan, and the broadcast the linker relies on is
actually planned as a broadcast join."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_row_python(df, label):
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, \
        f"{label}: row-at-a-time Python UDF in plan"


def test_pipeline_stages_have_no_row_python(spark, pages_df, alias_df):
    from guackg.cc import _large_star, _small_star  # noqa: F401
    from guackg.extract import extract, split_quarantine
    from guackg.link import distinct_mentions, link_mentions
    from guackg.triples import extract_triples

    ok, bad = split_quarantine(extract(pages_df))
    _assert_no_row_python(ok, "extract")
    triples = extract_triples(
        ok.select("url", "warc_ts", "lang", "extracted_text"))
    _assert_no_row_python(triples, "triples")
    mentions = distinct_mentions(triples)
    links, equiv = link_mentions(mentions, alias_df)
    _assert_no_row_python(links, "link")
    _assert_no_row_python(equiv, "equiv")


def test_operator_battery_has_no_row_python(spark):
    import __spark_entry__ as E
    for name, fn in {**E.queries(), **E.ungated_queries()}.items():
        _assert_no_row_python(fn(spark, SF_DIR), name)


def test_parquet_pushdown_reaches_scan(spark):
    """A filtered 2-column projection must push the filter and prune
    columns at the parquet scan (Catalyst + source v1/v2 pushdown)."""
    df = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .filter(F.col("o_orderstatus") == "F")
          .select("o_orderkey", "o_totalprice"))
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "o_orderstatus" in \
        plan.split("PushedFilters")[1][:200], "filter not pushed to scan"
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "o_orderkey" in read_schema and "o_comment" not in read_schema, \
        "column pruning failed"


def test_alias_join_is_broadcast(spark, pages_df, alias_df):
    """The dictionary join must be a BroadcastHashJoin — a shuffle of
    the mention side against a small dict would dominate at scale."""
    from guackg.extract import extract, split_quarantine
    from guackg.link import distinct_mentions, link_mentions
    from guackg.triples import extract_triples

    ok, _ = split_quarantine(extract(pages_df))
    triples = extract_triples(
        ok.select("url", "warc_ts", "lang", "extracted_text"))
    links, _ = link_mentions(distinct_mentions(triples), alias_df)
    assert "BroadcastHashJoin" in _plan(links)


def test_wholestage_codegen_on_textstats(spark):
    """Built-in-expression ops must stay inside whole-stage codegen."""
    from guackg.ops.textstats import quality_score
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(quality_score(docs))
    # '*(n)' prefixes mark WholeStageCodegen stages in plan.toString()
    assert "*(1)" in plan
    assert "EvalPython" not in plan  # zero Python of any kind


def test_minhash_tokenizes_once(spark, monkeypatch):
    """minhash_lsh_pairs evaluates the word-set tokenization in ONE
    place across the jobs it runs (the frames it materializes plus the
    returned frame): recomputing it per join branch re-scans and
    re-tokenizes the input once per branch."""
    from guackg.ops.dedup import minhash_lsh_pairs
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "alpha beta gamma epsilon"), (4, None), (5, "zeta eta")],
        "doc_id long, text string")
    plans = []
    frame_cls = type(docs)
    checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(_plan(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    plans.append(_plan(pairs))
    assert sum(p.count("split(lower(trim(") for p in plans) == 1
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == \
        {(1, 2), (1, 3), (2, 3)}
