"""Sink semantics: multi-level partition-pruned merge_upsert — the
parquet stand-in for Iceberg MERGE INTO file pruning (io.py docstring).
The contract under test: an upsert delta rewrites ONLY the partition
directories whose (pred, bucket) tuples appear in the delta; every
other leaf directory stays BYTE-IDENTICAL (round-2 verdict findings
#1/#3 — O(delta) increments, never O(table))."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from guackg import io as gio

N_BUCKETS = 8


def _bucketed(df):
    return df.withColumn("bucket",
                         F.pmod(F.xxhash64("k"), F.lit(N_BUCKETS)))


def _snapshot(table):
    """{relative leaf dir: {file: sha256}} over the partition tree."""
    snap = {}
    for root, _dirs, files in os.walk(table):
        rel = os.path.relpath(root, table)
        if "=" not in rel:
            continue
        pf = {}
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                pf[f] = hashlib.sha256(fh.read()).hexdigest()
        snap[rel] = pf
    return snap


@pytest.fixture()
def base(spark, tmp_path):
    table = str(tmp_path / "edges_like")
    rows = [(f"k{i}", ["alpha", "beta"][i % 2], i) for i in range(200)]
    df = _bucketed(spark.createDataFrame(rows, "k string, pred string, v int"))
    gio.merge_upsert(spark, df, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    return table, df


def test_two_level_merge_roundtrip(spark, base):
    table, df = base
    before = sorted((r.k, r.pred, r.v) for r in
                    spark.read.parquet(table).collect())
    assert len(before) == 200
    # re-upserting the identical frame keeps rows identical (replay)
    gio.merge_upsert(spark, df, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    after = sorted((r.k, r.pred, r.v) for r in
                   spark.read.parquet(table).collect())
    assert after == before


def test_two_level_merge_prunes_to_touched_buckets(spark, base):
    """A 1-row delta must rewrite exactly its own (pred, bucket) leaf
    dir; all other leaf dirs stay byte-identical on disk."""
    table, _ = base
    before = _snapshot(table)
    assert len(before) > N_BUCKETS  # both preds × several buckets

    delta = _bucketed(spark.createDataFrame(
        [("k3", "beta", 999)], "k string, pred string, v int"))
    (tb,) = [r.bucket for r in delta.collect()]
    gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    after = _snapshot(table)

    touched = os.path.join("pred=beta", f"bucket={tb}")
    assert set(after) == set(before)
    for d in before:
        if d == touched or touched.startswith(d + os.sep) \
                or d.startswith(touched):
            continue
        assert after[d] == before[d], f"untouched dir {d} was rewritten"

    # and the merge itself is correct: the new row REPLACES the old
    # ("k3","beta") row (MERGE WHEN MATCHED UPDATE), count unchanged
    got = spark.read.parquet(table)
    assert got.count() == 200
    assert got.filter((F.col("k") == "k3") & (F.col("pred") == "beta")) \
        .select("v").collect() == [(999,)]


def test_single_level_merge_still_prunes(spark, tmp_path):
    """Regression: the original single-level path (nodes[kind]) keeps
    its untouched-partition byte-stability."""
    table = str(tmp_path / "nodes_like")
    rows = [(f"n{i}", ["person", "org", "place"][i % 3]) for i in range(60)]
    df = spark.createDataFrame(rows, "k string, kind string")
    gio.merge_upsert(spark, df, table, keys=["k"], partition_by=["kind"])
    before = _snapshot(table)

    delta = spark.createDataFrame([("n0", "person")], "k string, kind string")
    gio.merge_upsert(spark, delta, table, keys=["k"],
                     partition_by=["kind"])
    after = _snapshot(table)
    for d in before:
        if d.startswith("kind=person"):
            continue
        assert after[d] == before[d]
    assert spark.read.parquet(table).count() == 60


def test_fanout_preserves_pruning_and_rows(spark, tmp_path):
    """fanout>1 (multi-file dirs for write parallelism) must not
    change merge semantics: same rows, same pruning — untouched
    (pred, bucket) leaf dirs stay byte-identical across a delta."""
    table = str(tmp_path / "edges_fanout")
    rows = [(f"k{i}", ["alpha", "beta"][i % 2], i) for i in range(200)]
    df = _bucketed(spark.createDataFrame(rows, "k string, pred string, v int"))
    gio.merge_upsert(spark, df, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"], fanout=4)
    got = sorted((r.k, r.pred, r.v) for r in
                 spark.read.parquet(table).collect())
    assert got == sorted((r.k, r.pred, r.v) for r in df.collect())
    before = _snapshot(table)

    delta = _bucketed(spark.createDataFrame(
        [("k3", "beta", 999)], "k string, pred string, v int"))
    (tb,) = [r.bucket for r in delta.collect()]
    gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"], fanout=4)
    after = _snapshot(table)
    touched = os.path.join("pred=beta", f"bucket={tb}")
    for d in before:
        if d == touched or touched.startswith(d + os.sep) \
                or d.startswith(touched):
            continue
        assert after[d] == before[d], f"untouched dir {d} was rewritten"
    got = spark.read.parquet(table)
    assert got.count() == 200
    assert got.filter((F.col("k") == "k3") & (F.col("pred") == "beta")) \
        .select("v").collect() == [(999,)]


def test_compact_table_folds_small_files(spark, tmp_path):
    """Maintenance compaction (io.compact_table, the rewrite_data_files
    analog): a fanout-written table's multi-file leaf dirs fold to one
    file per dir with rows identical, a second pass is a byte-stable
    no-op, and partition-pruned merges still work afterwards."""
    table = str(tmp_path / "fanout")
    rows = [(f"k{i}", ["alpha", "beta"][i % 2], i) for i in range(400)]
    df = _bucketed(spark.createDataFrame(rows, "k string, pred string, v int"))
    # explicit repartition(4): every task holds rows of every leaf dir,
    # so the dynamic-partition write leaves 4 files per dir (the fanout
    # state; an explicit count is never AQE-coalesced)
    gio.write_table(df.repartition(4), table,
                    partition_by=["pred", "bucket"])
    before_rows = sorted((r.k, r.pred, r.v) for r in
                         spark.read.parquet(table).collect())

    stats = gio.compact_table(spark, table, partition_by=["pred", "bucket"])
    assert stats["dirs_compacted"] > 0
    assert stats["files_after"] < stats["files_before"]
    parquet_per_leaf = {
        rel: [f for f in fs if f.endswith(".parquet")]
        for rel, fs in _snapshot(table).items() if "bucket=" in rel}
    assert all(len(fs) == 1 for fs in parquet_per_leaf.values()), \
        parquet_per_leaf
    after_rows = sorted((r.k, r.pred, r.v) for r in
                        spark.read.parquet(table).collect())
    assert after_rows == before_rows

    # idempotent: second pass touches nothing, bytes stable
    snap1 = _snapshot(table)
    stats2 = gio.compact_table(spark, table,
                               partition_by=["pred", "bucket"])
    assert stats2["dirs_compacted"] == 0
    assert _snapshot(table) == snap1

    # merges keep working on the compacted layout
    delta = _bucketed(spark.createDataFrame(
        [("k0", "alpha", 999)], "k string, pred string, v int"))
    gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    got = {(r.k, r.pred): r.v for r in spark.read.parquet(table).collect()}
    assert got[("k0", "alpha")] == 999 and len(got) == 400


def test_compact_table_unpartitioned_keeps_marker(spark, tmp_path):
    table = str(tmp_path / "flat")
    df = spark.range(100).selectExpr("id", "id * 2 as v").repartition(6)
    gio.write_table(df, table)
    assert gio.table_exists(table)
    stats = gio.compact_table(spark, table)
    assert stats["dirs_compacted"] == 1 and stats["files_after"] == 1
    assert gio.table_exists(table)
    assert spark.read.parquet(table).count() == 100


def test_compact_residue_invisible_and_swept(spark, base):
    """A compaction tmp dir left by a crash must (a) be invisible to
    partition discovery — it is '_'-prefixed, so a read returns the
    original rows, never duplicates — and (b) be reclaimed by the next
    compact_table run (round-3 advice #4)."""
    table, _ = base
    before = sorted((r.k, r.pred, r.v) for r in
                    spark.read.parquet(table).collect())
    # plant crash residue: a half-written compaction tmp beside a leaf
    leaf_parent = os.path.join(table, "pred=alpha")
    residue = os.path.join(leaf_parent, "_compact_tmp_deadbeef")
    some_leaf = next(os.path.join(leaf_parent, d)
                     for d in os.listdir(leaf_parent)
                     if d.startswith("bucket="))
    import shutil
    shutil.copytree(some_leaf, residue)
    after = sorted((r.k, r.pred, r.v) for r in
                   spark.read.parquet(table).collect())
    assert after == before, "residue leaked into partition discovery"
    gio.compact_table(spark, table, partition_by=["pred", "bucket"])
    assert not os.path.exists(residue), "stale residue not swept"
    assert sorted((r.k, r.pred, r.v) for r in
                  spark.read.parquet(table).collect()) == before


def test_merge_commit_abort_leaves_table_untouched(spark, tmp_path):
    """Failure side of the ordered-commit contract: when the gate
    owner sets commit_abort before releasing the gate (nodes merge
    failed), the gated merge must raise and leave the target table
    byte-identical — never commit edges over missing nodes (round-3
    advice #2)."""
    import threading
    table = str(tmp_path / "gated")
    rows = [(f"k{i}", ["alpha", "beta"][i % 2], i) for i in range(50)]
    df = _bucketed(spark.createDataFrame(rows, "k string, pred string, v int"))
    gio.merge_upsert(spark, df, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    snap = _snapshot(table)
    gate, abort = threading.Event(), threading.Event()
    abort.set()
    gate.set()
    delta = _bucketed(spark.createDataFrame(
        [("k1", "alpha", 999), ("new", "beta", 1000)],
        "k string, pred string, v int"))
    with pytest.raises(RuntimeError, match="commit aborted"):
        gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                         partition_by=["pred", "bucket"],
                         commit_gate=gate, commit_abort=abort)
    assert _snapshot(table) == snap, "aborted merge mutated the table"
    # no tmp residue either
    parent = os.path.dirname(table)
    assert not [d for d in os.listdir(parent) if "__tmp__" in d]
    # first-write path aborts too (table absent)
    fresh = str(tmp_path / "gated_fresh")
    with pytest.raises(RuntimeError, match="commit aborted"):
        gio.merge_upsert(spark, delta, fresh, keys=["k", "pred"],
                         partition_by=["pred", "bucket"],
                         commit_gate=gate, commit_abort=abort)
    assert not gio.table_exists(fresh)


def test_merge_delete_keys_retraction(spark, base):
    """delete_keys = the MERGE … WHEN MATCHED DELETE analog: matched
    old rows are dropped, delete+reinsert behaves as replace, pruning
    still holds for untouched partitions, and a partition emptied
    entirely by deletes disappears."""
    table, df = base
    all_rows = {(r.k, r.pred, r.v)
                for r in spark.read.parquet(table).collect()}
    before = _snapshot(table)

    # retract two keys from pred=alpha, re-insert one with a new value
    dropped = _bucketed(spark.createDataFrame(
        [("k0", "alpha", 0), ("k2", "alpha", 0)],
        "k string, pred string, v int"))
    reins = _bucketed(spark.createDataFrame(
        [("k2", "alpha", 777)], "k string, pred string, v int"))
    gio.merge_upsert(spark, reins, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"],
                     delete_keys=dropped)
    got = {(r.k, r.pred, r.v) for r in spark.read.parquet(table).collect()}
    want = {t for t in all_rows if t[0] not in ("k0", "k2")} | \
        {("k2", "alpha", 777)}
    assert got == want
    # beta partitions untouched byte-for-byte (delete touched alpha only)
    after = _snapshot(table)
    for leaf, files in before.items():
        if leaf.startswith("pred=beta"):
            assert after[leaf] == files, f"{leaf} rewritten"

    # empty-the-partition case: delete every beta row, insert nothing
    beta = _bucketed(spark.createDataFrame(
        [(f"k{i}", "beta", i) for i in range(1, 200, 2)],
        "k string, pred string, v int"))
    none = spark.createDataFrame([], beta.schema)
    gio.merge_upsert(spark, none, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"], delete_keys=beta)
    left = {(r.k, r.pred, r.v) for r in spark.read.parquet(table).collect()}
    assert left == {t for t in want if t[1] != "beta"}
    assert not os.path.exists(os.path.join(table, "pred=beta")) or \
        not any("=" in d for d in os.listdir(os.path.join(table, "pred=beta")))


def test_compact_crash_windows_recoverable(spark, base):
    """Compaction must never hold the only copy of a leaf in a
    deletable location. Simulated crash states: (a) before the commit
    marker — next run rolls BACK (originals restored, tmp discarded);
    (b) after the commit marker — next run rolls FORWARD (compacted
    files land, helpers cleaned). Rows identical in both cases."""
    import shutil
    table, _ = base
    before = sorted((r.k, r.pred, r.v) for r in
                    spark.read.parquet(table).collect())

    # force a real compaction first to learn the helper layout
    gio.compact_table(spark, table, partition_by=["pred", "bucket"],
                      small_file_bytes=256 * 1024 * 1024)
    assert sorted((r.k, r.pred, r.v) for r in
                  spark.read.parquet(table).collect()) == before

    # (a) crash BEFORE commit: leaf moved aside, no _commit marker
    leaf_parent = os.path.join(table, "pred=alpha")
    leaf = next(os.path.join(leaf_parent, d)
                for d in os.listdir(leaf_parent)
                if d.startswith("bucket="))
    rel = os.path.relpath(leaf, table)
    old_dir = os.path.join(table, "_compact_old_deadbeef")
    os.makedirs(os.path.join(old_dir, os.path.dirname(rel)), exist_ok=True)
    os.rename(leaf, os.path.join(old_dir, rel))
    tmp_dir = os.path.join(table, "_compact_tmp_deadbeef")
    os.makedirs(os.path.join(tmp_dir, rel))  # half-written, no marker
    gio.compact_table(spark, table, partition_by=["pred", "bucket"],
                      small_file_bytes=256 * 1024 * 1024)
    assert os.path.exists(leaf), "rollback did not restore the leaf"
    assert not os.path.exists(old_dir) and not os.path.exists(tmp_dir)
    assert sorted((r.k, r.pred, r.v) for r in
                  spark.read.parquet(table).collect()) == before

    # (b) crash AFTER commit marker: tmp holds the compacted leaf
    os.makedirs(os.path.join(old_dir, os.path.dirname(rel)), exist_ok=True)
    os.rename(leaf, os.path.join(old_dir, rel))
    os.makedirs(os.path.dirname(os.path.join(tmp_dir, rel)), exist_ok=True)
    shutil.copytree(os.path.join(old_dir, rel), os.path.join(tmp_dir, rel))
    open(os.path.join(tmp_dir, "_commit"), "w").close()
    gio.compact_table(spark, table, partition_by=["pred", "bucket"],
                      small_file_bytes=256 * 1024 * 1024)
    assert os.path.exists(leaf), "roll-forward did not land the leaf"
    assert not os.path.exists(old_dir) and not os.path.exists(tmp_dir)
    assert sorted((r.k, r.pred, r.v) for r in
                  spark.read.parquet(table).collect()) == before


def test_merge_recovers_crashed_compaction_first(spark, base):
    """A merge landing on a table with an interrupted compaction must
    recover it BEFORE computing: the moved-aside originals hold the
    only copy of a leaf, and a merge that read the table without them
    would quietly drop rows."""
    table, _ = base
    before = sorted((r.k, r.pred, r.v) for r in
                    spark.read.parquet(table).collect())
    # simulate the uncommitted crash window: a leaf moved aside
    leaf_parent = os.path.join(table, "pred=alpha")
    leaf = next(os.path.join(leaf_parent, d)
                for d in os.listdir(leaf_parent)
                if d.startswith("bucket="))
    rel = os.path.relpath(leaf, table)
    old_dir = os.path.join(table, "_compact_old_cafecafe")
    os.makedirs(os.path.join(old_dir, os.path.dirname(rel)), exist_ok=True)
    os.rename(leaf, os.path.join(old_dir, rel))
    assert len({(r.k, r.pred, r.v)
                for r in spark.read.parquet(table).collect()}) < len(before)
    # a merge must first restore the leaf, then apply the delta
    delta = _bucketed(spark.createDataFrame(
        [("k0", "alpha", 12345)], "k string, pred string, v int"))
    gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    got = {(r.k, r.pred, r.v) for r in spark.read.parquet(table).collect()}
    want = {t for t in before if t[0] != "k0"} | {("k0", "alpha", 12345)}
    assert got == want, "merge dropped the moved-aside leaf's rows"
    assert not os.path.exists(old_dir)


def test_swap_crash_window_recovers_and_merge_refuses_delta_rebuild(
        spark, base):
    """The two halves of the silent-corruption fix: (a) a crash inside
    the write_table swap — old table renamed aside, new one never
    committed — must be healed by the next merge (the pre-swap copy IS
    the table; the commit never happened); (b) a keyed merge carrying a
    PATCH must refuse to create a missing table from the patch alone
    (require_existing)."""
    table, df = base
    n0 = spark.read.parquet(table).count()

    # simulate the mid-swap crash: table moved aside, no replacement
    os.rename(table, table + ".__old__dead0001")
    assert not gio.table_exists(table)

    delta = _bucketed(spark.createDataFrame(
        [("k0", "alpha", 999)], "k string, pred string, v int"))
    gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"],
                     require_existing=True)
    got = spark.read.parquet(table)
    assert got.count() == n0  # recovered + merged, nothing lost
    assert got.filter("k = 'k0'").collect()[0].v == 999
    assert not os.path.exists(table + ".__old__dead0001")

    # post-commit residue (crash during the old copy's cleanup) is swept
    os.makedirs(table + ".__old__dead0002")
    gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    assert not os.path.exists(table + ".__old__dead0002")

    # a truly missing table + require_existing → loud error, never a
    # table built from the delta alone
    missing = table + "_nonexistent"
    with pytest.raises(RuntimeError, match="require_existing"):
        gio.merge_upsert(spark, delta, missing, keys=["k", "pred"],
                         partition_by=["pred", "bucket"],
                         require_existing=True)
    assert not gio.table_exists(missing)


def test_leaf_swap_crash_recovery(spark, base):
    """A crash inside the per-leaf partition swap strands the OLD leaf
    in a root-level _mswap_old_* helper. The next merge (or read) must
    restore a leaf whose replacement never landed, drop the stale copy
    of one whose replacement did, and never lose rows either way."""
    table, df = base
    n0 = spark.read.parquet(table).count()
    leaves = sorted(os.path.join(d, b)
                    for d in os.listdir(table) if d.startswith("pred=")
                    for b in os.listdir(os.path.join(table, d))
                    if b.startswith("bucket="))
    victim, done = leaves[0], leaves[1]

    # case 1: replacement never landed — leaf missing, copy stranded
    aside = os.path.join(table, "_mswap_old_dead01")
    os.makedirs(os.path.join(aside, os.path.dirname(victim)))
    os.rename(os.path.join(table, victim), os.path.join(aside, victim))
    # case 2: replacement landed — leaf present AND a stale copy aside
    aside2 = os.path.join(table, "_mswap_old_dead02")
    os.makedirs(os.path.join(aside2, os.path.dirname(done)))
    import shutil
    shutil.copytree(os.path.join(table, done), os.path.join(aside2, done))

    delta = _bucketed(spark.createDataFrame(
        [("k1", "beta", 777)], "k string, pred string, v int"))
    gio.merge_upsert(spark, delta, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"],
                     require_existing=True)
    got = spark.read.parquet(table)
    assert got.count() == n0          # stranded leaf restored, no dupes
    assert got.filter("k = 'k1'").collect()[0].v == 777
    assert not os.path.exists(aside) and not os.path.exists(aside2)
    # reads are self-healing too
    os.makedirs(os.path.join(aside, os.path.dirname(victim)))
    os.rename(os.path.join(table, victim), os.path.join(aside, victim))
    assert gio.read_table(spark, table).count() == n0
    assert not os.path.exists(aside)


def test_read_table_heals_crashed_compaction(spark, base):
    """The review-found data-loss window: a compaction killed between
    moving a leaf aside and the _commit marker leaves the leaf's ONLY
    copy in _compact_old_*. Pure-read paths (read_table) must heal it
    — a resume whose lineage short-circuits all merges otherwise reads
    the table silently missing those rows, and a downstream overwrite
    (e.g. apply_promotions rewriting materialize) then deletes the only
    copy for good. Covers rollback (no marker) AND roll-forward
    (marker present) through read_table alone."""
    import shutil
    table, _ = base
    before = sorted((r.k, r.pred, r.v) for r in
                    spark.read.parquet(table).collect())

    leaf_parent = os.path.join(table, "pred=alpha")
    leaf = next(os.path.join(leaf_parent, d)
                for d in os.listdir(leaf_parent)
                if d.startswith("bucket="))
    rel = os.path.relpath(leaf, table)

    # (a) uncommitted crash: leaf aside, half-written tmp, no marker
    old_dir = os.path.join(table, "_compact_old_feed0001")
    tmp_dir = os.path.join(table, "_compact_tmp_feed0001")
    os.makedirs(os.path.join(old_dir, os.path.dirname(rel)), exist_ok=True)
    os.rename(leaf, os.path.join(old_dir, rel))
    os.makedirs(os.path.join(tmp_dir, rel))
    assert len({(r.k, r.pred, r.v)
                for r in spark.read.parquet(table).collect()}) < len(before)
    got = sorted((r.k, r.pred, r.v)
                 for r in gio.read_table(spark, table).collect())
    assert got == before, "read_table lost the moved-aside leaf's rows"
    assert not os.path.exists(old_dir) and not os.path.exists(tmp_dir)

    # (b) committed crash: compacted copy in tmp with the marker
    os.makedirs(os.path.join(old_dir, os.path.dirname(rel)), exist_ok=True)
    os.rename(leaf, os.path.join(old_dir, rel))
    os.makedirs(os.path.dirname(os.path.join(tmp_dir, rel)), exist_ok=True)
    shutil.copytree(os.path.join(old_dir, rel), os.path.join(tmp_dir, rel))
    open(os.path.join(tmp_dir, "_commit"), "w").close()
    got = sorted((r.k, r.pred, r.v)
                 for r in gio.read_table(spark, table).collect())
    assert got == before
    assert os.path.exists(leaf)
    assert not os.path.exists(old_dir) and not os.path.exists(tmp_dir)

    # (c) aside-without-tmp (crash between helper creations): restored
    os.makedirs(os.path.join(old_dir, os.path.dirname(rel)), exist_ok=True)
    os.rename(leaf, os.path.join(old_dir, rel))
    got = sorted((r.k, r.pred, r.v)
                 for r in gio.read_table(spark, table).collect())
    assert got == before
    assert not os.path.exists(old_dir)


def test_edge_bucket_count_pinned_for_table_lifetime(spark, base,
                                                     monkeypatch):
    """The bucket count decides which partition dir a key hashes to;
    if it drifts between runs, a re-upserted key lands in a DIFFERENT
    bucket dir and the pruned anti-join never retires the old row —
    silent duplicates. First use stamps the count BEFORE the first
    write (the pipeline's call order); a drifted GUACKG_EDGE_BUCKETS
    must fail loudly, same-value runs pass."""
    table, df = base
    monkeypatch.setenv("GUACKG_EDGE_BUCKETS", str(N_BUCKETS))
    # the real call order: stamp first, table appears after
    import shutil
    shutil.rmtree(table)
    assert gio.edge_bucket_count(table) == N_BUCKETS   # stamps
    assert os.path.exists(table + ".buckets")
    gio.merge_upsert(spark, df, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    assert gio.edge_bucket_count(table) == N_BUCKETS   # idempotent
    monkeypatch.setenv("GUACKG_EDGE_BUCKETS", str(N_BUCKETS * 2))
    with pytest.raises(RuntimeError, match="pinned"):
        gio.edge_bucket_count(table)
    # a stamp without a table is stale INTENT (crash before the first
    # write): the new run's count wins instead of wedging the workdir
    missing = table + "_never_written"
    monkeypatch.setenv("GUACKG_EDGE_BUCKETS", "4")
    assert gio.edge_bucket_count(missing) == 4
    monkeypatch.setenv("GUACKG_EDGE_BUCKETS", "16")
    assert gio.edge_bucket_count(missing) == 16


def test_edge_bucket_count_lost_sidecar_fails_loudly(spark, base,
                                                     monkeypatch):
    """A table whose .buckets sidecar is missing or unreadable must
    REFUSE to merge, not silently re-pin the current env value: the
    sidecar is a sibling file, so a copy/restore of the table dir
    alone loses it, and a guessed count re-buckets re-upserted keys
    into different partition dirs — duplicates with no error."""
    table, _ = base
    monkeypatch.setenv("GUACKG_EDGE_BUCKETS", str(N_BUCKETS))
    with open(table + ".buckets", "w") as f:
        f.write(str(N_BUCKETS))
    assert gio.edge_bucket_count(table) == N_BUCKETS
    os.remove(table + ".buckets")
    with pytest.raises(RuntimeError, match="sidecar"):
        gio.edge_bucket_count(table)
    # a truncated sidecar (crash mid-write) is the same condition
    open(table + ".buckets", "w").close()
    with pytest.raises(RuntimeError, match="sidecar"):
        gio.edge_bucket_count(table)
    # …but WITHOUT a table it's stale intent: re-stamp and move on
    missing = table + "_never_written2"
    open(missing + ".buckets", "w").close()
    assert gio.edge_bucket_count(missing) == N_BUCKETS
    with open(missing + ".buckets") as f:
        assert int(f.read()) == N_BUCKETS


def test_single_level_merge_spreads_to_fanout_files(spark, tmp_path):
    """Single-level partitioned merges honor the fanout contract too:
    the old∪new union is hash-spread on (partition col [+ salt]), so a
    partition dir gains at most `fanout` files per merge instead of
    one per shuffle task — the streaming upsert sink runs this path
    every micro-batch, where an unspread write compounds into an
    O(batches × tasks) small-file explosion."""
    table = str(tmp_path / "kinded")
    df = spark.createDataFrame(
        [(f"k{i}", ["a", "b"][i % 2], i) for i in range(300)],
        "k string, kind string, v int").repartition(16)
    gio.merge_upsert(spark, df, table, keys=["k"], partition_by=["kind"])
    delta = spark.createDataFrame(
        [(f"k{i}", ["a", "b"][i % 2], i + 1000) for i in range(0, 300, 3)],
        "k string, kind string, v int").repartition(16)
    gio.merge_upsert(spark, delta, table, keys=["k"],
                     partition_by=["kind"], fanout=2)
    for kind in ("a", "b"):
        leaf = os.path.join(table, f"kind={kind}")
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) <= 2, (kind, files)
    got = sorted((r.k, r.kind, r.v) for r in
                 gio.read_table(spark, table).collect())
    want = {r[0]: r for r in
            ((f"k{i}", ["a", "b"][i % 2], i) for i in range(300))}
    for i in range(0, 300, 3):
        want[f"k{i}"] = (f"k{i}", ["a", "b"][i % 2], i + 1000)
    assert got == sorted(want.values())


def test_lineage_counts_ignore_recovery_helper_dirs(spark, tmp_path):
    """Lineage.record's footer walk must see exactly what Spark's file
    index sees: '_'/'.'-prefixed dirs are invisible. io.py's crash
    helpers (_mswap_old_*, _compact_old_*) park moved-aside COPIES of
    rows there and clean up with ignore_errors — a swallowed cleanup
    would double-count those rows, and total_rows feeds real decisions
    (the pipeline's broadcast-budget check)."""
    from guackg.lineage import Lineage
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(i,) for i in range(50)], "v int")
    gio.write_table(df, table)
    lin = Lineage(str(tmp_path))
    clean = lin.record("s", "fp", None, table_path=table)
    assert clean["total_rows"] == 50
    # plant stale helper residue holding a full copy of the data
    aside = os.path.join(table, "_mswap_old_deadbeef")
    os.makedirs(aside)
    for f in os.listdir(table):
        if f.endswith(".parquet"):
            import shutil
            shutil.copy(os.path.join(table, f), os.path.join(aside, f))
    again = lin.record("s", "fp", None, table_path=table)
    assert again["total_rows"] == 50, "helper-dir rows double-counted"


def test_merge_empty_delta_is_noop(spark, base):
    """An empty delta (an empty streaming micro-batch; a promotion
    whose keys carry no evidence rows) must be a byte-exact no-op on
    the partition-pruned MERGE path — not a crash on a None pruning
    predicate — while the gate contract still aborts it."""
    import threading
    table, df = base
    before = _snapshot(table)
    empty = _bucketed(df.limit(0))
    gio.merge_upsert(spark, empty, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"])
    assert _snapshot(table) == before, "empty merge mutated the table"
    # empty delete set alongside: still a no-op
    gio.merge_upsert(spark, empty, table, keys=["k", "pred"],
                     partition_by=["pred", "bucket"],
                     delete_keys=empty.select("k", "pred",
                                              "bucket"))
    assert _snapshot(table) == before
    # the gate contract holds even for a no-op: an aborted
    # prerequisite must FAIL the merge so the caller never records
    # lineage success over a failed dependency
    gate, abort = threading.Event(), threading.Event()
    abort.set()
    gate.set()
    with pytest.raises(RuntimeError, match="commit aborted"):
        gio.merge_upsert(spark, empty, table, keys=["k", "pred"],
                         partition_by=["pred", "bucket"],
                         commit_gate=gate, commit_abort=abort)
    assert _snapshot(table) == before


def test_merge_rejects_hive_escaped_partition_values(spark, base):
    """The pruned merge's directory arithmetic joins `col=value`
    LITERALLY; Spark Hive-escapes other bytes in the real dir name
    (':'→'%3A'), so a non-filesystem-literal partition value must fail
    LOUDLY before any write — the silent alternative is a retracted
    partition whose stale dir survives cleanup and resurrects deleted
    rows (round-4 review #1). Producers already keep values safe by
    construction (materialize.kind_of_key); this guards every other
    caller."""
    table, df = base
    before = _snapshot(table)
    bad = _bucketed(spark.createDataFrame(
        [("k1", "a:b", 1)], "k string, pred string, v int"))
    with pytest.raises(ValueError, match="not filesystem-literal"):
        gio.merge_upsert(spark, bad, table, keys=["k", "pred"],
                         partition_by=["pred", "bucket"])
    # leading '.'/'_' values are hidden from Spark's file index —
    # equally unsafe as partition dir names
    hidden = _bucketed(spark.createDataFrame(
        [("k1", "_tmp", 1)], "k string, pred string, v int"))
    with pytest.raises(ValueError, match="not filesystem-literal"):
        gio.merge_upsert(spark, hidden, table, keys=["k", "pred"],
                         partition_by=["pred", "bucket"])
    # delete-side values hit the same check
    ok_empty = _bucketed(df.limit(0))
    with pytest.raises(ValueError, match="not filesystem-literal"):
        gio.merge_upsert(spark, ok_empty, table, keys=["k", "pred"],
                         partition_by=["pred", "bucket"],
                         delete_keys=bad.select("k", "pred", "bucket"))
    # NULL and bool str()-launder into regex-safe forms ('None',
    # 'True') but their on-disk dirs differ (__HIVE_DEFAULT_PARTITION__,
    # 'true') — rejected by TYPE, not string form (round-4 review)
    nullv = _bucketed(spark.createDataFrame(
        [("k1", None, 1)], "k string, pred string, v int"))
    with pytest.raises(ValueError, match="not filesystem-literal"):
        gio.merge_upsert(spark, nullv, table, keys=["k", "pred"],
                         partition_by=["pred", "bucket"])
    boolv = _bucketed(spark.createDataFrame(
        [("k1", True, 1)], "k string, pred boolean, v int"))
    with pytest.raises(ValueError, match="not filesystem-literal"):
        gio.merge_upsert(spark, boolv, table, keys=["k", "pred"],
                         partition_by=["pred", "bucket"])
    assert _snapshot(table) == before, "failed merge mutated the table"


def test_append_table_failed_or_killed_append_reads_whole_batches(
        spark, tmp_path, monkeypatch):
    """A failed append job leaves the table as it was (under the v2
    committer a bare mode("append") leaves its committed tasks' files
    in the table, and the next batch reads them as stored rows); a
    writer killed while publishing a written batch is rolled forward
    whole by the next read. A reader never sees part of a batch."""
    import glob

    path = str(tmp_path / "state")

    def ids():
        return sorted(r.id for r in gio.read_table(spark, path).collect())

    gio.append_table(spark.range(0, 5, 1, 1), path)
    before = ids()
    # 8 one-row tasks on local[4]: the failing task 7 starts only after
    # earlier tasks committed their files
    bad = spark.range(0, 8, 1, 8).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("injected")))
        .otherwise(F.col("id") + 100).alias("id"))
    with pytest.raises(Exception, match="injected"):
        gio.append_table(bad, path)
    assert ids() == before

    class Killed(Exception):
        pass

    real_replace = os.replace
    moved = []

    def dying_replace(src, dst):
        if ".__append__" in src and moved:
            raise Killed()
        real_replace(src, dst)
        moved.append(src)

    monkeypatch.setattr(gio.os, "replace", dying_replace)
    with pytest.raises(Killed):
        gio.append_table(spark.range(200, 204, 1, 4), path)
    monkeypatch.undo()
    assert glob.glob(path + ".__append__*")
    assert ids() == before + [200, 201, 202, 203]
    assert not glob.glob(path + ".__append__*")
    gio.append_table(spark.range(300, 302, 1, 2), path)
    assert ids() == before + [200, 201, 202, 203, 300, 301]
    assert not glob.glob(path + ".__tmp__*")
