"""Sources & sinks.

The design target is Iceberg (`MERGE INTO` node/edge tables, snapshot
isolation, incremental scans between snapshots — the Spark analog of
guac's natural-key upserts + NATS durable consumers, SURVEY.md §2.11).
This sandbox has no Iceberg runtime jar, so the sink is a parquet
directory with the SAME observable semantics:

- `write_table`   — deterministic overwrite (stage outputs are pure
  functions of inputs, so overwrite == idempotent replay; this is the
  reference's "re-delivery is safe because upserts are idempotent"
  story, /root/reference/pkg/assembler/backends/inmem/pkg.go:344-434).
- `merge_upsert`  — read-modify-write keyed merge, new rows win
  (MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT). On
  Iceberg this is a single `MERGE INTO` statement; the helper keeps
  call sites engine-agnostic.
- `append_table`  — all-or-nothing append of a batch (the MinHash
  near-dup state store's ingest write).
- `read_table`    — plain scan; column pruning / predicate pushdown
  flow into the parquet reader via Catalyst.

All writes go through a tmp-dir + atomic rename so a killed job never
leaves a half-written table (poor man's snapshot commit).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# partition values a pruned merge accepts: bytes Spark writes into the
# partition directory name UNESCAPED, so `col=value` string joins and
# the on-disk layout agree (see merge_upsert's contract check). A
# leading '.'/'_' would ALSO break the contract (Spark's file index
# hides such dirs), so the first char is restricted further.
_PART_VALUE_SAFE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")


def table_exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def merge_fanout(spark: SparkSession, cap: int = 8) -> int:
    """Sink fanout (parallel encode tasks per jumbo partition dir) for
    merge_upsert callers — one place so the pipeline's ingest merge and
    the enrichment patch merge can never silently diverge on write
    parallelism for the SAME table (round-4 review)."""
    return max(1, min(cap, spark.sparkContext.defaultParallelism))


def _heal_table(path: str, sweep_tmp: bool = False) -> None:
    """Single entry-point recovery, called by read_table, write_table
    and merge_upsert alike, so 'which residue does this entry point
    heal' is a one-place decision (the gap where reads healed swaps
    but not compactions lost rows permanently: a post-compaction-crash
    read_table silently missed the moved-aside leaf, and a downstream
    overwrite deleted its only copy). Heals, in dependency order:
    whole-table swaps, leaf merge-swaps, committed appends, and
    root-level interrupted compactions. Cost when nothing is pending:
    two parent-dir globs + two root listdirs. `sweep_tmp` additionally
    removes dead `.__tmp__*` siblings from prior writer crashes —
    writers only (single-writer-per-table contract; a reader must never
    delete a concurrent writer's live tmp)."""
    _recover_swap(path)
    _recover_merge_swap(path)
    if os.path.isdir(path):
        _recover_append(path)
        _recover_compaction(path, deep=False)
    if sweep_tmp:
        for stale in glob.glob(glob.escape(path) + ".__tmp__*"):
            shutil.rmtree(stale, ignore_errors=True)


def edge_bucket_count(path: str, default: int | None = None) -> int:
    """Bucket count for a bucket-partitioned table, PINNED for the
    table's lifetime. The count decides which (pred, bucket) dir a key
    lands in; if it drifts between runs (GUACKG_EDGE_BUCKETS changed),
    a re-upserted key hashes to a DIFFERENT bucket dir and the
    partition-pruned anti-join never sees the old row — silent
    duplicate edges with no error. So the first use stamps the count
    into a `<path>.buckets` sidecar (sibling file, invisible to
    readers), and any later run whose count differs fails loudly —
    as does a table whose sidecar went missing (restored/copied
    without the sibling): guessing a count there would be the same
    silent drift. The stamp is written atomically before the first
    merge, so even a crash mid-first-write leaves the intended count
    pinned."""
    n = default if default is not None else \
        int(os.environ.get("GUACKG_EDGE_BUCKETS", "32"))
    meta = path + ".buckets"
    pinned = None
    if os.path.exists(meta):
        try:
            with open(meta) as f:
                pinned = int(f.read().strip())
        except ValueError:
            # truncated sidecar (crash mid-write under the old
            # non-atomic writer); recoverable only when the table
            # itself doesn't exist yet
            pinned = None
    if table_exists(path):
        if pinned is None:
            # a table WITHOUT a readable pin must fail loudly: falling
            # through to re-stamp the current env value would silently
            # re-bucket re-upserted keys into different partition dirs
            # — the exact duplicate-edge drift the pin exists to stop
            # (e.g. the table was copied/restored without its sibling
            # sidecar, which lives OUTSIDE the table dir)
            raise RuntimeError(
                f"{path} exists but its bucket-count sidecar ({meta}) "
                "is missing or unreadable; restore the sidecar with the"
                " count the table was written with (its bucket= dirs "
                "show the original range) — re-pinning a guessed count "
                "would silently duplicate keys across bucket dirs")
        if pinned != n:
            raise RuntimeError(
                f"bucket count {n} does not match the table's pinned "
                f"{pinned} ({meta}); the count must stay fixed for a "
                "table's lifetime or merge pruning silently duplicates "
                "keys across bucket dirs")
        return n
    if pinned == n:
        return n
    # no table yet: (re-)stamp atomically so a crash mid-write can
    # never leave a truncated pin next to a table that later appears
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = f"{meta}.tmp{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        f.write(str(n))
    os.replace(tmp, meta)
    return n


def read_table(spark: SparkSession, path: str) -> DataFrame:
    # self-healing reads: a crash inside a swap or compaction leaves
    # the table (or a leaf) in a move-aside helper; a resume path that
    # READS before its first write (e.g. the enrich journal replay
    # reading materialize) must recover it here or fail — or worse,
    # compute a patch missing the aside leaf's rows — on every retry.
    _heal_table(path)
    return spark.read.parquet(path)


def write_table(df: DataFrame, path: str,
                partition_by: list[str] | None = None,
                commit_gate=None, commit_abort=None) -> None:
    """Deterministic overwrite with atomic swap.

    `commit_gate` (a threading.Event, optional) implements
    parallel-compute / ordered-commit: the write job runs immediately,
    but the atomic swap that makes the table VISIBLE waits for the
    gate. The pipeline uses it to keep the assembler's nodes-before-
    edges visibility order (bulk.go:29-191) while both merges compute
    concurrently — a reader never observes edges whose endpoints'
    node table hasn't committed yet.

    `commit_abort` (a threading.Event, optional) is the failure side
    of that contract: when the upstream commit FAILED, the gate owner
    sets abort before releasing the gate, and this write discards its
    tmp dir and raises instead of swapping — the table is left exactly
    as it was (the Iceberg analog: a MERGE in the same transaction as
    a failed dependency never commits its snapshot)."""
    _heal_table(path, sweep_tmp=True)
    tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    _await_gate(tmp, path, commit_gate, commit_abort)
    _swap_in(tmp, path)


def append_table(df: DataFrame, path: str) -> None:
    """Append `df`'s rows to the parquet table at `path`, all or
    nothing. The first batch is a `write_table`. A later batch is
    written to a private `.__tmp__` sibling, so a failed job leaves
    only that sibling, which the next writer sweeps (a bare
    `mode("append")` under the v2 committer leaves the failed job's
    committed task files in the table). The written sibling is then
    renamed to `.__append__<id>`, the commit point, and its data files
    are moved into the table. If a crash interrupts the moves, the
    next read_table or writer finishes them (`_recover_append`): the
    batch was complete before the first move, and Spark's per-job
    file names never collide."""
    _heal_table(path, sweep_tmp=True)
    if not table_exists(path):
        write_table(df, path)
        return
    tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
    df.write.parquet(tmp)
    pending = (f"{path}.__append__{time.time_ns():020d}"
               f"{uuid.uuid4().hex[:4]}")
    os.replace(tmp, pending)
    _finish_append(pending, path)


def _finish_append(pending: str, path: str) -> None:
    for name in sorted(os.listdir(pending)):
        if name.startswith(("_", "._")):  # _SUCCESS and its checksum
            continue
        src = os.path.join(pending, name)
        try:
            os.replace(src, os.path.join(path, name))
        except FileNotFoundError:
            if os.path.exists(src):  # not moved by a concurrent heal
                raise
    shutil.rmtree(pending, ignore_errors=True)


def _recover_append(path: str) -> None:
    """Finish appends that committed (renamed to `.__append__`) but
    died before all their files moved into the table."""
    for pending in sorted(glob.glob(glob.escape(path) + ".__append__*")):
        _finish_append(pending, path)


def _await_gate(tmp: str, path: str, commit_gate, commit_abort) -> None:
    """Shared gate protocol for every gated sink (write_table and
    merge_upsert must never diverge on failure semantics): wait for
    the prerequisite commit, and if it failed, discard the tmp dir and
    raise instead of swapping."""
    if commit_gate is not None:
        commit_gate.wait()
    if commit_abort is not None and commit_abort.is_set():
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"commit aborted for {path}: gated "
                           "prerequisite commit failed")


def _swap_in(tmp: str, path: str) -> None:
    """Commit a written tmp dir as the table WITHOUT a window where the
    only copy is gone: the old table is renamed aside (one syscall),
    the new one renamed in (one syscall), and only then is the old
    copy deleted. The naive rmtree-then-rename swap has an O(files)
    window during which a crash leaves NO table at all — and a keyed
    merge that later finds no table would quietly re-create it from
    its delta alone (the silent-corruption path `_recover_swap` and
    merge_upsert's `require_existing` exist to close)."""
    if os.path.exists(path):
        # zero-padded wall-clock prefix: if cleanup failures ever leave
        # MULTIPLE aside copies, lexicographic order is chronological,
        # so recovery restores the newest (uuid alone would be a coin
        # flip between a stale snapshot and the current data)
        old = (f"{path}.__old__{time.time_ns():020d}"
               f"{uuid.uuid4().hex[:4]}")
        os.replace(path, old)
        os.replace(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.replace(tmp, path)


def _recover_swap(path: str) -> None:
    """Heal a crash inside `_swap_in`. Two cases:
    - table missing but a `<path>.__old__*` sibling survives → the
      swap died between its two renames; the commit never happened, so
      restore the pre-swap copy.
    - table present with `.__old__*` residue → the crash hit the
      post-commit rmtree; finish the cleanup.
    Sibling dirs (never inside the table tree) are invisible to
    Spark's partition discovery, so residue is only garbage, never
    data corruption (the compact_table lesson, round-3 advice #4)."""
    leftovers = sorted(glob.glob(glob.escape(path) + ".__old__*"))
    if not leftovers:
        return
    if not table_exists(path):
        for d in reversed(leftovers):
            if os.path.exists(os.path.join(d, "_SUCCESS")):
                if os.path.exists(path):  # swapped-in dir w/o _SUCCESS
                    shutil.rmtree(path)
                os.replace(d, path)
                leftovers.remove(d)
                break
    for d in leftovers:
        if table_exists(path):
            shutil.rmtree(d, ignore_errors=True)


def merge_upsert(spark: SparkSession, df: DataFrame, path: str,
                 keys: list[str],
                 partition_by: list[str] | None = None,
                 assume_unique: bool = False,
                 fanout: int = 1,
                 pre_distributed: bool = False,
                 commit_gate=None, commit_abort=None,
                 delete_keys: DataFrame | None = None,
                 require_existing: bool = False) -> None:
    """Keyed upsert: incoming rows replace existing rows with the same
    key (guac's find-or-create trie upsert, pkg.go:344-434; on Iceberg
    this whole function is one `MERGE INTO target USING df ON keys
    WHEN MATCHED UPDATE * WHEN NOT MATCHED INSERT *` — file-pruned by
    the keys' partition values).

    O(delta), not O(table): existing rows survive via ONE left-anti
    join of old-vs-new keys (no global row_number window), and when
    `partition_by` is set only the partitions that actually contain
    new keys are rewritten — untouched partition directories are never
    read or written. Precondition (documented contract): the partition
    column is functionally dependent on the keys (true for
    nodes[kind←canonical_key] and edges[pred∈keys]), so a key can
    never move between partitions.

    `partition_by` may be MULTI-LEVEL (e.g. ["pred", "bucket"] where
    bucket = pmod(xxhash64(subj_key), B)): pruning then happens on the
    partition TUPLE, so a delta touching one bucket of a huge
    partition (the 'mentions' pred) rewrites only that bucket's
    directory, never the sibling buckets — the fix for the round-2
    "any mention increment rewrites 80% of the table" finding. The
    affected-tuples collect stays metadata-sized (|pred| × B, O(100)).

    `keys` must be unique within `df`; this is enforced with a
    dropDuplicates so first-write and merge semantics are identical —
    UNLESS the caller passes `assume_unique=True`, asserting the
    frame is already key-unique (e.g. it is a groupBy on the keys, or
    a union of keyed aggregates over disjoint key namespaces). The
    flag removes a full-frame shuffle from the sink.

    `pre_distributed=True` asserts the caller ALREADY hash-distributed
    `df` on the partition tuple (e.g. a write-aligned aggregation that
    grouped under (pred, bucket) — materialize.build_edges), so the
    sink's own spread repartition is skipped on the first write: the
    rows flow from the aggregation straight into the partitioned
    encode with zero extra exchange. The MERGE path still respreads
    the old∪new union (the old rows arrive with file layout, not
    shuffle layout).

    `delete_keys` (optional) is the RETRACTION side of the merge — the
    Iceberg `MERGE … WHEN MATCHED AND op = 'delete' THEN DELETE`
    analog: existing rows whose `keys` match a delete row are dropped
    (unless `df` re-inserts the same key). The frame must carry the
    key columns AND the partition columns (same functional-dependence
    contract as `keys`), so deletes prune to their partitions exactly
    like upserts; a partition emptied entirely by deletes is removed.
    Used by the enrichment re-link to retract stale `ent:guac/…`
    fallback identities after promotion (round-3 advice #3).

    `fanout` = parallel write tasks (⇒ files) per partition dir. At
    fanout=1 the pre-write repartition hashes on the partition tuple
    alone — one file per dir, but a dir can then never be encoded by
    more than one task, so a handful of jumbo partitions (the
    'mentions' pred buckets) caps write parallelism at the tuple
    count, and hash collisions stack two jumbo tuples on one task
    (measured: the edge write scaled 1.5× from 1→4 executors).
    fanout>1 adds a key-derived salt so a jumbo dir is encoded by up
    to `fanout` tasks — the Iceberg write.distribution-mode=hash
    fanout knob. Callers size it to executor cores / partition count.
    """
    # an interrupted swap, leaf swap or compaction may hold the
    # table's (or a leaf's) only copy in its move-aside helper —
    # recover BEFORE reading, or the merge would quietly compute
    # without those rows; dead prior merges also leave .__tmp__*
    # siblings (full-size table copies) — sweep them (single-writer-
    # per-table contract, so no live merge's tmp can be here)
    _heal_table(path, sweep_tmp=True)
    new = df if assume_unique else df.dropDuplicates(keys)
    multi = partition_by is not None and len(partition_by) > 1

    def _spread(frame: DataFrame) -> DataFrame:
        # hash-repartition on the partition tuple (+ salt) before the
        # fan-out write (AQE coalesces small buckets) — applied for
        # ANY partitioned sink, single- or multi-level: an unspread
        # partitionBy write emits one file per (task × value) pair, so
        # a 200-task frame over a 64-bucket table leaves O(10^4) files
        # per merge and every later batch re-reads them
        parts = [F.col(c) for c in partition_by]
        if fanout > 1:
            parts.append(F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                                F.lit(fanout)))
        return frame.repartition(*parts)

    if partition_by and not pre_distributed:
        new = _spread(new)
    if not table_exists(path):
        if require_existing:
            # a merge whose delta is a PATCH of prior state must never
            # create the table from the patch alone (e.g. the enrich
            # resume: a links table built from only the re-linked norms
            # would silently drop the rest of the vocabulary)
            raise RuntimeError(
                f"merge_upsert: {path} does not exist but this merge "
                "requires prior state (require_existing=True); the "
                "delta alone is not the table")
        write_table(new, path, partition_by, commit_gate=commit_gate,
                    commit_abort=commit_abort)
        return
    old = read_table(spark, path)
    # The delta plan is executed by up to THREE separate jobs below
    # (the affected-tuples collect, the anti-keys subplan, the union
    # write) — with no exchange reuse across jobs, an expensive delta
    # (the full build_edges aggregation on an incremental ingest, or
    # every streaming micro-batch) would be recomputed each time.
    # Persist it once; the first action materializes the cache.
    new = new.persist()
    try:
        # rows that must NOT survive from the old table: replaced keys
        # plus (when retracting) deleted keys
        anti = new.select(keys).distinct()
        if delete_keys is not None:
            anti = anti.unionByName(delete_keys.select(keys).distinct())
        if not partition_by:
            merged = old.join(anti, on=keys,
                              how="left_anti").unionByName(new)
            write_table(merged, path, partition_by,
                        commit_gate=commit_gate,
                        commit_abort=commit_abort)
            return

        # partition-pruned merge: only partition TUPLES containing new
        # keys (or deletes) are touched. The affected-values collect is
        # bounded by the partition columns' cardinality (kind /
        # pred×bucket: O(100)) — not by data size.
        affected = new.select(*partition_by).distinct().collect()
        if delete_keys is not None:
            seen = {tuple(r) for r in affected}
            affected = affected + [
                r for r in delete_keys.select(*partition_by).distinct()
                .collect() if tuple(r) not in seen]
        # contract check, loud: the swap/cleanup arithmetic below joins
        # partition dirs as the LITERAL `col=value` string, but Spark
        # Hive-escapes non-safe bytes in the actual dir name
        # (':' → '%3A') — a mismatch would leave a retracted
        # partition's stale dir behind (silent row resurrection) or
        # mark a live one emptied. Producers keep values in this set
        # by construction (materialize.kind_of_key; pred lexicon;
        # int buckets); anything else must fail here, not corrupt.
        for r in affected:
            for c, v in zip(partition_by, r):
                # NULL and bool never match their on-disk form even
                # though str() launders them ('None' vs
                # __HIVE_DEFAULT_PARTITION__, 'True' vs 'true') —
                # reject by type, not string form
                if (v is None or isinstance(v, bool)
                        or _PART_VALUE_SAFE.match(str(v)) is None):
                    raise ValueError(
                        f"merge_upsert: partition value {v!r} for "
                        f"column {c!r} is not filesystem-literal "
                        "([A-Za-z0-9][A-Za-z0-9_.-]*, non-NULL, "
                        "non-bool); Hive-encoded directory names "
                        "break the pruned-merge swap contract")
        if not affected:
            # zero new rows and zero deletes: MERGE of an empty delta
            # is a no-op (an empty streaming micro-batch, a promotion
            # whose keys carry no evidence rows). Without this guard
            # the pruning predicate below would be None and the merge
            # would crash — but the gate CONTRACT still applies: an
            # aborted prerequisite must fail this merge, not no-op it
            # (the caller's lineage must not record success).
            _await_gate(f"{path}.__tmp__never_written", path,
                        commit_gate, commit_abort)
            return
        # per head tuple (all levels but the last), an IN-list on the
        # leaf level — Catalyst turns this into partition-directory
        # pruning. Works for ANY partition depth (a two-level
        # hardcode here would silently over-select — and thus
        # redundantly rewrite — every deeper sibling).
        by_head: dict[tuple, list] = {}
        for r in affected:
            by_head.setdefault(tuple(r[:-1]), []).append(r[-1])
        pred = None
        for head, tails in by_head.items():
            clause = F.col(partition_by[-1]).isin(tails)
            for i, c in enumerate(partition_by[:-1]):
                clause = (F.col(c) == head[i]) & clause
            pred = clause if pred is None else (pred | clause)
        old_hit = old.filter(pred)
        merged = old_hit.join(anti, on=keys,
                              how="left_anti").unionByName(new)
        merged = _spread(merged)

        tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite") \
              .partitionBy(*partition_by).parquet(tmp)
    finally:
        new.unpersist()
    _await_gate(tmp, path, commit_gate, commit_abort)
    # swap ONLY the affected partition subdirs into place (per-dir
    # atomic rename — the parquet analog of Iceberg's partition-level
    # snapshot commit), walking the partition tree to the leaf level
    # an affected tuple whose merged output is EMPTY (all rows deleted)
    # produces no dir in tmp — note those BEFORE the swap empties tmp,
    # and remove the stale target dirs after it. Partition values here
    # are plain tokens/ints (contract), so the dir name is the literal
    # col=value join.
    emptied = []
    for r in affected:
        rel = [f"{c}={r[i]}" for i, c in enumerate(partition_by)]
        if not os.path.exists(os.path.join(tmp, *rel)):
            emptied.append(rel)
    _swap_partition_dirs(tmp, path, partition_by)
    for rel in emptied:
        if os.path.exists(os.path.join(path, *rel)):
            shutil.rmtree(os.path.join(path, *rel))
    shutil.rmtree(tmp, ignore_errors=True)


def _swap_partition_dirs(tmp: str, path: str,
                         partition_by: list[str]) -> None:
    """Move every `col=value` leaf dir from tmp into path (per-dir
    atomic os.replace), recursing through multi-level partitioning.

    Per leaf, the OLD dir is first renamed into a root-level
    `_mswap_old_<id>` helper ('_'-prefixed — invisible to Spark's file
    index, same convention as the compaction helpers) and only then
    replaced — no instant holds a leaf's only copy in a deletable
    location (the naive rmtree-then-rename had an O(files) window per
    leaf where a crash silently lost every unaffected key in that
    bucket). The helper is removed after all leaves land;
    `_recover_merge_swap` at merge/read entry heals a crash at any
    point. A crash mid-swap can leave the table with a MIX of old and
    new leaves — safe, because lineage was never stamped, so the merge
    re-runs the same delta and keyed upserts converge idempotently."""
    aside = os.path.join(path, f"_mswap_old_{uuid.uuid4().hex[:8]}")

    def walk(src_dir: str, dst_dir: str, level: int) -> None:
        pcol = partition_by[level]
        for entry in os.listdir(src_dir):
            if not entry.startswith(f"{pcol}="):
                continue
            src = os.path.join(src_dir, entry)
            dst = os.path.join(dst_dir, entry)
            if level + 1 < len(partition_by):
                os.makedirs(dst, exist_ok=True)
                walk(src, dst, level + 1)
            else:
                if os.path.exists(dst):
                    keep = os.path.join(aside,
                                        os.path.relpath(dst, path))
                    os.makedirs(os.path.dirname(keep), exist_ok=True)
                    os.replace(dst, keep)
                os.replace(src, dst)

    walk(tmp, path, 0)
    shutil.rmtree(aside, ignore_errors=True)


def _recover_merge_swap(path: str) -> None:
    """Heal a crash inside `_swap_partition_dirs`: every leaf stranded
    in a `_mswap_old_*` helper either returns to its place (its
    replacement never landed) or is dropped (it did — the rename-in
    for that leaf completed before the crash)."""
    if not os.path.isdir(path):
        return
    for entry in os.listdir(path):
        if not entry.startswith("_mswap_old_"):
            continue
        base = os.path.join(path, entry)
        for dirpath, _dirs, files in os.walk(base, topdown=False):
            if not files:
                continue
            rel = os.path.relpath(dirpath, base)
            dst = os.path.join(path, rel)
            if not os.path.exists(dst):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(dirpath, dst)
        shutil.rmtree(base, ignore_errors=True)


def compact_table(spark: SparkSession, path: str,
                  partition_by: list[str] | None = None,
                  small_file_bytes: int = 32 * 1024 * 1024,
                  target_files: int = 1) -> dict:
    """Maintenance compaction — the Iceberg `rewrite_data_files`
    analog. Parallel-encoded sinks (merge_upsert's fanout salt, the
    write-aligned aggregation's agg_salt) deliberately leave several
    files per partition directory to keep encode parallelism at write
    time; a periodic compaction folds each SMALL-FILE directory back
    to `target_files`, amortized off the ingest hot path exactly the
    way table-format maintenance jobs are.

    Only leaf directories whose files are all under `small_file_bytes`
    AND hold more than `target_files` files are rewritten; everything
    else is untouched — byte-stable, like merge_upsert's pruning
    contract. Returns {dirs_compacted, files_before, files_after} so
    callers can assert the no-op case.

    Crash safety (no window ever holds the ONLY copy of a leaf in a
    deletable location): per leaf, the compacted data is written to a
    root-level `_compact_tmp_<id>` helper ('_'-prefixed — invisible to
    Spark's file index), the ORIGINALS are moved aside into
    `_compact_old_<id>` (renames, never deletes), a `_commit` marker
    flips the transaction, the compacted data moves into place, and
    only then are the helpers removed. `_recover_compaction` at entry
    rolls an interrupted pass BACK (no marker: originals restored)
    or FORWARD (marker present: compacted data lands) — the
    rewrite_data_files snapshot-commit protocol in directory form."""
    def _leaf_dirs(root: str, level: int) -> list[str]:
        if level == 0:
            return [root]
        out = []
        for entry in os.listdir(root):
            full = os.path.join(root, entry)
            if os.path.isdir(full) and "=" in entry:
                out.extend(_leaf_dirs(full, level - 1))
        return out

    levels = len(partition_by) if partition_by else 0
    stats = {"dirs_compacted": 0, "files_before": 0, "files_after": 0}
    _recover_compaction(path)
    for leaf in _leaf_dirs(path, levels):
        files = [os.path.join(leaf, f) for f in os.listdir(leaf)
                 if f.endswith(".parquet")]
        stats["files_before"] += len(files)
        if len(files) <= target_files or \
                any(os.path.getsize(f) >= small_file_bytes for f in files):
            stats["files_after"] += len(files)
            continue
        cid = uuid.uuid4().hex[:8]
        tmp = os.path.join(path, f"_compact_tmp_{cid}")
        old = os.path.join(path, f"_compact_old_{cid}")
        rel = os.path.relpath(leaf, path)
        dest = tmp if rel == "." else os.path.join(tmp, rel)
        # 1) write the compacted copy into the helper
        spark.read.parquet(*files).coalesce(target_files) \
            .write.mode("overwrite").parquet(dest)
        marker = os.path.join(dest, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)  # the table root keeps its own marker
        # 2) move the originals ASIDE (renames — the data always
        # exists somewhere on disk)
        if rel == ".":
            os.makedirs(old, exist_ok=True)
            for f in files:
                os.rename(f, os.path.join(old, os.path.basename(f)))
        else:
            os.makedirs(os.path.dirname(os.path.join(old, rel)) or old,
                        exist_ok=True)
            os.rename(leaf, os.path.join(old, rel))
        # 3) commit point, then land the compacted copy
        open(os.path.join(tmp, "_commit"), "w").close()
        _finish_compaction(path, tmp, old)
        stats["dirs_compacted"] += 1
        stats["files_after"] += len(
            [f for f in os.listdir(leaf) if f.endswith(".parquet")])
    return stats


def _finish_compaction(path: str, tmp: str, old: str) -> None:
    """Roll a committed compaction forward: move every data file under
    tmp (skipping the `_commit` marker) to its place under `path`,
    then retire both helpers. Idempotent — safe to re-run after a
    crash at any point past the commit marker."""
    for dirpath, _dirs, files in os.walk(tmp):
        rel = os.path.relpath(dirpath, tmp)
        target = path if rel == "." else os.path.join(path, rel)
        os.makedirs(target, exist_ok=True)
        for f in files:
            if f == "_commit":
                continue
            os.replace(os.path.join(dirpath, f), os.path.join(target, f))
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def _recover_compaction(path: str, deep: bool = True) -> None:
    """Entry-point recovery for interrupted compactions: committed
    passes (tmp carries `_commit`) roll FORWARD; uncommitted ones roll
    BACK (the moved-aside originals return to their leaves, the tmp is
    discarded). With `deep`, stray '_compact_tmp_*' dirs anywhere
    deeper in the tree (no paired old-aside — they never held the only
    copy) are also swept; merge_upsert calls with deep=False so its
    pre-read recovery costs one root listdir when nothing is pending.
    All helper dirs are '_'-prefixed, so residue is invisible to
    readers throughout."""
    for entry in list(os.listdir(path)) if os.path.isdir(path) else []:
        if not entry.startswith("_compact_tmp_"):
            continue
        cid = entry[len("_compact_tmp_"):]
        tmp = os.path.join(path, entry)
        old = os.path.join(path, f"_compact_old_{cid}")
        if os.path.exists(os.path.join(tmp, "_commit")):
            _finish_compaction(path, tmp, old)
        else:
            _restore_aside(path, old)
            shutil.rmtree(tmp, ignore_errors=True)
    # old-aside without its tmp (crash between helper creations, or a
    # partial cleanup): originals go back
    for entry in list(os.listdir(path)) if os.path.isdir(path) else []:
        if entry.startswith("_compact_old_"):
            _restore_aside(path, os.path.join(path, entry))
    # legacy/deep residue: tmp dirs beside leaves never pair with an
    # old-aside, so deleting them is always safe
    if not deep:
        return
    for dirpath, dirnames, _files in os.walk(path):
        for d in list(dirnames):
            if d.startswith("_compact_tmp_") and dirpath != path:
                shutil.rmtree(os.path.join(dirpath, d),
                              ignore_errors=True)
                dirnames.remove(d)


def _restore_aside(path: str, old: str) -> None:
    """Return moved-aside originals to their leaves (rollback). Files
    already present at the destination win (they are either the same
    originals from a partial restore, or a completed leaf)."""
    if not os.path.exists(old):
        return
    for dirpath, _dirs, files in os.walk(old):
        rel = os.path.relpath(dirpath, old)
        target = path if rel == "." else os.path.join(path, rel)
        os.makedirs(target, exist_ok=True)
        for f in files:
            dst = os.path.join(target, f)
            if not os.path.exists(dst):
                os.rename(os.path.join(dirpath, f), dst)
    shutil.rmtree(old, ignore_errors=True)
