"""End-to-end pipeline: extract → triples → link → canonicalize →
materialize, with per-stage lineage and resume.

The batch re-expression of guac's `guacone collect files` lifecycle
(/root/reference/cmd/guacone/cmd/files.go:59-180 → collector →
processor → parser → assembler, SURVEY.md §3.1). Stage boundaries are
durable tables (Iceberg at scale, parquet here) instead of NATS
subjects (pkg/emitter/nats_emitter.go:31-42); a re-run skips stages
whose lineage fingerprint is already complete — the durable-consumer
resume semantics.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guackg import io as gio
from guackg.cc import connected_components
from guackg.extract import extract, valid_col
from guackg.lineage import Lineage
from guackg.link import (DRIVER_LINK_MAX_VOCAB, advisory_edges,
                         equivalence_edges_from_links, identifier_candidates,
                         link_mentions, link_mentions_driver,
                         mention_frequencies)
from guackg.materialize import (build_edges, build_nodes,
                                page_map_fits_broadcast,
                                page_mention_edges, page_node_rows,
                                resolve_triples)
from guackg.triples import (EXTRACTOR_VERSION, SAME_AS_PRED,
                            extract_triples)

STAGES = ("extract", "triples", "link", "canonicalize", "materialize")
PIPELINE_VERSION = "0.6"  # bump invalidates lineage of older layouts


def _fingerprint(*parts: object) -> str:
    return "|".join(str(p) for p in parts)


def _content_fp(df: DataFrame, cols: list[str]) -> str:
    """Order-insensitive content fingerprint of a small side input
    (row count + xxhash64 sum over the identity columns; decimal sum
    dodges ANSI long overflow). The Iceberg analog is the side
    table's snapshot id — callers that have one pass it instead via
    `dict_version` and skip this one tiny job."""
    row = df.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h")).collect()[0]
    return f"{row['n']}:{row['h']}"


class KGPipeline:
    """Orchestrates the five stages over a working directory.

    `stages` lets a caller run a prefix (the kill-and-resume fixture,
    FIXTURES.md §7): a later invocation with all stages skips the
    completed prefix via lineage fingerprints.
    """

    def __init__(self, spark: SparkSession, workdir: str) -> None:
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.lineage = Lineage(workdir)
        # wall seconds per stage (compute+write), the ingest-stats
        # analog (ingestor.go:67-69); populated by run()
        self.stage_secs: dict[str, float] = {}

    def _out(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _run_stage(self, name: str, fingerprint: str, compute,
                   partition_by: list[str] | None = None) -> DataFrame:
        path = self._out(name)
        if self.lineage.completed(name, fingerprint) and gio.table_exists(path):
            return gio.read_table(self.spark, path)
        t0 = time.time()
        df = compute()
        gio.write_table(df, path, partition_by)
        out = gio.read_table(self.spark, path)
        self.lineage.record(name, fingerprint, out, table_path=path)
        self.stage_secs[name] = round(time.time() - t0, 2)
        return out

    def run(
        self,
        pages: DataFrame,
        alias_dict: DataFrame,
        assertions: DataFrame | None = None,
        stages: tuple[str, ...] = STAGES,
        input_fingerprint: str = "",
        include_page_graph: bool = True,
        dict_version: str | None = None,
    ) -> dict[str, DataFrame]:
        """Stages whose outputs nothing downstream consumes (tombstones,
        identifier_candidates, the nodes merge) run on CONCURRENT Spark
        job threads: their tasks fill the cores the main chain leaves
        idle at shuffle barriers and during driver-side commits. Work
        is conserved — on one core the wall clock is unchanged; on a
        real cluster the side stages' seconds disappear entirely. The
        only ordering the reference requires — nodes commit before
        edges commit (bulk.go:29-191) — is kept via the sink's
        commit_gate (compute in parallel, commit in order)."""
        self._threads: list[threading.Thread] = []
        self._errors: list[BaseException] = []
        self._async = self._side_stages_async()
        try:
            return self._run(pages, alias_dict, assertions, stages,
                             input_fingerprint, include_page_graph,
                             dict_version)
        finally:
            for t in self._threads:
                t.join()
            if self._errors:
                raise self._errors[0]

    def _side_stages_async(self) -> bool:
        """Overlap policy, decided by executor topology. Multi-executor
        deployments (local-cluster here; yarn/k8s/standalone on a real
        cluster) leave cores idle at the main chain's shuffle barriers
        and driver-side commits — side stages fill them (measured:
        −30 s wall at 4×1-core executors). A single-JVM `local[n]`
        master has no idle-core story: all task slots share one heap,
        GC, and memory bus, and concurrent jobs add contention instead
        of utilization (measured: +39 s wall at local[32] — tiny
        JVM-side stages inflated 4-6× while time-sharing with the
        heavy chain). GUACKG_SYNC_STAGES=1/0 forces either mode."""
        env = os.environ.get("GUACKG_SYNC_STAGES")
        if env in ("0", "1"):
            return env == "0"
        # single-JVM masters: bare "local" (ONE task slot — the worst
        # possible place for concurrent jobs) and "local[...]";
        # "local-cluster[...]" and real cluster URLs are multi-JVM
        m = self.spark.sparkContext.master
        return not (m == "local" or m.startswith("local["))

    def _spawn(self, fn) -> threading.Thread | None:
        if not self._async:
            fn()          # single-JVM master: run side stages inline
            return None
        def _worker():
            try:
                fn()
            except BaseException as e:  # propagated by run()'s finally
                self._errors.append(e)
        t = threading.Thread(target=_worker, daemon=True)
        t.start()
        self._threads.append(t)
        return t

    def _run(
        self,
        pages: DataFrame,
        alias_dict: DataFrame,
        assertions: DataFrame | None,
        stages: tuple[str, ...],
        input_fingerprint: str,
        include_page_graph: bool,
        dict_version: str | None = None,
    ) -> dict[str, DataFrame]:
        fp_base = _fingerprint(PIPELINE_VERSION, EXTRACTOR_VERSION,
                               input_fingerprint)
        # Side-input identity: the link stage (and everything
        # downstream of it) is a function of the alias DICTIONARY and
        # the equivalence ASSERTIONS too, not just the corpus — the
        # §3.3 enrichment cycle re-runs the same corpus with a grown
        # dictionary, and a fingerprint that ignored it would skip
        # `link` and serve stale links. fp_base deliberately excludes
        # them so extract/triples still resume across enrichment.
        dict_fp = dict_version if dict_version is not None else \
            _content_fp(alias_dict, ["surface", "canonical_key"])
        asrt_fp = "none" if assertions is None else \
            _content_fp(assertions, ["key_a", "key_b"])
        out: dict[str, DataFrame] = {}

        if "extract" in stages:
            def _extract():
                # ONE Python pass: materialize all rows + validity flag;
                # ok/quarantine are filters over the written table (the
                # UDF is the most expensive stage — never run it twice).
                # page_sha256 (the T10 HasSBOM-digest identity) rides
                # along here because this is the ONLY pass that reads
                # the raw blobs — computing it later would re-scan the
                # whole html corpus just for the hash.
                return extract(pages).select(
                    "url", "warc_ts", "lang", "extracted_text",
                    valid_col().alias("valid"),
                    F.sha2(F.col("html"), 256).alias("page_sha256"))
            full = self._run_stage(
                "extract", _fingerprint(fp_base, "extract"), _extract)
            out["extracted"] = full.filter(F.col("valid")).select(
                "url", "warc_ts", "lang", "extracted_text")
            out["quarantine"] = full.filter(~F.col("valid"))
            # (url → page document identity), reused by the page graph
            # below — a 2-column read of the extract table, NOT a
            # second scan of the raw blobs
            out["page_identity"] = full.select("url", "warc_ts",
                                               "page_sha256")
        else:
            return out

        if "triples" in stages:
            # ONE parser pass writes every dialect's output; mention
            # triples and advisory `same_as` assertions (the
            # VulnEqual/PkgEqual equality ingest,
            # assembler.go:99-103) are filters over the written table
            # — assertions feed the canonicalizer, never edges.
            parsed = self._run_stage(
                "triples", _fingerprint(fp_base, "triples"),
                lambda: extract_triples(out["extracted"]))
            out["triples"] = parsed.filter(F.col("pred") != SAME_AS_PRED)
            out["advisory"] = parsed.filter(F.col("pred") == SAME_AS_PRED)
            # T4 tombstones: pages that were scanned (valid, en) but
            # yielded ZERO triples — guac's noVuln "scanned and clean"
            # rows (parser/vuln/vuln.go:65-168), so 'clean' is
            # distinguishable from 'never scanned' (non-en pages are
            # never scanned and are NOT tombstoned).
            def _tombstones():
                # keyed per SNAPSHOT (url, warc_ts), not url alone: a
                # re-crawl of a url whose earlier snapshot yielded
                # triples must still be tombstoned when ITS text is
                # clean, or 'scanned and clean' collapses back into
                # 'never scanned' for that snapshot
                scanned = out["extracted"].filter(F.col("lang") == "en") \
                    .select("url", "warc_ts")
                # anti-join the FULL parsed output (mentions AND
                # advisory assertions): an advisory page yielded
                # output, so it is not 'scanned and clean'
                return (scanned
                        .join(parsed
                              .select("url", "warc_ts").distinct(),
                              on=["url", "warc_ts"], how="left_anti")
                        .withColumn("extractor", F.lit(EXTRACTOR_VERSION))
                        .withColumn("reason", F.lit("no_mentions")))
            # no downstream stage consumes tombstones → side thread
            self._spawn(lambda: out.__setitem__(
                "tombstones",
                self._run_stage("tombstones",
                                _fingerprint(fp_base, "tombstones"),
                                _tombstones)))
        else:
            return out

        if "link" in stages:
            # ONE pass over the O(mentions) stream: the frequency
            # table feeds both the linker (distinct vocabulary) and
            # the identifier side-channel (counts) — previously each
            # consumer re-scanned and re-aggregated the exploded
            # surface stream (2× the triple count) independently.
            out["mention_freq"] = self._run_stage(
                "mention_freq", _fingerprint(fp_base, "mention_freq"),
                lambda: mention_frequencies(out["triples"]))

            def _link():
                mentions = out["mention_freq"].select("norm")
                # adaptive small-side rule (cc.py's union-find analog):
                # the EXACT vocabulary size is already in the
                # mention_freq lineage record, so a web-scale
                # vocabulary goes straight to the distributed LSH path;
                # otherwise the driver linker's bounded collects size
                # the inputs and a bench-scale vocabulary links on the
                # driver (exact Jaccard, identical contract) instead of
                # paying ~10 tiny-stage barriers.
                rec = self.lineage.read("mention_freq")
                res = None
                if rec and rec["total_rows"] <= DRIVER_LINK_MAX_VOCAB:
                    res = link_mentions_driver(mentions, alias_dict)
                links, _ = res or link_mentions(mentions, alias_dict)
                return links
            out["links"] = self._run_stage(
                "link", _fingerprint(fp_base, "link", dict_fp), _link)
            # derived from the MATERIALIZED links — a projection, not a
            # second run of the broadcast/LSH linking DAG. Runs under
            # its own lineage fingerprint (same fp_base) so a new
            # input fingerprint recomputes it alongside the link stage
            # — mere table existence is NOT enough (a stale edges
            # table from a prior ingest must not feed canonicalize).
            out["equivalence_edges"] = self._run_stage(
                "equivalence_edges",
                _fingerprint(fp_base, "equivalence_edges", dict_fp),
                lambda: equivalence_edges_from_links(out["links"]))
            # S9/T12 identifier side-channel: unresolved surfaces +
            # mention counts, posted for later dictionary enrichment
            # (the collectsub feedback loop, ingestor.go:168-180)
            # feedback side-channel only — nothing downstream reads it
            self._spawn(lambda: out.__setitem__(
                "identifier_candidates",
                self._run_stage(
                    "identifier_candidates",
                    _fingerprint(fp_base, "identifier_candidates", dict_fp),
                    lambda: identifier_candidates(
                        out["links"], freq=out["mention_freq"]))))
        else:
            return out

        if "canonicalize" in stages:
            def _cc():
                equiv = out["equivalence_edges"].select("key_a", "key_b")
                # parser-asserted equality (the advisory dialect)
                # merges components exactly like linker edges and
                # caller-supplied assertions do
                equiv = equiv.unionByName(
                    advisory_edges(out["advisory"], out["links"])
                    .select("key_a", "key_b"))
                if assertions is not None:
                    equiv = equiv.unionByName(
                        assertions.select(F.col("key_a"), F.col("key_b")))
                return connected_components(equiv)
            out["components"] = self._run_stage(
                "canonicalize",
                _fingerprint(fp_base, "canonicalize", dict_fp, asrt_fp),
                _cc)
        else:
            return out

        if "materialize" in stages:
            def _resolve():
                return resolve_triples(out["triples"], out["links"],
                                       out["components"])
            out["triples_resolved"] = self._run_stage(
                "materialize",
                _fingerprint(fp_base, "materialize", dict_fp, asrt_fp),
                _resolve)
            # T9/T10: page document nodes (sha256 identity) and
            # page→entity `mentions` edges land in the SAME nodes/
            # edges tables, but via their own pre-aggregated rows —
            # partitioned under pred=mentions / kind=page, so the
            # merge's partition pruning keeps predicate queries and
            # the entity-node dedup unaffected by the page graph.
            page_keys = None
            if include_page_graph:
                page_keys = out["page_identity"].select(
                    "url", "warc_ts",
                    F.concat(F.lit("page:"), F.col("page_sha256"))
                    .alias("page_key"))
            # Redelivery dedup for the graph sink: if THIS exact batch
            # (same fp_base, same page-graph flag) already merged, skip
            # both merges — the reference drops already-processed docs
            # at the ingestor the same way (ingestor.go:109-121), so a
            # crashed-after-commit replay costs a lineage read, not a
            # full re-merge. A new input_fingerprint (real increment)
            # changes fp_base and takes the O(delta) merge path.
            merge_fp = _fingerprint(fp_base, "graph_merge", dict_fp, asrt_fp,
                                    include_page_graph)
            if (self.lineage.completed("graph_merge", merge_fp)
                    and gio.table_exists(self._out("nodes"))
                    and gio.table_exists(self._out("edges"))):
                out["nodes"] = gio.read_table(self.spark,
                                              self._out("nodes"))
                out["edges"] = gio.read_table(self.spark,
                                              self._out("edges"))
                return out
            # nodes COMMIT before edges COMMIT — the assembler's fixed
            # write order (bulk.go:29-191) — but the two merges COMPUTE
            # concurrently: the nodes job runs on a side thread and the
            # edge sink's commit_gate holds the edges swap until the
            # nodes table is visible.
            nodes_gate = threading.Event()
            # failure side of the gate: set BEFORE the gate releases
            # when the nodes merge failed, so the edges sink aborts its
            # swap instead of committing edges over missing/stale nodes
            # (the nodes-before-edges visibility invariant holds on the
            # failure path too — never only on success)
            nodes_failed = threading.Event()

            def _nodes_merge():
                t0 = time.time()
                try:
                    nodes = build_nodes(out["triples_resolved"],
                                        out["components"])
                    if page_keys is not None:
                        nodes = nodes.unionByName(page_node_rows(page_keys))
                    # assume_unique: build_nodes dedups on canonical_key
                    # and the page: namespace is disjoint from every
                    # entity namespace. fanout: kind has cardinality
                    # O(10) and the sink now spreads single-level
                    # partitioning too, so without a salt the write
                    # would serialize into one task per kind
                    gio.merge_upsert(self.spark, nodes, self._out("nodes"),
                                     keys=["canonical_key"],
                                     partition_by=["kind"],
                                     assume_unique=True,
                                     fanout=max(1, min(
                                         8, self.spark.sparkContext
                                         .defaultParallelism)))
                    self.stage_secs["nodes_merge"] = round(time.time() - t0, 2)
                except BaseException:
                    nodes_failed.set()   # ordering: abort before gate
                    raise                # recorded by _spawn's worker
                finally:
                    # set even on failure so the edges thread can't hang
                    nodes_gate.set()

            nodes_thread = self._spawn(_nodes_merge)
            t0 = time.time()
            # Bucket COUNT is a deploy-time constant sized to keep
            # bucket files near the parquet row-group sweet spot
            # (~10^5-10^6 rows/bucket-per-pred): 32 default; a local
            # bench corpus uses fewer, a 100-TB table thousands. It
            # must stay FIXED for a table's lifetime — changing it
            # moves keys across partition dirs and breaks the
            # merge_upsert pruning contract, so the count is pinned in
            # a sidecar and a drifted env var fails loudly
            # (io.edge_bucket_count).
            n_buckets = gio.edge_bucket_count(self._out("edges"))
            # write-aligned build: both edge branches hash-distribute
            # on their (pred, bucket) sink tuple up front, so the
            # distinct aggregations AND the partitioned write all ride
            # ONE exchange per branch (see build_edges docstring)
            edges = build_edges(out["triples_resolved"],
                                n_buckets=n_buckets)
            if page_keys is not None:
                # broadcast the url→page map only when the EXACT row
                # count from the extract stage's lineage bounds it
                # under the broadcast budget (~150 B/row of url + ts +
                # 'page:'+sha key). Real stats, not Catalyst's
                # estimate — see page_mention_edges' contract.
                ext_rec = self.lineage.read("extract")
                bcast_map = page_map_fits_broadcast(
                    ext_rec["total_rows"] if ext_rec else 0)
                # widen the mentions branch's single exchange when the
                # cluster has more cores than the table has buckets
                # (key-deterministic salt — see page_mention_edges)
                cores = self.spark.sparkContext.defaultParallelism
                salt = max(1, -(-cores // n_buckets))
                edges = edges.unionByName(
                    page_mention_edges(out["triples_resolved"], page_keys,
                                       broadcast_page_map=bcast_map,
                                       n_buckets=n_buckets,
                                       agg_salt=salt))
            probe = os.environ.get("GUACKG_STAGE_PROBE") == "1"
            if probe:
                # diagnostic split (probe-only): force the edge BUILD
                # (aggs + joins) separately from the merge/write so
                # stage_secs shows where edges_merge's seconds live
                edges = edges.persist()
                edges.count()
                self.stage_secs["edges_build"] = round(time.time() - t0, 2)
                t0 = time.time()
            # assume_unique: both branches are groupBys on the edge key
            # and pred='mentions' is disjoint from the predicate vocab.
            # Two-level partitioning (pred, bucket(subj_key)): pred has
            # cardinality O(10) and 'mentions' holds ~80% of all edges,
            # so pruning on pred alone rewrites most of the table per
            # increment — the subj_key hash bucket (key-derived, so a
            # key never moves partitions) prunes rewrites to the
            # buckets the delta actually touches (round-2 finding #3).
            # pre_distributed: the write-aligned build above already
            # hash-distributed each branch on its partition tuple, so
            # the first write encodes straight out of the aggregation
            # (no sink spread). Incremental merges still respread the
            # old∪new union; fanout salts their jumbo-dir encodes.
            fanout = gio.merge_fanout(self.spark)
            gio.merge_upsert(self.spark, edges, self._out("edges"),
                             keys=["subj_key", "pred", "obj_key"],
                             partition_by=["pred", "bucket"],
                             assume_unique=True, fanout=fanout,
                             pre_distributed=True,
                             commit_gate=nodes_gate,
                             commit_abort=nodes_failed)
            self.stage_secs["edges_merge"] = round(time.time() - t0, 2)
            if probe:
                # release the diagnostic cache: repeated runs in one
                # session (the bench loop) would otherwise accumulate
                # a full pre-merge edge build per run
                edges.unpersist()
            # join the nodes thread BEFORE recording graph_merge: the
            # lineage row asserts both merges committed, and the error
            # append in the worker races the gate otherwise
            if nodes_thread is not None:
                nodes_thread.join()
            if nodes_failed.is_set() or self._errors:
                raise (self._errors[0] if self._errors
                       else RuntimeError("nodes merge failed"))
            out["nodes"] = gio.read_table(self.spark, self._out("nodes"))
            out["edges"] = gio.read_table(self.spark, self._out("edges"))
            self.lineage.record("graph_merge", merge_fp, out["edges"],
                                table_path=self._out("edges"))
        return out
