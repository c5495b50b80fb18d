"""The benchmark's workloads.

Inputs come from `guackg.testing.gen`: page i of a run is
`gen_page(i, seed)`, the same index-to-page map `spark_generate_pages`
uses, so the golden triples and golden text are derived from the
generator and never from the pipeline. The program receives only the
page table (url, warc_ts, html, lang); the generator's `text` column
stays with the checks.

Each repetition of a workload's operation runs in a fresh working
directory. The first one in a run is also the first in its JVM: on a
4-vCPU host it runs about twice as slow as later ones, from class
loading, Python worker start and code generation, whatever its input
size (a 40-page KG build cold takes 29 s, warm 16 s; a 300-page one
warm takes 15 s).
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd

from guackg.testing.gen import PAGE_COLS, gen_page, generate_corpus

# Input sizes, fitted so one run (JVM start, set-up and one timed
# repetition) takes 40-50 s on a 4-vCPU host, which keeps a full
# measurement of the three workloads (4 + 22 x 3 runs) under 3420 s.
# At these sizes every operation is dominated by per-job fixed costs,
# so larger inputs would cost little.
KG_PAGES = 300
CLEAN_DOCS = 200
QUERY_PAGES = 100     # pages of the KG that kg_query queries
RESUMES = 1           # same-fingerprint re-runs per build, each checked
MIN_PRECISION = MIN_RECALL = 0.95
# clean_corpus's default near-dup threshold; a pair this far above it
# is found by MinHash-LSH with near certainty, so never both kept
NEAR_THRESHOLD = 0.8
SURE_DUP = 0.9
# kg_query: both graphs, and the ops of one round on each
SIDES = ("full", "entity")
TRAVERSALS = ("neighbors", "reachable_from", "blast_radius", "bfs_path")
ANALYTICS = ("degree_stats", "pagerank", "k_core", "toposort_levels")
GRAPH_OPS = TRAVERSALS + ANALYTICS
MAX_DEPTH = 2          # reachable_from and blast_radius
PATH_DEPTH = 2         # bfs_path, over both edge directions
PAGERANK_ITERATIONS = 1


def _span(tracer, name: str, layer: str):
    return tracer.span(name, layer) if tracer else contextlib.nullcontext()


def _data_files(root: str):
    """Parquet data files of a table as Spark's file index sees them
    ('_' and '.' prefixed directories are invisible)."""
    for r, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.endswith(".parquet"):
                yield os.path.join(r, fn)


def table_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def read_columns(path: str, columns: list[str]) -> dict[str, list]:
    import pyarrow.parquet as pq
    tables = [pq.read_table(f, columns=columns)
              for f in sorted(_data_files(path))]
    return {c: [v for t in tables for v in t.column(c).to_pylist()]
            for c in columns}


@dataclass
class OpResult:
    wall_s: float
    items: int
    workdir: str
    failures: list[str] = field(default_factory=list)
    attempted: int = 1
    info: dict = field(default_factory=dict)


class Workload:
    """`generate` builds the inputs and golden data in Python;
    `prepare` writes the inputs through Spark."""

    name = ""

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self._n = 0

    def build_base(self) -> float:
        """Seconds building a base KG in set-up (only kg_query has one)."""
        return 0.0

    def fresh_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{self.name}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def pages(self, n: int) -> pd.DataFrame:
        """Pages 0..n-1 of this seed, with golden triples and text."""
        rows, golden, text = [], set(), {}
        for i in range(n):
            r = gen_page(i, self.seed)
            for g in r.pop("_golden"):
                golden.add((g["url"], g["subj_key"], g["pred"],
                            g["obj_key"]))
            text[r["url"]] = r["text"]
            rows.append(r)
        self.golden_triples, self.golden_text = golden, text
        return pd.DataFrame(rows, columns=PAGE_COLS)

    def write_input(self, pdf: pd.DataFrame, name: str, schema):
        """The input table as one parquet file per core, written with
        pyarrow and opened through Spark with its schema given, so
        set-up runs no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
        path = os.path.join(self.work, name)
        os.makedirs(path)
        n = len(os.sched_getaffinity(0))
        for i in range(n):
            part = pdf.iloc[i * len(pdf) // n:(i + 1) * len(pdf) // n]
            pq.write_table(
                pa.Table.from_pandas(part, schema=schema,
                                     preserve_index=False),
                os.path.join(path, f"part-{i:05d}.parquet"))
        return self.spark.read.schema(from_arrow_schema(schema)) \
            .parquet(path)

    def cleanup(self, result: OpResult) -> None:
        shutil.rmtree(result.workdir, ignore_errors=True)

    def trace_extras(self, rep, res: OpResult) -> None:
        """Counters a traced repetition reads from its outputs before
        the workdir is removed."""
        rep.rows = {path: table_rows(path) for path in rep.tables}


class KGBuild(Workload):
    """A cold KGPipeline.run over a seeded page table into a fresh
    workdir, then same-fingerprint re-runs that must skip every stage."""

    name = "kg_build"

    def generate(self) -> None:
        self.fixtures = generate_corpus(0)
        self.pdf = self.pages(KG_PAGES)[["url", "warc_ts", "html", "lang"]]
        self.fingerprint = f"perfbench:{self.seed}:{KG_PAGES}"

    def prepare(self, spark) -> None:
        import pyarrow as pa
        self.spark = spark
        self.alias = spark.createDataFrame(self.fixtures["alias_dict"])
        self.assertions = spark.createDataFrame(self.fixtures["assertions"])
        self.page_table = self.write_input(self.pdf, "pages", pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", "UTC")),
            ("html", pa.binary()), ("lang", pa.string())]))

    def op(self, tracer) -> OpResult:
        from guackg.pipeline import KGPipeline
        wd = self.fresh_dir()
        t0 = time.perf_counter()
        KGPipeline(self.spark, wd).run(
            self.page_table, self.alias, self.assertions,
            input_fingerprint=self.fingerprint)
        res = OpResult(time.perf_counter() - t0, 0, wd,
                       attempted=1 + RESUMES)
        res.info["resume_s"] = []
        for _ in range(RESUMES):
            t0 = time.perf_counter()
            again = KGPipeline(self.spark, wd)
            again.run(self.page_table, self.alias, self.assertions,
                      input_fingerprint=self.fingerprint)
            res.info["resume_s"].append(time.perf_counter() - t0)
            if again.stage_secs:
                res.failures.append(
                    f"re-run did not skip {sorted(again.stage_secs)}")
        preds = read_columns(os.path.join(wd, "triples"), ["pred"])["pred"]
        res.items = sum(1 for p in preds if p != "same_as")
        res.failures += self.check(wd, res.info)
        return res

    def check(self, wd: str, info: dict) -> list[str]:
        failures = []
        cols = ["url", "subj_key", "pred", "obj_key"]
        got = read_columns(os.path.join(wd, "materialize"), cols)
        emitted = set(zip(*(got[c] for c in cols)))
        hit = len(emitted & self.golden_triples)
        precision = hit / max(len(emitted), 1)
        recall = hit / max(len(self.golden_triples), 1)
        info.update(precision=precision, recall=recall)
        if precision < MIN_PRECISION or recall < MIN_RECALL:
            failures.append(f"triple P={precision:.4f} R={recall:.4f}")
        ext = read_columns(os.path.join(wd, "extract"),
                           ["url", "extracted_text", "valid"])
        valid = [(u, t) for u, t, v in zip(ext["url"], ext["extracted_text"],
                                           ext["valid"]) if v]
        bad = [u for u, t in valid if t != self.golden_text.get(u)]
        if not valid or bad:
            failures.append(f"extracted_text differs from the generator "
                            f"on {len(bad)} of {len(valid)} valid pages")
        if sorted(ext["url"]) != sorted(self.golden_text):
            failures.append("extract table does not hold one row per page")
        return failures

    def trace_extras(self, rep, res: OpResult) -> None:
        super().trace_extras(rep, res)
        wd = res.workdir
        rep.extra["link.vocab_rows"] = table_rows(
            os.path.join(wd, "mention_freq"))
        methods = read_columns(os.path.join(wd, "link"), ["method"])["method"]
        rep.extra["link.linked_frac"] = (
            sum(1 for m in methods if m != "fallback") / max(len(methods), 1))
        rep.extra["cc.input_edges"] = sum(df.count() for df in rep.cc_inputs)
        # every timed build starts from an empty workdir, so each file
        # of the edges table was written by this repetition
        files = list(_data_files(os.path.join(wd, "edges")))
        rep.extra["io.edges_merge.files_written"] = len(files)
        rep.extra["io.edges_merge.bytes_written"] = sum(
            os.path.getsize(f) for f in files)


class GraphRef:
    """Plain-Python answers to kg_query's graph queries over one edge
    list, written from the semantics guackg.graph documents (every
    tie-break is a lexicographic minimum, so each answer is a pure
    function of the edge list), not from its code."""

    def __init__(self, rows: list[tuple[str, str, str]]) -> None:
        self.rows = rows
        self.pairs = sorted({(s, o) for s, _, o in rows})
        self.typed = sorted({(s, o, p) for s, p, o in rows})
        self.out: dict[str, list[str]] = collections.defaultdict(list)
        self.both: dict[str, set[str]] = collections.defaultdict(set)
        for s, o in self.pairs:
            self.out[s].append(o)
            self.both[s].add(o)
            self.both[o].add(s)
        self.out_typed: dict[str, list[tuple[str, str]]] = \
            collections.defaultdict(list)
        for s, o, p in self.typed:
            self.out_typed[s].append((o, p))

    def neighbors(self, key: str):
        return collections.Counter(
            [(o, p, "out") for s, p, o in self.rows if s == key]
            + [(s, p, "in") for s, p, o in self.rows if o == key])

    def reachable_from(self, start: str, depth: int):
        rows, seen, frontier = [(start, 0)], {start}, {start}
        for d in range(1, depth + 1):
            nxt = {o for s in frontier for o in self.out[s]} - seen
            if not nxt:
                break
            rows += [(k, d) for k in nxt]
            seen |= nxt
            frontier = nxt
        return collections.Counter(rows)

    def blast_radius(self, start: str, depth: int):
        rows, seen, frontier = [(start, 0, None, None)], {start}, {start}
        for d in range(1, depth + 1):
            best: dict[str, tuple[str, str]] = {}
            for s in frontier:
                for o, p in self.out_typed[s]:
                    if o not in seen and (o not in best or (s, p) < best[o]):
                        best[o] = (s, p)
            if not best:
                break
            rows += [(k, d, s, p) for k, (s, p) in best.items()]
            seen |= set(best)
            frontier = set(best)
        return collections.Counter(rows)

    def bfs_depths(self, src: str, depth: int) -> dict[str, int]:
        """Undirected hop count of every key within `depth` of src."""
        dist, frontier = {src: 0}, [src]
        for d in range(1, depth + 1):
            frontier = [n for k in frontier for n in self.both[k]
                        if n not in dist]
            for n in frontier:
                dist.setdefault(n, d)
        return dist

    def bfs_path(self, src: str, dst: str, depth: int):
        parent: dict[str, str | None] = {src: None}
        frontier, found = {src}, src == dst
        for _ in range(depth):
            if found:
                break
            best: dict[str, str] = {}
            for s in frontier:
                for n in self.both[s]:
                    if n not in parent and (n not in best or s < best[n]):
                        best[n] = s
            if not best:
                break
            parent.update(best)
            frontier, found = set(best), dst in best
        if not found:
            return None
        path = [dst]
        while parent[path[-1]] is not None:
            path.append(parent[path[-1]])
        return path[::-1]

    def degree_stats(self):
        out = collections.Counter(s for s, _, _ in self.rows)
        inn = collections.Counter(o for _, _, o in self.rows)
        return collections.Counter(
            (k, out[k], inn[k], out[k] + inn[k]) for k in set(out) | set(inn))

    def k_core(self):
        """Coreness by peeling the undirected simple graph (self-loops
        dropped): repeatedly remove a node of least remaining degree."""
        adj = collections.defaultdict(set)
        for s, o in self.pairs:
            if s != o:
                adj[s].add(o)
                adj[o].add(s)
        deg = {k: len(v) for k, v in adj.items()}
        buckets = collections.defaultdict(set)
        for k, d in deg.items():
            buckets[d].add(k)
        core, k = {}, 0
        for _ in range(len(deg)):
            d = min(b for b, ks in buckets.items() if ks)
            k = max(k, d)
            x = buckets[d].pop()
            core[x] = k
            for n in adj[x]:
                if n not in core:
                    buckets[deg[n]].discard(n)
                    deg[n] -= 1
                    buckets[deg[n]].add(n)
        return collections.Counter(core.items())

    def toposort_levels(self):
        """Kahn levels over the distinct (subj, obj) pairs; the nodes
        left when no root remains (cycles and what they feed) get -1."""
        indeg = collections.Counter(o for _, o in self.pairs)
        nodes = set(self.out) | set(indeg)
        level_of, level = {}, 0
        frontier = [k for k in nodes if not indeg[k]]
        while frontier:
            nxt = []
            for k in frontier:
                level_of[k] = level
                for o in self.out[k]:
                    indeg[o] -= 1
                    if not indeg[o]:
                        nxt.append(o)
            frontier, level = nxt, level + 1
        level_of.update((k, -1) for k in nodes - set(level_of))
        return collections.Counter(level_of.items())

    def pagerank(self, iterations: int, damping: float = 0.85):
        """Power iteration over the distinct (subj, obj) pairs, with the
        mass of nodes without out-edges spread evenly each round."""
        nodes = sorted(set(self.out) | {o for _, o in self.pairs})
        n = len(nodes)
        rank = dict.fromkeys(nodes, 1.0 / n)
        for _ in range(iterations):
            dangling = sum(r for k, r in rank.items() if not self.out[k])
            c = dict.fromkeys(nodes, 0.0)
            for s, o in self.pairs:
                c[o] += rank[s] / len(self.out[s])
            rank = {k: (1 - damping) / n + damping * (c[k] + dangling / n)
                    for k in nodes}
        return rank

    def queries(self, rng: random.Random, starts,
                hubs) -> list[tuple[str, tuple]]:
        """One round's seeded queries: traversals from a start key, a
        path to a key as far from it as PATH_DEPTH allows, then the
        analytics."""
        start = rng.choice(sorted(starts))
        dist = self.bfs_depths(start, PATH_DEPTH)
        far = max(dist.values())
        dst = rng.choice(sorted(k for k, d in dist.items() if d == far))
        return [("neighbors", (rng.choice(sorted(hubs)),)),
                ("reachable_from", (start, MAX_DEPTH)),
                ("blast_radius", (start, MAX_DEPTH)),
                ("bfs_path", (start, dst, PATH_DEPTH)),
                ("degree_stats", ()),
                ("pagerank", (PAGERANK_ITERATIONS,)),
                ("k_core", ()),
                ("toposort_levels", ())]


class KGQuery(Workload):
    """On a KG built in set-up, one client runs a seeded round of graph
    queries on the full graph and on the entity-only graph
    (pred != 'mentions') per repetition. Both graphs are far below
    guackg.graph's 1M-edge driver bound, so the traversals, k_core and
    toposort_levels take their driver fast paths; the distributed
    loops they bypass run only on graphs above it.

    The KG is the generator's golden graph of the seed's pages, the one
    kg_build's pipeline run reproduces at triple P/R >= 0.95: every
    golden (subj_key, pred, obj_key) plus a `mentions` edge from the
    page's key ('page:' + sha256 of its html, as the pipeline keys
    pages) to each entity the page's triples name. Building it with
    KGPipeline instead would cost a cold pipeline run per benchmark run
    (about 29 s on a 4-vCPU host, whatever the page count)."""

    name = "kg_query"

    def generate(self) -> None:
        rows = set()
        for i in range(QUERY_PAGES):
            r = gen_page(i, self.seed)
            page = "page:" + hashlib.sha256(r["html"]).hexdigest()
            for g in r["_golden"]:
                rows.add((g["subj_key"], g["pred"], g["obj_key"]))
                rows.add((page, "mentions", g["subj_key"]))
                rows.add((page, "mentions", g["obj_key"]))
        self.rows = sorted(rows)
        self.ref = {"full": GraphRef(self.rows),
                    "entity": GraphRef([r for r in self.rows
                                        if r[1] != "mentions"])}
        entity = self.ref["entity"]
        self.queries = {
            "full": self.ref["full"].queries(
                random.Random(f"{self.seed}|kg_query|full"),
                {s for s, p, _ in self.rows if p == "mentions"},
                {o for _, p, o in self.rows if p == "mentions"}),
            "entity": entity.queries(
                random.Random(f"{self.seed}|kg_query|entity"),
                list(entity.out), list(entity.out))}
        self.answers = {side: [getattr(self.ref[side], op)(*args)
                               for op, args in self.queries[side]]
                        for side in SIDES}

    def prepare(self, spark) -> None:
        self.spark = spark

    def build_base(self) -> float:
        """The edges table written as parquet and opened through Spark;
        the entity graph is the pred-filtered view of it."""
        import pyarrow as pa
        from pyspark.sql import functions as F
        t0 = time.perf_counter()
        full = self.write_input(
            pd.DataFrame(self.rows, columns=["subj_key", "pred", "obj_key"]),
            "edges", pa.schema([("subj_key", pa.string()),
                                ("pred", pa.string()),
                                ("obj_key", pa.string())]))
        self.graphs = {"full": full,
                       "entity": full.filter(F.col("pred") != "mentions")}
        return time.perf_counter() - t0

    def run_query(self, tracer, side: str, op: str, args: tuple):
        """One query, its result collected inside its span."""
        import guackg.graph as graph
        e = self.graphs[side]
        with _span(tracer, op, f"graph.{op}.{side}"):
            if op == "neighbors":
                return collections.Counter(
                    tuple(r) for r in graph.neighbors(e, *args).collect())
            if op in ("reachable_from", "blast_radius"):
                df = getattr(graph, op)(e, [args[0]], max_depth=args[1])
                return collections.Counter(tuple(r) for r in df.collect())
            if op == "bfs_path":
                return graph.bfs_path(e, *args[:2], max_depth=args[2],
                                      direction="both")
            if op == "pagerank":
                return {r.key: r.rank for r in
                        graph.pagerank(e, iterations=args[0]).collect()}
            return collections.Counter(
                tuple(r) for r in getattr(graph, op)(e).collect())

    def op(self, tracer) -> OpResult:
        res = OpResult(0.0, 0, "")
        t0 = time.perf_counter()
        for side in SIDES:
            for (op, args), want in zip(self.queries[side],
                                        self.answers[side]):
                q0 = time.perf_counter()
                got = self.run_query(tracer, side, op, args)
                res.info[f"{op}.{side}_s"] = time.perf_counter() - q0
                res.items += 1
                if not same_answer(got, want):
                    res.failures.append(f"{op} on the {side} graph differs "
                                        f"from the reference")
        res.wall_s = time.perf_counter() - t0
        res.attempted = res.items
        return res

    def cleanup(self, result: OpResult) -> None:
        pass

    def trace_extras(self, rep, res: OpResult) -> None:
        pass


def same_answer(got, want) -> bool:
    if isinstance(want, dict) and not isinstance(want, collections.Counter):
        return got.keys() == want.keys() and all(
            abs(got[k] - want[k]) <= 1e-9 for k in want)
    return got == want


def word_set(text: str | None) -> frozenset[str]:
    """clean_corpus's word set of a doc: lower case, spaces trimmed,
    split on runs of ASCII whitespace (Java's \s)."""
    return frozenset(re.split(r"[ \t\n\x0b\f\r]+",
                              (text or "").strip(" ").lower()))


def jaccard_pairs(texts: list[str], threshold: float):
    """(a, b, jaccard) for every doc pair a < b whose word-set Jaccard,
    rounded to 6 places, is >= threshold: the semantics of
    guackg.ops.dedup.jaccard_word_pairs, computed in plain Python."""
    sets = [word_set(t) for t in texts]
    out = []
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            common = len(sets[a] & sets[b])
            j = round(common / (len(sets[a]) + len(sets[b]) - common), 6)
            if j >= threshold:
                out.append((a, b, j))
    return out


class CorpusClean(Workload):
    """clean_corpus over the extracted text of a seeded page table,
    through its written audit."""

    name = "corpus_clean"

    def generate(self) -> None:
        texts = list(self.pages(CLEAN_DOCS)["text"])
        self.pdf = pd.DataFrame({"doc_id": range(CLEAN_DOCS),
                                 "text": texts})
        # the reference: every near-duplicate pair of the generator's
        # text, and the smallest doc_id of each exact-text group
        self.near_pairs = jaccard_pairs(texts, NEAR_THRESHOLD)
        self.sure_pairs = [(a, b) for a, b, j in self.near_pairs
                           if j >= SURE_DUP]
        if not self.sure_pairs:
            raise RuntimeError(f"seed {self.seed}: no doc pair with word "
                               f"Jaccard >= {SURE_DUP} to check dedup on")
        self.first_copy: dict[str, int] = {}
        for d, t in enumerate(texts):
            self.first_copy.setdefault(t, d)

    def prepare(self, spark) -> None:
        import pyarrow as pa
        self.spark = spark
        self.docs = self.write_input(self.pdf, "docs", pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string())]))

    def op(self, tracer) -> OpResult:
        import guackg.ops.clean as clean
        wd = self.fresh_dir()
        audit_path = os.path.join(wd, "audit")
        t0 = time.perf_counter()
        audit = clean.clean_corpus(self.docs)
        with _span(tracer, "audit", "ops.clean"):
            if tracer:
                tracer.rep.tables[audit_path] = "ops.clean"
            audit.write.parquet(audit_path)
        res = OpResult(time.perf_counter() - t0, CLEAN_DOCS, wd)
        res.failures += self.check(audit_path, res.info)
        return res

    def check(self, audit_path: str, info: dict) -> list[str]:
        from guackg.ops.clean import CLEAN_STAGES
        failures = []
        a = read_columns(audit_path, ["doc_id", "stage", "keep"])
        if sorted(a["doc_id"]) != list(range(CLEAN_DOCS)):
            failures.append("audit does not hold one row per input doc")
        counts = collections.Counter(a["stage"])
        info["stages"] = dict(counts)
        if sum(counts.values()) != CLEAN_DOCS or \
                not set(counts) <= set(CLEAN_STAGES):
            failures.append(f"stage counts {dict(counts)} do not sum to "
                            f"{CLEAN_DOCS} over {CLEAN_STAGES}")
        if any(k != (s == "kept") for s, k in zip(a["stage"], a["keep"])):
            failures.append("keep disagrees with stage == 'kept'")
        stage = dict(zip(a["doc_id"], a["stage"]))
        failures += self.check_dedup(stage)
        kept = sorted(d for d, s in stage.items() if s == "kept")
        digest = hashlib.sha256(
            ",".join(map(str, kept)).encode()).hexdigest()
        info["kept_digest"] = digest[:16]
        failures += self.check_digest(digest)
        return failures

    def check_dedup(self, stage: dict[int, str]) -> list[str]:
        """The dedup stages against the reference pairs. Docs that pass
        the language and quality gates reach dedup; among them every
        exact_dup has an identical doc with a smaller id, and every
        near_dup has a kept doc with a smaller id in its component of
        reference near-dup pairs; no pair far above the threshold keeps
        both docs, and at least one pair exists to find."""
        failures = []
        texts = self.pdf["text"]
        reached = {d for d, s in stage.items()
                   if s in ("exact_dup", "near_dup", "kept")}
        bad = [d for d, s in stage.items() if s == "exact_dup"
               and self.first_copy[texts[d]] == d]
        if bad:
            failures.append(f"docs {bad[:5]} dropped as exact_dup have no "
                            f"identical doc with a smaller id")
        root = {d: d for d in reached}

        def find(d):
            while root[d] != d:
                root[d] = root[root[d]]
                d = root[d]
            return d

        for x, y, _ in self.near_pairs:
            if x in reached and y in reached:
                root[find(x)] = find(y)
        min_kept: dict[int, int] = {}
        for d in reached:
            if stage[d] == "kept":
                r = find(d)
                min_kept[r] = min(min_kept.get(r, d), d)
        bad = [d for d in reached if stage[d] == "near_dup"
               and min_kept.get(find(d), d) >= d]
        if bad:
            failures.append(f"docs {bad[:5]} dropped as near_dup have no "
                            f"kept near-duplicate with a smaller id")
        both = [(x, y) for x, y in self.sure_pairs
                if stage.get(x) == "kept" and stage.get(y) == "kept"]
        if both:
            failures.append(f"{len(both)} doc pairs with word Jaccard >= "
                            f"{SURE_DUP} are both kept, e.g. {both[0]}")
        return failures

    def check_digest(self, digest: str) -> list[str]:
        """The kept-set digest of this seed must equal the one an
        earlier run in this checkout stored."""
        path = os.path.join(os.path.dirname(self.work), "digests",
                            f"{self.name}-seed{self.seed}-"
                            f"{CLEAN_DOCS}.txt")
        if os.path.exists(path):
            with open(path) as f:
                stored = f.read().strip()
            return [] if stored == digest else [
                f"kept-set digest {digest[:16]} differs from the stored "
                f"{stored[:16]} of an earlier run of this seed"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(digest + "\n")
        return []

    def trace_extras(self, rep, res: OpResult) -> None:
        super().trace_extras(rep, res)
        stages = res.info["stages"]
        for k in ("kept", "exact_dup", "near_dup"):
            rep.extra[f"ops.clean.{k}"] = stages.get(k, 0)


WORKLOADS = {w.name: w for w in (KGBuild, KGQuery, CorpusClean)}
