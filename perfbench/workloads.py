"""The benchmark's three workloads.

Each drives the package only through its public entry points
(``programs``, ``operators.text``, ``operators.graph``,
``functions.wiki``, ``sources.catalog``) on inputs generated from the
seed. A workload offers one timed unit of work (``call``), the same
unit decomposed into its layer calls with each materialized on its own
(``traced_call``, for the per-layer run), and a check of every unit's
output against references computed from the generator's ground truth.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import checks
import gen
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark import programs
from pagerank_mapreduce_implementation_spark.functions.wiki import parse_pages
from pagerank_mapreduce_implementation_spark.operators import graph, text
from pagerank_mapreduce_implementation_spark.plans.iterative import IterationDriver
from pagerank_mapreduce_implementation_spark.sources import catalog


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


@contextmanager
def traced_truncations(tracer):
    """Record a ``plans.iterative.truncate`` span around every lineage
    truncation the iteration driver makes (one per materialization)."""
    original = IterationDriver._truncate

    def truncate(self, df):
        with tracer.span("plans.iterative.truncate"):
            return original(self, df)

    IterationDriver._truncate = truncate
    try:
        yield
    finally:
        IterationDriver._truncate = original


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.sizes: dict = {}
        self.setup_times: list[float] = []

    def out_path(self, i: int) -> str:
        return os.path.join(self.work_dir, "out", str(i))

    def prepare(self) -> None:
        """Generate the inputs (not timed)."""

    def setup(self, tracer) -> None:
        """Workload set-up that counts toward ``setup_s``."""

    #: untimed units before the timed loop, so it starts with the JVM's
    #: compiler and Spark's code generation warm. A count, not a time:
    #: the JIT compiles by invocation counts, so the loop starts from the
    #: same compiled state on a fast or a slow machine
    WARMUP_UNITS = 2

    def warmup(self) -> None:
        for i in range(self.WARMUP_UNITS):
            self.call(-1 - i)

    def items_per_call(self) -> int:
        raise NotImplementedError

    def check(self, results: list) -> list[list[str]]:
        """One problem list per unit in ``results``."""
        raise NotImplementedError


class WikiPagerank(Workload):
    """``programs.run_pagerank`` on generated wiki-XML page lines."""

    name = "wiki_pagerank"
    N_PAGES = 8_000
    LINKS_PER_PAGE = 10.0
    N_FILES = 8
    N_ITERS = 10
    #: the first call takes ~3x a warm one; from the fifth on, calls stay
    #: within ~10% of each other for the next minute
    WARMUP_UNITS = 4

    def prepare(self) -> None:
        self.input = os.path.join(self.work_dir, "wiki")
        self.truth, self.sizes = gen.make_wiki(
            self.input, self.seed, self.N_PAGES, self.LINKS_PER_PAGE, self.N_FILES
        )

    def items_per_call(self) -> int:
        return self.sizes["links"] * self.N_ITERS

    def call(self, i: int):
        programs.run_pagerank(self.spark, self.input, self.out_path(i), n_iters=self.N_ITERS)
        return self.out_path(i)

    def traced_call(self, i: int, tracer):
        """``run_pagerank``'s steps, each materialized in its own span."""
        spark, out = self.spark, self.out_path(i)
        with tracer.span("sources.list"):
            lines = catalog.read_text_lines(spark, self.input)
        with tracer.span("sources.scan") as a:
            n_lines = lines.filter(F.col("line") != "").count()
            a["files"] = len(lines.inputFiles())
            a["input_bytes"] = self.sizes["bytes"]
        with tracer.span("functions.wiki.parse") as a:
            pages = parse_pages(lines).persist()
            row = pages.agg(
                F.count(F.lit(1)).alias("pages"),
                F.sum(F.size("outlinks")).alias("edges"),
            ).first()
            a["pages"], a["edges"] = row["pages"], row["edges"]
        try:
            with tracer.span("operators.graph.pagerank"), traced_truncations(tracer):
                ranks = graph.pagerank(
                    graph.edges_from_pages(pages),
                    n_iters=self.N_ITERS,
                    mode="reference",
                    vertices=pages.select("url"),
                    seed_count=n_lines,
                )
        finally:
            pages.unpersist()
        with tracer.span("operators.graph.rank_sort"):
            ordered = graph.rank_descending(ranks).persist()
            ordered.count()
        try:
            with tracer.span("sources.write") as a:
                catalog.write_text_kv(ordered, out, "url", "rank")
                a["output_bytes"] = dir_bytes(out)
        finally:
            ordered.unpersist()
        return out

    def check(self, results):
        ref = checks.reference_pagerank(self.truth, self.N_ITERS)
        return [checks.check_pagerank_output(p, self.truth.titles, ref) for p in results]

    def check_traced_counts(self, attrs: dict) -> list[str]:
        want_edges = len(self.truth.src)
        problems = []
        if attrs.get("pages") != self.sizes["pages"]:
            problems.append(f"parsed {attrs.get('pages')} pages, want {self.sizes['pages']}")
        if attrs.get("edges") != want_edges:
            problems.append(f"parsed {attrs.get('edges')} links, want {want_edges}")
        return problems


class _Corpus(Workload):
    """A Zipf corpus written one document per file, as the jar's TF-IDF
    chain reads it: the file name is the document id and the file count
    is the document count."""

    N_DOCS = 0
    TOKENS_PER_DOC = 0
    VOCAB = 20_000

    def prepare(self) -> None:
        self.truth, texts, self.sizes = gen.make_corpus(
            self.seed, self.N_DOCS, self.TOKENS_PER_DOC, self.VOCAB
        )
        self.input = os.path.join(self.work_dir, "docs")
        self.sizes.update(gen.write_doc_files(self.input, self.truth, texts))

    def read_docs(self):
        """``(doc_id, text)`` lines of the corpus and its document count,
        the way ``programs.tfidf_search_rank`` reads them."""
        lines = catalog.read_text_lines(self.spark, self.input)
        docs = lines.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("doc_id"),
            F.col("line").alias("text"),
        )
        return docs, len(docs.inputFiles())

    def traced_tfidf(self, tracer):
        """Listing, scan, tokenize and TF-IDF, each materialized in its
        own span; returns the persisted TF-IDF table."""
        pattern = text.TOKEN_BOUNDARY_RE
        with tracer.span("sources.list") as a:
            docs, total_docs = self.read_docs()
            a["files"] = total_docs
            a["input_bytes"] = self.sizes["bytes"]
        with tracer.span("sources.scan"):
            docs = docs.persist()
            docs.count()
        try:
            with tracer.span("operators.text.tokenize") as a:
                a["tokens"] = text.tokenize(docs, pattern=pattern, lowercase=True).count()
            with tracer.span("operators.text.tfidf"):
                scores = text.tf_idf(docs, total_docs, pattern=pattern).persist()
                scores.count()
        finally:
            docs.unpersist()
        return scores

    def check_traced_counts(self, attrs: dict) -> list[str]:
        if attrs.get("tokens") != self.sizes["tokens"]:
            return [f"tokenized {attrs.get('tokens')} tokens, want {self.sizes['tokens']}"]
        return []


class TfidfFiles(_Corpus):
    """``programs.tfidf_search_rank`` with the jar tokenizer, one small
    document per file, a fixed 4-term query and top-k output."""

    name = "tfidf_files"
    N_DOCS = 2_000
    TOKENS_PER_DOC = 250
    #: Zipf ranks of the query terms, hot to cold
    QUERY = (20, 200, 2_000, 8_000)
    K = 100

    def prepare(self) -> None:
        super().prepare()
        self.terms = [gen.word(w) for w in self.QUERY]

    def items_per_call(self) -> int:
        return self.sizes["tokens"]

    def call(self, i: int):
        programs.tfidf_search_rank(
            self.spark,
            self.input,
            self.out_path(i),
            self.terms,
            k=self.K,
            tokenizer_pattern=text.TOKEN_BOUNDARY_RE,
        )
        return self.out_path(i)

    def traced_call(self, i: int, tracer):
        """``tfidf_search_rank``'s steps, each materialized in its own span."""
        out = self.out_path(i)
        scores = self.traced_tfidf(tracer)
        try:
            with tracer.span("operators.text.search"):
                top = text.ranked(text.search(scores, self.terms), self.K).persist()
                top.count()
            with tracer.span("sources.write") as a:
                catalog.write_text_kv(top, out, "doc_id", "score")
                a["output_bytes"] = dir_bytes(out)
            top.unpersist()
        finally:
            scores.unpersist()
        return out

    def check(self, results):
        want = checks.reference_scores(self.truth, list(self.QUERY))
        return [checks.check_search_output(p, want, self.K) for p in results]


class SearchServing(_Corpus):
    """A TF-IDF index built from the one-document-per-file corpus and
    written to parquet, then a closed loop of top-10 queries from one
    client, each a new plan over the written index."""

    name = "search_serving"
    N_DOCS = 800
    TOKENS_PER_DOC = 400
    K = 10
    #: index builds in set-up; ``setup_s`` takes their median
    INDEX_BUILDS = 3
    WARMUP_UNITS = 100
    MAX_QUERIES = 5_000

    def prepare(self) -> None:
        super().prepare()
        self.index_path = os.path.join(self.work_dir, "index")
        stream = gen.query_terms(self.seed, self.WARMUP_UNITS + self.MAX_QUERIES, self.VOCAB)
        self.warmup_queries = stream[: self.WARMUP_UNITS]
        self.queries = stream[self.WARMUP_UNITS :]

    def build_index(self, tracer) -> None:
        if tracer.counters is None:
            docs, total_docs = self.read_docs()
            scores = text.tf_idf(docs, total_docs, pattern=text.TOKEN_BOUNDARY_RE)
            catalog.write_parquet(scores, self.index_path)
            return
        scores = self.traced_tfidf(tracer)
        try:
            with tracer.span("sources.write") as a:
                catalog.write_parquet(scores, self.index_path)
                a["output_bytes"] = dir_bytes(self.index_path)
        finally:
            scores.unpersist()

    def setup(self, tracer) -> None:
        for _ in range(self.INDEX_BUILDS):
            t = time.perf_counter()
            with tracer.span("setup.index_build"):
                self.build_index(tracer)
            self.setup_times.append(time.perf_counter() - t)
        self.index = self.spark.read.parquet(self.index_path)

    def warmup(self) -> None:
        for q in self.warmup_queries:
            self._query(q)

    def items_per_call(self) -> int:
        return 1

    def _query(self, word_ids):
        terms = [gen.word(w) for w in word_ids]
        return text.ranked(text.search(self.index, terms), k=self.K).collect()

    def call(self, i: int):
        q = self.queries[i % len(self.queries)]
        return q, [(r["doc_id"], r["score"]) for r in self._query(q)]

    def traced_call(self, i: int, tracer):
        q = self.queries[i % len(self.queries)]
        terms = [gen.word(w) for w in q]
        sc = self.spark.sparkContext
        group = f"q{i}"
        sc.setJobGroup(group, group)
        try:
            with tracer.span("operators.text.search_plan"):
                plan = text.ranked(text.search(self.index, terms), k=self.K)
            with tracer.span("operators.text.search_exec") as a:
                rows = plan.collect()
                a["results"] = len(rows)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        a["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        return q, [(r["doc_id"], r["score"]) for r in rows]

    def check(self, results):
        out = []
        cache: dict[tuple, dict] = {}
        for q, rows in results:
            key = tuple(q)
            if key not in cache:
                cache[key] = checks.reference_scores(self.truth, q)
            out.append(checks.check_ranked(rows, cache[key], self.K))
        return out


WORKLOADS = {w.name: w for w in (WikiPagerank, TfidfFiles, SearchServing)}
