"""The benchmark's two workloads.

Each workload is one client in a closed loop that makes a batch pass
and a stream of small requests:

- ``ingest`` (the offline corpus path). Batch: near-duplicate detection
  over the files (MinHash-LSH over token sets, hyperplane LSH over
  embeddings), then a bulk index build with the english analyzer and
  the compressed-blob encode. Requests: small upserts through
  ``indexer.update_docs``, each read back through a planted marker
  term.
- ``query`` (the retrieval path over an index and blobs built in
  set-up). Batch: a TREC run over a topic batch (BM25 at k=1000, RM3
  expansion and re-retrieval, run file, evaluation against qrels).
  Requests: single interactive top-10 queries through block-max WAND.

The batch pass runs as a one-shot job would: Python workers are already
up, but its plans are new to the session. The measured requests run
warm: ``ingest`` makes one untimed upsert after its batch (upserts need
the index the batch builds); ``query`` makes six untimed queries at the
end of set-up and its measured queries before the batch, because the
first queries of a process, and those right after the batch, run up to
a fifth slower. Every output is checked against a plain-Python or
exhaustive reference.

Calls into the engine are wrapped in tracer spans named after the
layer's public function; a span covers the call and the action that
forces its lazy result.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

import checks
import gen
from luc4ir_spark.functions.analysis import AnalyzerConfig, analyze_text
from luc4ir_spark.operators import annsearch, dedup, evaluation, feedback
from luc4ir_spark.operators import indexer, retrieval, wand
from luc4ir_spark.sources import trec

DOCS_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string,"
    " content string"
)
ENGLISH = AnalyzerConfig(mode="english")
INDEX_CFG = indexer.IndexConfig(analyzer=ENGLISH)
SIZE = gen.Size(n_docs=600, n_idents=400, n_topics=6, n_queries=30)
TINY = gen.Size(n_docs=120, n_idents=100, n_topics=2, n_queries=4)


@dataclass
class Step:
    """One batch pass or one request."""

    items: int              # files / topics / queries completed
    seconds: float
    problems: list[str] = field(default_factory=list)


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    work_dir: str
    props: dict = field(default_factory=dict)   # recorded in the output


def _persisted(df):
    df = df.persist()
    df.count()
    return df


def _docs_df(spark, corpus: gen.Corpus):
    return _persisted(spark.createDataFrame(corpus.rows(), DOCS_SCHEMA))


def _build_with_blobs(tr, docs):
    """Index build plus blob encoding; returns the index and its blob
    sizes (the aggregate forces the encode)."""
    with tr.span("indexer.build_index"):
        idx = indexer.build_index(docs, INDEX_CFG)
    with tr.span("wand.build_compressed_postings"):
        idx.blobs = wand.build_compressed_postings(idx).persist()
        sizes = idx.blobs.agg(
            F.sum(F.length("blob")).alias("blob_bytes"),
            F.sum(F.size("blk_offsets")).alias("blocks"),
            F.sum("n_docs").alias("postings"),
        ).collect()[0]
    return idx, sizes


def _index_bytes_per_input_byte(sizes, corpus: gen.Corpus) -> float:
    # blob bytes plus the five per-block directory columns
    # (offsets, last_doc, min_dl: 8 bytes each; n_docs, max_tf: 4)
    return (sizes["blob_bytes"] + 32 * sizes["blocks"]) / corpus.content_bytes()


def _unpersist_index(idx) -> None:
    idx.postings.unpersist()
    idx.term_stats.unpersist()
    if idx.blobs is not None:
        idx.blobs.unpersist()


def warm_python_workers(spark) -> None:
    """Start the executors' Python workers and load Arrow and pandas in
    them, so first-call worker start-up is paid in set-up."""

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(1000).select(plus_one("id")).collect()


class Workload:
    name = ""
    batch_first = True    # else requests come first in the window
    setup_requests = 0    # untimed requests at the end of set-up
    warm_requests = 0     # untimed requests after a first batch pass
    min_requests: int     # measured requests per window, at least

    def __init__(self, ctx: Context, size: gen.Size = SIZE):
        self.ctx = ctx
        self.size = size

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.corpus = gen.generate(self.ctx.seed, self.size)
        self.ctx.props["corpus"] = self.corpus.properties()
        t1 = time.perf_counter()
        warm_python_workers(self.ctx.spark)
        t2 = time.perf_counter()
        self.prepare()
        self.ctx.props["setup_phases_s"] = {
            "generate": t1 - t0, "python_workers": t2 - t1,
            "prepare": time.perf_counter() - t2,
        }

    def prepare(self) -> None:
        raise NotImplementedError

    def batch(self) -> Step:
        raise NotImplementedError

    def request(self, i: int) -> Step:
        raise NotImplementedError

    def teardown(self) -> None:
        raise NotImplementedError


class Ingest(Workload):
    name = "ingest"
    warm_requests = 1
    min_requests = 3
    jaccard_min = 0.8
    cosine_min = 0.95
    n_upserts = 6       # distinct upsert batches, used in turn
    upsert_every = 24   # an upsert rewrites every 24th file

    def prepare(self) -> None:
        spark, corpus = self.ctx.spark, self.corpus
        self.docs = _docs_df(spark, corpus)
        self.tokens = _persisted(spark.createDataFrame(
            list(zip(corpus.doc_id, corpus.tokens)),
            "doc_id long, tokens array<string>",
        ))
        self.emb = _persisted(spark.createDataFrame(
            [(d, corpus.embeddings[d].tolist()) for d in corpus.doc_id],
            "vec_id long, embedding array<double>",
        ))
        self.jaccard = checks.jaccard_of(corpus.tokens)
        self.cosine = checks.cosine_of(corpus.embeddings)
        # upsert j rewrites every upsert_every-th file from offset j,
        # appending its own marker term 1-3 times to each; reading the
        # marker's postings back must give exactly those files and tfs
        rows, self.upserts = [], []
        for j in range(self.n_upserts):
            marker = f"upsertmark{j}q"
            ids = corpus.doc_id[j :: self.upsert_every]
            copies = [1 + i % 3 for i in range(len(ids))]
            rows += [
                (j, d, corpus.content[d] + (" " + marker) * c)
                for d, c in zip(ids, copies)
            ]
            self.upserts.append((j, analyze_text(marker, ENGLISH), dict(zip(ids, copies))))
        self.upsert_df = _persisted(spark.createDataFrame(
            rows, "j int, doc_id long, content string"
        ))
        self.idx = None

    def batch(self) -> Step:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("dedup.minhash_lsh_pairs"):
            jpairs = dedup.minhash_lsh_pairs(
                self.tokens, num_hashes=16, band_size=2,
                threshold=self.jaccard_min,
            ).collect()
        with tr.span("annsearch.lsh_near_dup_pairs"):
            cpairs = annsearch.lsh_near_dup_pairs(
                self.emb, threshold=self.cosine_min
            ).collect()
        idx, sizes = _build_with_blobs(tr, self.docs)
        seconds = time.perf_counter() - t0

        planted = self.corpus.near_dups
        problems = checks.check_pairs(
            [(r["a"], r["b"], r["jaccard"]) for r in jpairs], planted,
            self.jaccard, self.jaccard_min, "minhash",
        ) + checks.check_pairs(
            [(r["a"], r["b"], r["cosine"]) for r in cpairs], planted,
            self.cosine, self.cosine_min, "embedding",
        )
        if idx.stats.n_docs != len(self.corpus.doc_id):
            problems.append(f"index holds {idx.stats.n_docs} docs")
        if sizes["postings"] != idx.postings.count():
            problems.append("blob postings != flat postings")
        self.ctx.props["index_bytes_per_input_byte"] = _index_bytes_per_input_byte(
            sizes, self.corpus
        )
        # the upserts that follow apply to this index
        if self.idx is not None:
            _unpersist_index(self.idx)
        self.idx = idx
        return Step(items=len(self.corpus.doc_id), seconds=seconds, problems=problems)

    def request(self, i: int) -> Step:
        j, terms, tfs = self.upserts[i % len(self.upserts)]
        batch = self.upsert_df.filter(F.col("j") == j).drop("j")
        t0 = time.perf_counter()
        with self.ctx.tracer.span("indexer.update_docs"):
            up = indexer.update_docs(self.idx, batch)
        seconds = time.perf_counter() - t0

        problems = []
        grew = up.stats.total_tokens - self.idx.stats.total_tokens
        if grew != sum(tfs.values()) or up.stats.n_docs != self.idx.stats.n_docs:
            problems.append(f"upsert {j} grew total_tokens by {grew}")
        got = {
            r["doc_id"]: r["tf"]
            for r in up.postings.filter(F.col("term").isin(terms)).collect()
        }
        if got != tfs:
            problems.append(f"upsert {j}: marker postings {len(got)} docs, wrote {len(tfs)}")
        return Step(items=len(tfs), seconds=seconds, problems=problems)

    def teardown(self) -> None:
        for df in (self.docs, self.tokens, self.emb, self.upsert_df):
            df.unpersist()
        if self.idx is not None:
            _unpersist_index(self.idx)


class Query(Workload):
    name = "query"
    # requests right after the batch pass, or the first few of a
    # process, run up to a fifth slower than the rest
    batch_first = False
    setup_requests = 6
    min_requests = 6
    k_run = 1000
    k_interactive = 10

    def prepare(self) -> None:
        spark, corpus, tr = self.ctx.spark, self.corpus, self.ctx.tracer
        self.docs = _docs_df(spark, corpus)
        self.idx, sizes = _build_with_blobs(tr, self.docs)
        self.ctx.props["index_bytes_per_input_byte"] = _index_bytes_per_input_byte(
            sizes, corpus
        )
        self.qrels_df = _persisted(
            spark.createDataFrame(corpus.qrels, "qid string, docid string, rel double")
        )
        self.run_path = os.path.join(self.ctx.work_dir, f"{self.name}.run")
        # exhaustive top-10 of every interactive query, the WAND reference
        qt = retrieval.queries_to_terms(spark, corpus.queries, ENGLISH)
        ref: dict[str, list] = {q: [] for q, _ in corpus.queries}
        with tr.span("retrieval.score_queries") as sp:
            rows = retrieval.score_queries(self.idx, qt, k=self.k_interactive).collect()
            sp.rows = len(rows)
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            ref[r["qid"]].append((r["doc_id"], r["score"]))
        self.ref = ref

    def batch(self) -> Step:
        tr, spark, topics = self.ctx.tracer, self.ctx.spark, self.corpus.topics
        t0 = time.perf_counter()
        with tr.span("retrieval.queries_to_terms"):
            qt = retrieval.queries_to_terms(spark, topics, ENGLISH)
        with tr.span("retrieval.score_queries") as sp:
            base = retrieval.score_queries(self.idx, qt, k=self.k_run).collect()
            sp.rows = len(base)
        with tr.span("feedback.retrieve_with_feedback") as sp:
            run = feedback.retrieve_with_feedback(
                self.idx, qt, k=self.k_run, expand=True
            ).persist()
            sp.rows = run.count()
        with tr.span("retrieval.to_trec_run"):
            trec_df = retrieval.to_trec_run(run, run_name="irbench")
        with tr.span("trec.write_run"):
            trec.write_run(trec_df, self.run_path)
        with tr.span("evaluation.per_query_metrics"):
            metrics = evaluation.per_query_metrics(trec_df, self.qrels_df).collect()
        seconds = time.perf_counter() - t0
        run.unpersist()

        problems = checks.check_ranked_run(
            [(r["qid"], r["doc_id"], r["rank"], r["score"]) for r in base], self.k_run
        )
        got = {
            r["qid"]: {k: v for k, v in r.asDict().items() if k != "qid"}
            for r in metrics
        }
        want = checks.eval_from_run_file(self.run_path, self.corpus.qrels)
        problems += checks.compare_eval(got, want)
        if set(want) != {q for q, _ in topics}:
            problems.append("the run file does not cover every topic")
        return Step(items=len(topics), seconds=seconds, problems=problems)

    def request(self, i: int) -> Step:
        tr = self.ctx.tracer
        qid, text = self.corpus.queries[i % len(self.corpus.queries)]
        t0 = time.perf_counter()
        with tr.span("retrieval.queries_to_terms"):
            qt = retrieval.queries_to_terms(self.ctx.spark, [(qid, text)], ENGLISH)
        with tr.span("wand.score_queries_wand") as sp:
            rows = wand.score_queries_wand(self.idx, qt, k=self.k_interactive).collect()
            sp.rows = len(rows)
        seconds = time.perf_counter() - t0
        got = [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        problems = [f"{qid}: {p}" for p in checks.compare_topk(got, self.ref[qid])]
        return Step(items=1, seconds=seconds, problems=problems)

    def teardown(self) -> None:
        self.docs.unpersist()
        self.qrels_df.unpersist()
        _unpersist_index(self.idx)


WORKLOADS = {w.name: w for w in (Ingest, Query)}
