"""The benchmark's workloads and the metrics derived from them.

``bulk``: repeated full index builds of one generated corpus, each
followed by a session of search requests on the freshly built index
(and, in the traced run, a Naive Bayes train/predict round).  Index
build work dominates; a build change shows here.

``ingest_search``: Structured Streaming ingest of parquet files landing
one per micro-batch; after each commit a seeded tombstone sample and
search requests on a fresh segmented index (and, in the traced run, one
segment compaction at the end).  Streaming, deletes, multi-segment stats
merging and compaction run only here.

Every operation (build, NB round, request, micro-batch, delete,
compaction) is counted as attempted; it fails if it raises or fails a
correctness check.  The expensive checks run after the timed window.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from elasticsearch_nlp_classifier_spark.analyzer.chain import get_analyzer
from elasticsearch_nlp_classifier_spark.analyzer.spark_udfs import analyze
from elasticsearch_nlp_classifier_spark.classifier.nb import (
    accuracy, predict_nb, train_nb,
)
from elasticsearch_nlp_classifier_spark.corpus import (
    assign_doc_ids, gen_corpus_pdf,
)
from elasticsearch_nlp_classifier_spark.index import (
    build_logical_index, build_physical_index, delete_docs, index_stats,
)
from elasticsearch_nlp_classifier_spark.index.codec import vb_decode
from elasticsearch_nlp_classifier_spark.index.deletes import deleted_array
from elasticsearch_nlp_classifier_spark.query.bm25 import bm25_topk
from elasticsearch_nlp_classifier_spark.query.wand import topk_from_pairs, wand_topk
from elasticsearch_nlp_classifier_spark.streaming import (
    StreamingPhysicalIndex, compact_segments, incremental_index_stream,
)

from queries import QueryStream
from tracer import PythonRss, Tracer

K = 10
SCORE_TOL = 1e-9
BLOCK_SIZE = 128  # build_physical_index default

BULK_DOCS = 2_000
BULK_WARM_DOCS = 200
#: a multiple of four: one query of each term count (``QueryStream``)
BULK_REQUESTS_PER_INDEX = 4
#: the JVM's first request takes about twice as long as the next ones
WARM_REQUESTS = 1

#: the first, untimed micro-batch only warms the stream: a small file
INGEST_WARM_DOCS = 200
INGEST_FILE_DOCS = 1_000
INGEST_FILES = 2
INGEST_REQUESTS_PER_INDEX = 4
#: a 5 % sample reaches a given top-10 about two times in five, so a
#: session's requests would show a tombstone that is not applied
INGEST_DELETE_SHARE = 0.05

#: requests per index whose traced run also times the parts of wand_topk
SPLIT_REQUESTS_PER_INDEX = 1


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _halves(xs) -> list[float]:
    """Median of the first and of the second half of a sample series."""
    h = len(xs) // 2
    return [_median(xs[:h]), _median(xs[h:])]


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """``got`` (the engine's top-k) matches the reference ranking
    ``want`` (which lists a few extra ranks): equal length up to k,
    equal scores rank by rank, and every returned doc carries the
    reference's score for it.  Docs tied within the tolerance may swap."""
    if len(got) != min(K, len(want)):
        return False
    ref = dict(want)
    return all(
        abs(s - want[r][1]) <= SCORE_TOL and d in ref
        and abs(ref[d] - s) <= SCORE_TOL
        for r, (d, s) in enumerate(got)
    )


class Bench:
    """State of one run: counters, samples and the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool, started: float, session_start_s: float,
                 corpus_write_s: float):
        from pyspark import SparkContext

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(spark, trace)
        # process memory is a per-layer metric: only the traced run
        # samples it, so the untraced window has no extra thread
        self.rss = PythonRss(SparkContext._gateway.proc.pid) if trace else None
        self.rng = np.random.default_rng([seed, 11])
        self.session_start_s = session_start_s
        self.setup_started = started
        self.attempted = 0
        self.failed = 0
        self.timing = False
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {"corpus.write_s": corpus_write_s}
        self.requests: list[dict] = []
        self.pending_splits: list[tuple] = []
        self.report: dict = {}
        self.qs: QueryStream | None = None

    def log(self, msg: str) -> None:
        """Progress line on standard error, with seconds since start."""
        print(f"[perfbench {time.perf_counter() - self.setup_started:7.1f}s] "
              f"{msg}", file=sys.stderr, flush=True)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # ------------------------------------------------------------ operations
    def op(self, kind: str, fn, *args, **kw):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            t = time.perf_counter()
            out = fn(*args, **kw)
            self.log(f"{kind} {time.perf_counter() - t:.2f}s")
            return out
        except Exception:
            self.failed += 1
            print(f"operation {kind} failed:", file=sys.stderr)
            traceback.print_exc()
            return None

    def fail(self, what: str) -> None:
        """An operation that ran failed its correctness check."""
        self.failed += 1
        print(f"correctness check failed: {what}", file=sys.stderr)

    def sample(self, name: str, value: float) -> None:
        if self.timing:
            self.samples[name].append(value)

    def start_window(self) -> None:
        self.setup_s = time.perf_counter() - self.setup_started
        self.timing = True
        if self.rss is not None:
            self.rss.start()
        self.tracer.phase = "window"
        self.log("timed window starts")
        self.window_t0 = time.perf_counter()
        self.deadline = self.window_t0 + self.seconds

    def window_open(self) -> bool:
        return time.perf_counter() < self.deadline

    def end_window(self) -> None:
        self.window_s = time.perf_counter() - self.window_t0
        self.timing = False
        self.tracer.phase = "after"
        self.log("timed window ends")
        if self.trace:
            self.py_rss_mb, self.py_procs = self.rss.stop()
            self.values["spark.cached_mb"] = self.tracer.cached_mb()
            for split in self.pending_splits:
                self._split_request(*split)

    # -------------------------------------------------------------- requests
    def session(self, ix, texts: list[str], phase: str) -> None:
        """Closed-loop requests of ``texts`` (one ``QueryStream.session``)
        on one fresh index object.  A request's id is its position in the
        run.  The traced run splits the first few timed ones into their
        parts after the window (``end_window``), so no split call warms a
        timed request."""
        done = [self.request(ix, len(self.requests), t, phase) for t in texts]
        if self.trace and self.timing:
            self.pending_splits += [
                (ix, r["id"], r["text"]) for r in done if r["hits"] is not None
            ][:SPLIT_REQUESTS_PER_INDEX]

    def request(self, ix, req_id: int, text: str, phase: str) -> dict:
        """One closed-loop search request: a single-query ``wand_topk``.
        A failed request is kept with ``hits`` None, so ids stay positions."""

        def run():
            t = time.perf_counter()
            with self.tracer.span("query.request", req=req_id) as sp:
                rows = wand_topk(ix, pd.DataFrame(
                    {"query_id": [req_id], "query_text": [text]}), k=K).collect()
            self.sample("query_ms", (time.perf_counter() - t) * 1e3)
            if sp is not None:
                terms = sorted(set(get_analyzer("code").tokenize(text)))
                stats = ix.term_stats_for(terms)  # cached by the request
                sp["candidate_blocks"] = sum(
                    math.ceil(df / BLOCK_SIZE)
                    for df, _ in stats.values() if df is not None)
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]

        got = self.op("request", run)
        if got is not None and len(got) > K:
            self.fail(f"request {req_id} returned {len(got)} > {K} hits")
        self.requests.append({"id": req_id, "text": text, "hits": got,
                              "phase": phase})
        return self.requests[-1]

    def _split_request(self, ix, req_id: int, text: str) -> None:
        """Time the parts of ``wand_topk`` through their public calls: the
        analyzer, a cold term-stats probe, and the scoring core."""
        an = get_analyzer("code")
        t = time.perf_counter()
        for _ in range(100):
            terms = an.tokenize(text)
        self.samples["query_analyze_us"].append(
            (time.perf_counter() - t) / 100 * 1e6)
        uniq = sorted(set(terms))
        with self.tracer.span("query.stats_probe", req=req_id):
            type(ix)(ix.path, ix.spark).term_stats_for(uniq)
        deleted = deleted_array(ix)
        with self.tracer.span("query.score", req=req_id):
            topk_from_pairs(ix, [(req_id, t) for t in uniq], {req_id: K},
                            deleted=deleted if len(deleted) else None).collect()

    # ---------------------------------------------------------------- checks
    def check_requests(self, want: dict, phases: tuple[str, ...], what: str,
                       deleted=()) -> None:
        """Compare every request of ``phases`` with the reference ranking
        ``want`` of its text (``_reference``), from which the ``deleted``
        docs are dropped.  Failed requests were counted already."""
        deleted = set(deleted)
        for r in self.requests:
            if r["phase"] not in phases or r["hits"] is None:
                continue
            ref = [h for h in want.get(r["text"], []) if h[0] not in deleted]
            if not _same_topk(r["hits"], ref):
                self.fail(f"{what}: query {r['text']!r} got {r['hits']} "
                          f"want {ref[:K]}")

    def codec_decode_rate(self, ix) -> None:
        """``vb_decode`` throughput over a fixed sample of the index's
        blocks (the payloads of term bucket 0), decoded as one stream."""
        pdf = (ix.blocks.where(F.col("tb") == 0)
               .select("docs_vb", "tfs_vb", "dls_vb")
               .orderBy("docs_vb").limit(4000).toPandas())
        buf = np.frombuffer(b"".join(
            bytes(x) for col in pdf.columns for x in pdf[col]), dtype=np.uint8)
        reps, t = 0, time.perf_counter()
        while reps < 5 or time.perf_counter() - t < 0.3:
            vb_decode(buf)
            reps += 1
        self.values["index.codec.decode_mb_per_s"] = (
            buf.size * reps / 2**20 / (time.perf_counter() - t))

    def analyzer_rate(self, docs) -> None:
        with self.tracer.span("analyzer.docs") as sp:
            t = time.perf_counter()
            n = docs.select(F.explode(analyze("content", "code"))).count()
            sp["tokens"] = n
        self.values["analyzer.docs_tokens_per_s"] = n / (time.perf_counter() - t)

    # --------------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        s = self.samples
        return {
            "setup_s": (self.setup_s, "s"),
            "index_docs_per_s": (sum(s["index_docs"]) / sum(s["index_s"]), "docs/s"),
            "query_p50_ms": (_median(s["query_ms"]), "ms"),
            "index_bytes_per_input_byte": (self.values["index_bytes_per_input_byte"], "ratio"),
        }

    def per_layer(self) -> dict:
        T = self.tracer
        T.resolve()

        # operations of the timed window; set-up and after-window spans
        # (corpus write, analyzer pass, decode, compaction, request
        # splits) are named alone
        def spans(name):
            return T.select(name, "window") or T.select(name)

        def walls(name):
            return [sp["end"] - sp["start"] for sp in spans(name)]

        def med(name, field, scale=1.0):
            return _median([sp.get(field, 0) * scale for sp in spans(name)])

        def rate(name, field):
            w = sum(walls(name))
            return sum(sp.get(field, 0) for sp in spans(name)) / w if w else 0.0

        v = self.values
        bookkeeping_s = sum(sp["trace_s"] for sp in T.spans
                            if sp["phase"] == "window")
        nb = list(zip(spans("classifier.train"), spans("classifier.predict")))
        nb_wall = sum(p["end"] - t["start"] for t, p in nb)
        nb_docs = sum(p.get("docs", 0) for _, p in nb)
        nb_jobs = [t["jobs"] + p["jobs"] for t, p in nb]
        nb_shuffle = [(t["shuffle_write_bytes"] + p["shuffle_write_bytes"]) / 2**20
                      for t, p in nb]
        out = {
            "session.start_s": (self.session_start_s, "s"),
            "corpus.write_s": (v["corpus.write_s"], "s"),
            "corpus.assign_ids_s": (_median(walls("corpus.assign_ids")), "s"),
            "analyzer.docs_tokens_per_s": (v.get("analyzer.docs_tokens_per_s", 0.0), "tokens/s"),
            "analyzer.query_analyze_us": (_median(self.samples["query_analyze_us"]), "us"),
            "index.build.logical_s": (_median(walls("index.build.logical")), "s"),
            "index.build.postings": (med("index.build.logical", "postings"), "count"),
            "index.build.postings_per_s": (rate("index.build.logical", "postings"), "postings/s"),
            "index.build.shuffle_write_mb": (med("index.build.logical", "shuffle_write_bytes", 2**-20), "MB"),
            "index.build.gc_s": (med("index.build.logical", "gc_s"), "s"),
            "index.blocks.encode_write_s": (_median(walls("index.blocks.encode_write")), "s"),
            "index.blocks.shuffle_write_mb": (med("index.blocks.encode_write", "shuffle_write_bytes", 2**-20), "MB"),
            "index.blocks.blocks": (med("index.blocks.encode_write", "blocks"), "count"),
            "index.blocks.payload_bytes": (med("index.blocks.encode_write", "payload_bytes"), "bytes"),
            "index.blocks.files": (med("index.blocks.encode_write", "files"), "count"),
            "index.codec.decode_mb_per_s": (v.get("index.codec.decode_mb_per_s", 0.0), "MB/s"),
            "query.requests": (len(spans("query.request")), "count"),
            "query.jobs_per_query": (med("query.request", "jobs"), "count"),
            "query.tasks_per_query": (med("query.request", "tasks"), "count"),
            "query.driver_ms": (med("query.request", "driver_s", 1e3), "ms"),
            "query.executor_ms": (med("query.request", "executor_s", 1e3), "ms"),
            "query.latency_ms": (_median([w * 1e3 for w in walls("query.request")]), "ms"),
            "query.stats_probe_ms": (_median([w * 1e3 for w in walls("query.stats_probe")]), "ms"),
            "query.stats_probe_jobs": (med("query.stats_probe", "jobs"), "count"),
            "query.score_ms": (_median([w * 1e3 for w in walls("query.score")]), "ms"),
            "query.candidate_blocks": (med("query.request", "candidate_blocks"), "count"),
            "query.fresh_term_share": (self.qs.fresh_share if self.qs else 0.0, "ratio"),
            "streaming.microbatch_s": (_median(walls("streaming.microbatch")), "s"),
            "streaming.jobs_per_microbatch": (med("streaming.microbatch", "jobs"), "count"),
            "streaming.segments": (v.get("streaming.segments", 0), "count"),
            "streaming.stats_merge_ms": (_median([w * 1e3 for w in walls("streaming.stats_merge")]), "ms"),
            "streaming.compact_s": (_median(walls("streaming.compact")), "s"),
            "streaming.compact_postings_per_s": (rate("streaming.compact", "postings"), "postings/s"),
            "streaming.compact_jobs": (med("streaming.compact", "jobs"), "count"),
            "streaming.decode_postings_per_s": (rate("streaming.decode", "postings"), "postings/s"),
            "index.deletes.delete_ms": (_median([w * 1e3 for w in walls("index.deletes.delete")]), "ms"),
            "index.deletes.tombstones": (v.get("index.deletes.tombstones", 0), "count"),
            "classifier.train_s": (_median(walls("classifier.train")), "s"),
            "classifier.predict_s": (_median(walls("classifier.predict")), "s"),
            "classifier.docs_per_s": (nb_docs / nb_wall if nb_wall else 0.0, "docs/s"),
            "classifier.accuracy": (med("classifier.predict", "accuracy"), "ratio"),
            "classifier.vocab": (med("classifier.train", "vocab"), "count"),
            "classifier.jobs": (_median(nb_jobs), "count"),
            "classifier.shuffle_write_mb": (_median(nb_shuffle), "MB"),
            "spark.cached_mb": (v.get("spark.cached_mb", 0.0), "MB"),
            "python.rss_mb": (self.py_rss_mb, "MB"),
            "python.processes": (self.py_procs, "count"),
            "trace.spans": (len(T.spans), "count"),
            "trace.bookkeeping_ms": (bookkeeping_s * 1e3, "ms"),
            "trace.overhead_share": (bookkeeping_s / self.window_s, "ratio"),
        }
        return out

    def finish_report(self, **extra) -> None:
        self.log("correctness gate done")
        s = self.samples
        self.report.update({
            "window_s": self.window_s,
            "setup_s": self.setup_s,
            "samples": {k: len(x) for k, x in s.items()},
            "first_vs_second_half_median": {
                k: _halves(x) for k, x in s.items() if len(x) >= 2},
            "query_fresh_term_share": self.qs.fresh_share,
            "setup_phases_s": {"session": self.session_start_s,
                               "corpus_write": self.values["corpus.write_s"]},
            "attempted": self.attempted, "failed": self.failed,
            **extra,
        })


# =================================================================== shared
def _write_file(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _write_slice(lo: int, n: int, path: str, parts: int) -> pd.DataFrame:
    """Rows [lo, lo+n) of the generated corpus, as ``parts`` parquet files."""
    pdf = gen_corpus_pdf(n, lo)
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(n), parts)):
        _write_file(pdf.iloc[rows], f"{path}/part-{i:03d}.parquet")
    return pdf


def _content_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["content"].str.encode("utf-8").str.len().sum())


def _reference(spark, logical, texts, depth: int) -> dict:
    """The gate's reference: ``bm25_topk`` over the logical index, the
    top ``depth`` (doc_id, score) of every distinct query text, in one
    call.  ``depth`` exceeds k by the docs a caller may drop (tombstones)
    and a few ranks for ties."""
    texts = sorted(set(texts))
    rows = bm25_topk(logical, spark.createDataFrame(pd.DataFrame(
        {"query_id": range(len(texts)), "query_text": texts})),
        k=depth).collect()
    out = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[texts[r["query_id"]]].append((int(r["doc_id"]), float(r["score"])))
    return out


def _cached_logical(docs):
    logical = build_logical_index(docs)
    logical.postings = logical.postings.cache()
    return logical, logical.postings.count()


# ===================================================================== bulk
def _build(b: Bench, raw, path: str):
    """read -> assign_doc_ids -> build_physical_index.  The traced run
    calls the parts (``build_logical_index``, then
    ``build_physical_index(logical=...)``) to split the time."""
    t = time.perf_counter()
    if not b.trace:
        docs = assign_doc_ids(raw)
        ix = build_physical_index(docs, path)
    else:
        with b.tracer.span("corpus.assign_ids"):
            docs = assign_doc_ids(raw)
        with b.tracer.span("index.build.logical") as sp:
            li = build_logical_index(docs)
            # cached as build_physical_index would cache it, so the
            # encode span reuses these postings instead of tokenizing again
            li.postings = li.postings.cache()
            sp["postings"] = li.postings.count()
        with b.tracer.span("index.blocks.encode_write") as sp:
            ix = build_physical_index(docs, path, logical=li)
        man = []
        for f in os.listdir(os.path.join(path, "manifests")):
            with open(os.path.join(path, "manifests", f)) as fh:
                man.append(json.load(fh))
        sp["blocks"] = int(sum(m["blocks"] for m in man))
        sp["payload_bytes"] = int(sum(m["payload_bytes"] for m in man))
        sp["files"] = sum(f.endswith(".parquet") for _, _, fs in
                          os.walk(os.path.join(path, "blocks")) for f in fs)
    b.sample("index_s", time.perf_counter() - t)
    return docs, ix


def _nb_round(b: Bench, raw, n_docs: int, baseline: float) -> None:
    """The reference's job: train on four folds of five, predict the
    fifth, score accuracy (which consumes every prediction)."""
    docs = raw.withColumn("id", F.xxhash64("repo", "path", "commit"))
    train = docs.where(F.pmod("id", F.lit(5)) != 0)
    test = docs.where(F.pmod("id", F.lit(5)) == 0)

    def run():
        t = time.perf_counter()
        with b.tracer.span("classifier.train") as sp:
            model = train_nb(train, ["content"], "lang", analyzer="code",
                             id_col="id")
            if sp is not None:
                sp["vocab"] = model.vocab_size
        with b.tracer.span("classifier.predict") as sp:
            preds = predict_nb(model, test, ["content"], analyzer="code",
                               id_col="id")
            acc = accuracy(test, preds, "lang", "id")
            if sp is not None:
                sp.update(accuracy=acc, docs=n_docs)
        b.sample("classify_docs_per_s", n_docs / (time.perf_counter() - t))
        for df in (model.likelihood, model.priors, model.vocab):
            df.unpersist()
        return acc

    acc = b.op("nb_round", run)
    if acc is not None:
        b.sample("nb_accuracy", acc)
        if not acc > baseline:
            b.fail(f"NB accuracy {acc:.4f} not above majority baseline "
                   f"{baseline:.4f}")


def write_bulk_inputs(work: str, seed: int, parts: int) -> dict:
    lo = 1_000_000 + seed * 10_007
    _write_slice(lo - BULK_WARM_DOCS, BULK_WARM_DOCS, f"{work}/warm_corpus",
                 parts)
    return {"pdf": _write_slice(lo, BULK_DOCS, f"{work}/corpus", parts)}


def bulk(b: Bench, inputs: dict) -> None:
    spark = b.spark
    pdf, n = inputs["pdf"], BULK_DOCS
    input_bytes = _content_bytes(pdf)
    baseline = float(pdf["lang"].value_counts(normalize=True).max())
    b.qs = QueryStream(b.seed)
    b.qs.add_docs(pdf["content"])
    raw = spark.read.parquet(b.path("corpus"))
    builds = itertools.count()

    def build(corpus=raw):
        # a fresh directory per build: an existing one would be resumed
        res = b.op("build", _build, b, corpus, b.path(f"index-{next(builds)}"))
        if res is not None and corpus is raw:
            b.sample("index_docs", n)
        return res

    # warm-up: a build of a small slice and a request on it.  On 4 cores
    # the first build in a JVM takes 20-28 s whatever the corpus size, the
    # next ones 9-11 s.
    warm = build(spark.read.parquet(b.path("warm_corpus")))
    if warm is not None:
        b.session(warm[1], b.qs.session(WARM_REQUESTS), "warm")
    spark.catalog.clearCache()  # what the warm-up build cached

    b.start_window()
    last, cycles = None, 0
    while True:
        with b.tracer.span("bulk.cycle"):
            res = build()
            if res is not None:
                b.session(res[1], b.qs.session(BULK_REQUESTS_PER_INDEX),
                          "timed")
                last = res
            if b.trace:
                # the classifier moves no end-to-end metric (those must
                # exist on every workload), so only the traced run spends
                # time on it, after the requests so that they run as
                # untraced
                _nb_round(b, raw, n, baseline)
        cycles += 1
        if not b.window_open():
            break
        spark.catalog.clearCache()
    b.end_window()

    # ---- correctness gate and index size, outside the timed window
    if last is None:
        raise RuntimeError("no index build succeeded")
    b.log("correctness gate")
    docs, ix = last
    st = index_stats(ix)
    b.values["index_bytes_per_input_byte"] = (
        (st["bytes_blocks"] + st["bytes_term_stats"]) / input_bytes)
    logical, n_logical = _cached_logical(docs)
    if st["n_postings"] != n_logical:
        b.fail(f"index_stats n_postings {st['n_postings']} != logical "
               f"postings {n_logical}")
    want = _reference(spark, logical, [r["text"] for r in b.requests], K + 5)
    b.check_requests(want, ("timed",), "wand_topk vs bm25_topk brute force")
    if b.trace:
        b.codec_decode_rate(ix)
        b.analyzer_rate(raw)
    b.finish_report(
        docs=n, cycles=cycles, input_bytes=input_bytes, index=st,
        classify_docs_per_s=_median(b.samples["classify_docs_per_s"]),
        nb_accuracy=_median(b.samples["nb_accuracy"]),
    )


# ============================================================ ingest_search
def _microbatch(b: Bench, staged: str, input_dir: str, index_dir: str,
                landed: list[pd.DataFrame]) -> None:
    """Land one file and run the ``availableNow`` stream until its
    micro-batch has committed."""
    pdf = pd.read_parquet(staged)
    t = time.perf_counter()
    with b.tracer.span("streaming.microbatch") as sp:
        os.rename(staged, os.path.join(input_dir, os.path.basename(staged)))
        q = incremental_index_stream(b.spark, input_dir, index_dir,
                                     max_files_per_trigger=1)
        q.awaitTermination()
        if sp is not None:
            sp["job_group"] = str(q.runId)
    b.sample("index_s", time.perf_counter() - t)
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    landed.append(pdf)
    b.qs.add_docs(pdf["content"])
    want = sum(len(p) for p in landed)
    with b.tracer.span("streaming.stats_merge"):
        got = StreamingPhysicalIndex(index_dir, b.spark).corpus_stats["doc_count"]
    if got != want:
        raise RuntimeError(f"index holds {got} docs after commit, want {want}")
    b.sample("index_docs", len(pdf))


def _streaming_doc_ids(landed: list[pd.DataFrame]) -> pd.DataFrame:
    """The docs of the landed files with the ids the streaming indexer
    gave them: dense per micro-batch in (repo, path, commit) order,
    offset by the docs of the earlier micro-batches."""
    out, offset = [], 0
    for pdf in landed:
        p = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        p["doc_id"] = np.arange(offset + 1, offset + 1 + len(p), dtype=np.int64)
        offset += len(p)
        out.append(p)
    return pd.concat(out, ignore_index=True)


def write_ingest_inputs(work: str, seed: int, parts: int) -> dict:
    lo = 5_000_000 + seed * 10_007
    os.makedirs(f"{work}/staging")
    staged = []
    for j, m in enumerate([INGEST_WARM_DOCS] + [INGEST_FILE_DOCS] * INGEST_FILES):
        f = f"{work}/staging/part-{j:03d}.parquet"
        _write_file(gen_corpus_pdf(m, lo), f)
        staged.append(f)
        lo += m
    return {"staged": staged}


def ingest_search(b: Bench, inputs: dict) -> None:
    spark = b.spark
    staged = inputs["staged"]
    # queries are drawn from the docs the index holds when they are sent
    b.qs = QueryStream(b.seed)
    input_dir, index_dir = b.path("input"), b.path("index")
    os.makedirs(input_dir)
    landed: list[pd.DataFrame] = []
    deleted: list[int] = []

    def delete() -> None:
        live = np.setdiff1d(np.arange(1, sum(len(p) for p in landed) + 1),
                            deleted)
        ids = sorted(int(i) for i in b.rng.choice(
            live, size=int(len(live) * INGEST_DELETE_SHARE), replace=False))

        def run():
            with b.tracer.span("index.deletes.delete"):
                return delete_docs(StreamingPhysicalIndex(index_dir, spark), ids)

        if b.op("delete", run) is not None:
            deleted.extend(ids)

    # warm-up: the stream's first micro-batch, so the timed window starts
    # on a running, already segmented index, and a request on it.  Deletes
    # are not warmed: that would not fit the run's time budget.
    b.op("microbatch", _microbatch, b, staged[0], input_dir, index_dir, landed)
    b.session(StreamingPhysicalIndex(index_dir, spark),
              b.qs.session(WARM_REQUESTS), "warm")
    # the timed window is whole cycles: a file lands and commits, a seeded
    # sample of the live docs is tombstoned, and a session of requests
    # runs on a fresh index object
    b.start_window()
    cycles = 0
    with b.tracer.span("ingest.round"):
        for f in staged[1:]:
            b.op("microbatch", _microbatch, b, f, input_dir, index_dir, landed)
            delete()
            b.session(StreamingPhysicalIndex(index_dir, spark),
                      b.qs.session(INGEST_REQUESTS_PER_INDEX), f"cycle{cycles}")
            cycles += 1
            if not b.window_open():
                break
    b.end_window()

    # compaction moves no end-to-end metric, so only the traced run, which
    # reports its per-layer figures, spends the time on it
    cx = None
    n_postings = StreamingPhysicalIndex(index_dir, spark).corpus_stats["sum_doc_freq"]
    if b.trace:
        def compact():
            with b.tracer.span("streaming.compact", postings=n_postings):
                return compact_segments(
                    StreamingPhysicalIndex(index_dir, spark), b.path("compacted"))

        cx = b.op("compaction", compact)

    # ---- correctness gate and index size, outside the timed window
    if not landed:
        raise RuntimeError("no micro-batch committed")
    b.log("correctness gate")
    if cx is not None and index_stats(cx)["n_postings"] != n_postings:
        b.fail(f"compaction did not keep all {n_postings} postings")
    b.values["streaming.segments"] = len(os.listdir(f"{index_dir}/seg_stats"))
    b.values["index.deletes.tombstones"] = len(deleted)
    input_bytes = sum(_content_bytes(p) for p in landed)
    b.values["index_bytes_per_input_byte"] = sum(
        _du(f"{index_dir}/{d}") for d in ("blocks", "seg_term_stats", "seg_stats")
    ) / input_bytes
    logical, _ = _cached_logical(spark.createDataFrame(_streaming_doc_ids(landed)))
    # the last cycle's requests saw the index as it is now
    last = (f"cycle{cycles - 1}",)
    want = _reference(spark, logical, [r["text"] for r in b.requests
                                       if r["phase"] in last],
                      K + 5 + len(deleted))
    b.check_requests(want, last, "streaming index with tombstones vs bm25_topk",
                     deleted)
    if b.trace:
        sx = StreamingPhysicalIndex(index_dir, spark)
        with b.tracer.span("streaming.decode") as sp:
            sp["postings"] = sx.logical_postings(F.col("tb") == 0).count()
    b.finish_report(
        docs=sum(len(p) for p in landed), input_bytes=input_bytes,
        microbatches=len(landed), cycles=cycles, tombstones=len(deleted),
    )


#: input writers per workload: pandas + pyarrow only, so they run in a
#: thread while the Spark session starts
INPUTS = {"bulk": write_bulk_inputs, "ingest_search": write_ingest_inputs}
