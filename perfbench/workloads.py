"""The three workloads, their oracle checks and their metrics.

Every workload runs at local[4] from one process as a closed loop: a
client sends its next request only when the previous one returned.

  search-interactive  one client, single queries (``search`` /
                      ``search_phrase``), postings cached, 31% repeats.
  search-batch        two client threads, ``search_many`` batches of 160
                      fresh queries, postings NOT cached (the path every
                      index above POSTINGS_CACHE_MAX_BYTES takes).
  ingest-nrt          fresh ``IndexWriter.build`` of a seeded corpus, then
                      NRT cycles (delete, append with replacements,
                      ``maybe_compact``, reopen, probes) until a
                      compaction has run and the run time is used.

The search workloads share one index over a fixed corpus, built once per
checkout and engine version under ``.work/cache`` (building it costs
more than a whole search run). The seed drives their query streams.
BENCHMARK.json lists search-interactive and ingest-nrt; search-batch is
run by hand (see METRICS.md for why).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from typing import Dict, List

import numpy as np
import pandas as pd

from corpus import (QUERY_KINDS, Query, QueryMix, docid_order, kind_shares,
                    make_corpus, signature_of)

CORPUS_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string")
SEARCH_CORPUS_SEED = 20261017
SEARCH_DOCS = 5000
INGEST_DOCS = 800
APPEND_NEW = 180
APPEND_REPLACE = 20
DELETES = 3
DOCS_PER_SEGMENT = 256
# compact as soon as postings span two storage generations, so every
# NRT cycle runs the salted merge (the engine default is 10; a run has
# room for one cycle)
MAX_GENERATIONS = 1
K = 10
BATCH_SIZE = 160
BATCH_CLIENTS = 2
BATCH_VERIFY_EVERY = 4
REPEAT_SHARE = 0.3
SETUP_REPS = 3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(int(q * len(s)), len(s) - 1)]


def corpus_df(spark, rows: List[dict]):
    """Corpus rows as an in-memory DataFrame, shipped through Arrow."""
    cols = [c.split()[0] for c in CORPUS_SCHEMA.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols),
                                 schema=CORPUS_SCHEMA)


def stored_corpus(spark, rows: List[dict], path: str):
    """The corpus as the engine meets it in use: a parquet scan. (Built
    from the in-memory DataFrame directly, the build's codegen fallback
    does not occur, so it would go uncounted.)"""
    corpus_df(spark, rows).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def engine_query(searcher, q: Query, k: int = K):
    if q.kind == "phrase":
        return searcher.search_phrase(q.text, k=k)
    return searcher.search(q.text, k=k, mode=q.mode,
                           min_should_match=q.mm, exclude=q.exclude)


def hits(rows) -> List[tuple]:
    """(doc_id, float32 score bits) in result order."""
    return [(int(r["doc_id"]), np.float32(r["score"]).tobytes())
            for r in rows]


def oracle_hits(oracle, q: Query, deleted=frozenset(), k: int = K):
    """Oracle top-k; deleted docs still count in the BM25 statistics
    (Lucene maxDoc semantics) but never appear in results."""
    kk = None if deleted else k
    if q.kind == "phrase":
        r = oracle.search_phrase(q.text, k=kk)
    else:
        r = oracle.search(q.text, k=kk, mode=q.mode,
                          min_should_match=q.mm, exclude=q.exclude)
    r = [(int(d), np.float32(s).tobytes()) for d, s in r
         if int(d) not in deleted]
    return r[:k]


def extend_oracle(oracle, part) -> None:
    """Add the docs of `part` (an OracleIndex over new docIDs, all above
    the existing ones) to `oracle`, as an append does to the index."""
    for t, plist in part.postings.items():
        oracle.postings.setdefault(t, []).extend(plist)
    for t, by_doc in part.positions.items():
        oracle.positions.setdefault(t, {}).update(by_doc)
    oracle.norm_bytes.update(part.norm_bytes)
    oracle.max_doc += part.max_doc
    oracle.sum_ttf += part.sum_ttf


class Run:
    """State of one benchmark run: session, tracer, seed, failures and
    the samples the report is computed from."""

    def __init__(self, spark, tracer, seed, seconds, work, session_s, t0):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []
        self.setup_reps: List[float] = []
        self.requests: List[float] = []       # the workload's request
        self.traced_lat: List[float] = []
        self.untraced_lat: List[float] = []
        self.throughput = 0.0
        self.index_dir = ""
        self.scratch_dirs: List[str] = []     # removed after the report
        self.rss = None                       # the run's RssSampler
        self.input_bytes = 0
        self.detail: Dict[str, dict] = {}
        self.shares: Dict[str, float] = {}
        self.compactions: List[int] = []      # span ids of fired merges
        self.t0 = t0
        self.marks: Dict[str, float] = {}
        self._lock = threading.Lock()

    # -- bookkeeping ------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(what)

    def mark(self, name: str) -> None:
        """Wall time since process start at a harness phase boundary."""
        self.marks[name] = time.perf_counter() - self.t0

    def detail_metric(self, name, value, unit, n=None):
        self.detail[name] = {"value": value, "unit": unit}
        if n is not None:
            self.detail[name]["samples"] = n

    @contextmanager
    def request(self, rid: str, traced: bool):
        """One timed request; with tracing on, every other request runs
        untraced so the report can give the tracing overhead."""
        t0 = time.perf_counter()
        if traced:
            with self.tracer.span("request", rid):
                yield
        else:
            with self.tracer.paused():
                yield
        dt = time.perf_counter() - t0
        with self._lock:
            (self.traced_lat if traced and self.tracer.enabled
             else self.untraced_lat).append(dt)

    # -- report -----------------------------------------------------------
    def report(self, peak_mib: float, codegen: int, events) -> dict:
        e2e = {
            "setup_s": (self.session_s + median(self.setup_reps), "s"),
            "request_p50_s": (median(self.requests), "s"),
            "throughput_per_s": (self.throughput, "1/s"),
            "index_bytes_per_input_byte": (
                dir_bytes(self.index_dir) / max(self.input_bytes, 1),
                "ratio"),
        }
        self.detail_metric("peak_rss_mib", peak_mib, "MiB")
        self.detail_metric("error_rate",
                           self.failed / max(self.attempted, 1), "ratio",
                           self.attempted)
        self.detail_metric("codegen_fallbacks", codegen, "count")
        out = {
            "end_to_end": {k: {"value": v, "unit": u}
                           for k, (v, u) in e2e.items()},
            "detail": self.detail,
            "query_shares": self.shares,
            "failures": self.failures,
            "timeline_s": self.marks,
        }
        if events:
            from layers import per_layer

            out["per_layer"] = per_layer(self, codegen, events)
        return out


# -- search workloads ---------------------------------------------------------

def _index_fingerprint() -> str:
    """Hash of the engine sources, the corpus generator and the index
    parameters: the cached index is rebuilt whenever one changes."""
    import lucene_solr_spark

    h = hashlib.sha256(repr((SEARCH_CORPUS_SEED, SEARCH_DOCS,
                             DOCS_PER_SEGMENT)).encode())
    pkg = os.path.dirname(lucene_solr_spark.__file__)
    paths = []
    for root, _dirs, files in os.walk(pkg):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    paths.append(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "corpus.py"))
    for p in sorted(paths):
        h.update(os.path.relpath(p, os.path.dirname(pkg)).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def search_cache_dir(work: str) -> str:
    return os.path.join(work, "cache", f"search-{_index_fingerprint()}")


def build_search_index(spark, work: str) -> None:
    """Build the search workloads' index, oracle and corpus DF table
    into the cache; meta.json is written last and marks it complete."""
    from lucene_solr_spark.indexing.build import IndexWriter, merge_postings
    from lucene_solr_spark.oracle import OracleIndex

    d = search_cache_dir(work)
    # one index per checkout: drop those of other engine versions
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    os.makedirs(d)
    index_dir = os.path.join(d, "index")
    corpus = make_corpus(SEARCH_CORPUS_SEED, SEARCH_DOCS)
    df = stored_corpus(spark, corpus.rows, os.path.join(d, "corpus"))
    IndexWriter(spark, index_dir, docs_per_segment=DOCS_PER_SEGMENT,
                n_batches=1).build(df)
    merge_postings(spark, index_dir)
    ordered = docid_order(corpus.rows)
    oracle = OracleIndex.build(
        [(i, r["content"]) for i, r in enumerate(ordered)])
    with open(os.path.join(d, "oracle.pkl"), "wb") as f:
        pickle.dump({"oracle": oracle, "df": corpus.df}, f,
                    protocol=pickle.HIGHEST_PROTOCOL)
    meta = {"content_bytes": sum(len(r["content"].encode())
                                 for r in corpus.rows)}
    with open(os.path.join(d, "meta.json.tmp"), "w") as f:
        json.dump(meta, f)
    os.replace(os.path.join(d, "meta.json.tmp"),
               os.path.join(d, "meta.json"))


def search_index(run: Run):
    """The prebuilt search index, its oracle and the corpus DF table.
    The first run in a checkout builds them in a child process, so the
    build's JVM state (heap, JIT) does not leak into the measured run."""
    d = search_cache_dir(run.work)
    done = os.path.join(d, "meta.json")
    if not os.path.exists(done):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(run.work, "logs", "prepare.log"), "w") as log:
            subprocess.run([sys.executable, os.path.join(here, "run.py"),
                            "--prepare"], stdout=log, stderr=log,
                           check=True, timeout=840)
        if run.rss is not None:
            run.rss.reset()
    with open(done) as f:
        meta = json.load(f)
    # written by build_search_index, never taken from outside
    with open(os.path.join(d, "oracle.pkl"), "rb") as f:
        cached = pickle.load(f)
    run.index_dir = os.path.join(d, "index")
    run.input_bytes = meta["content_bytes"]
    run.mark("index")
    return run.index_dir, cached["oracle"], cached["df"]


def open_searcher(run: Run, index_dir: str, cache_postings: bool):
    """Set-up: open the searcher SETUP_REPS times from a cleared cache;
    the last one is kept."""
    from lucene_solr_spark.search.executor import IndexSearcher

    s = None
    for _ in range(SETUP_REPS):
        run.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with run.tracer.span("open"):
            s = IndexSearcher(run.spark, index_dir,
                              cache_postings=cache_postings)
        run.setup_reps.append(time.perf_counter() - t0)
    return s


def search_interactive(run: Run) -> None:
    index_dir, oracle, df_table = search_index(run)
    mix = QueryMix(df_table, run.seed, SEARCH_DOCS)
    searcher = open_searcher(run, index_dir, True)
    run.mark("setup")
    stream = mix.stream(REPEAT_SHARE)
    # the stream's first block (one query of each kind) runs untimed: it
    # fills the postings cache and warms the JIT and the Python workers,
    # and later blocks repeat its queries
    for q, _ in itertools.islice(stream, len(QUERY_KINDS)):
        engine_query(searcher, q).collect()
    done = []
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end:
        q, repeated = next(stream)
        i = len(done)
        t0 = time.perf_counter()
        try:
            with run.request(f"q{i}", i % 2 == 0):
                with run.tracer.span("plan"):
                    df = engine_query(searcher, q)
                with run.tracer.span("collect"):
                    got = hits(df.collect())
        except Exception as e:  # a failed query is counted, not fatal
            got = e
        run.requests.append(time.perf_counter() - t0)
        done.append((q, repeated, got))
    run.mark("measured")
    elapsed = sum(run.requests)
    for q, _, got in done:
        ok = not isinstance(got, Exception) and got == oracle_hits(oracle, q)
        run.check(ok, f"{q}: {got if isinstance(got, Exception) else ''}")
    run.throughput = len(done) / elapsed
    run.shares = kind_shares([q.kind for q, _, _ in done],
                             [r for _, r, _ in done])
    run.detail_metric("query_p50_s", median(run.requests), "s", len(done))
    run.detail_metric("query_p90_s", pct(run.requests, 0.9), "s", len(done))
    run.detail_metric("qps", run.throughput, "queries/s", len(done))


def search_batch(run: Run) -> None:
    index_dir, oracle, df_table = search_index(run)
    mix = QueryMix(df_table, run.seed, SEARCH_DOCS)
    searcher = open_searcher(run, index_dir, False)
    run.mark("setup")
    searcher.search_many([mix.draw().as_batch_item()
                          for _ in QUERY_KINDS], k=K).collect()
    # inputs are drawn before timing: 64 batches is more than two
    # clients finish in a run
    batches = [[mix.draw() for _ in range(BATCH_SIZE)] for _ in range(64)]
    lock = threading.Lock()
    results = []
    t_start = time.perf_counter()
    t_end = t_start + run.seconds

    def client(cid: int):
        n = 0
        while time.perf_counter() < t_end:
            with lock:
                if not batches:
                    return
                bid = 64 - len(batches)
                batch = batches.pop(0)
            t0 = time.perf_counter()
            try:
                with run.request(f"b{bid}", n % 2 == cid % 2):
                    with run.tracer.span("plan"):
                        df = searcher.search_many(
                            [q.as_batch_item() for q in batch], k=K)
                    with run.tracer.span("collect"):
                        rows = df.collect()
                got = {}
                for r in rows:
                    got.setdefault(int(r["query_id"]), []).append(r)
            except Exception as e:  # counted as failed queries below
                got = e
            dt = time.perf_counter() - t0
            with lock:
                run.requests.append(dt)
                results.append((bid, batch, got, time.perf_counter()))
            n += 1

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(BATCH_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    run.mark("measured")
    wall = max(r[3] for r in results) - t_start
    n_queries = sum(len(b) for _, b, _, _ in results)
    for bid, batch, got, _ in results:
        for qid, q in enumerate(batch):
            if isinstance(got, Exception):
                run.check(False, f"batch {bid}: {got}")
                continue
            # a seeded sample: every BATCH_VERIFY_EVERY-th query
            if (bid * BATCH_SIZE + qid + run.seed) % BATCH_VERIFY_EVERY:
                continue
            run.check(hits(got.get(qid, [])) == oracle_hits(oracle, q),
                      f"batch {bid} {q}")
    run.throughput = n_queries / wall
    run.shares = kind_shares([q.kind for _, b, _, _ in results for q in b])
    run.detail_metric("batch_qps", run.throughput, "queries/s", n_queries)
    run.detail_metric("batch_call_p50_s", median(run.requests), "s",
                      len(results))


# -- ingest + NRT ---------------------------------------------------------------

def ingest_nrt(run: Run) -> None:
    from lucene_solr_spark.indexing.build import (IndexWriter,
                                                  append_documents,
                                                  delete_docs, maybe_compact)
    from lucene_solr_spark.oracle import OracleIndex
    from lucene_solr_spark.search.executor import IndexSearcher

    spark = run.spark
    corpus = make_corpus(run.seed, INGEST_DOCS)
    work = os.path.join(run.work, "ingest", f"s{run.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.scratch_dirs.append(work)
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        base_df = stored_corpus(spark, corpus.rows,
                                os.path.join(work, "corpus"))
        base_df.count()
        run.setup_reps.append(time.perf_counter() - t0)
    # generator index of every key, and the docs the index holds
    src = {corpus.key(r): i for i, r in enumerate(corpus.rows)}
    ordered = docid_order(corpus.rows)
    oracle = OracleIndex.build(
        [(d, r["content"]) for d, r in enumerate(ordered)])
    id_of = {corpus.key(r): d for d, r in enumerate(ordered)}
    doc = dict(enumerate(ordered))
    run.index_dir = index_dir = os.path.join(work, "index")

    run.mark("setup")
    t0 = time.perf_counter()
    with run.tracer.span("build"):
        IndexWriter(spark, index_dir, docs_per_segment=DOCS_PER_SEGMENT,
                    n_batches=1).build(base_df)
    build_s = time.perf_counter() - t0

    rng = np.random.default_rng([run.seed, 0x1A7])
    mix = QueryMix(corpus.df, run.seed, INGEST_DOCS)
    deleted: set = set()
    visible, probe_lat, cycle_s = [], [], []
    next_src = INGEST_DOCS
    cycle = 0
    t_cycles = time.perf_counter()
    while (time.perf_counter() - t_cycles < run.seconds
           or not run.compactions):
        cycle += 1
        c0 = time.perf_counter()
        live = sorted(set(doc) - deleted)
        picks = [int(x) for x in rng.choice(
            live, DELETES + APPEND_REPLACE, replace=False)]
        victims, replaced = picks[:DELETES], picks[DELETES:]
        with run.tracer.span("delete", f"c{cycle}"):
            delete_docs(spark, index_dir, spark.createDataFrame(
                [(v,) for v in victims], "doc_id long"))
        deleted.update(victims)
        # append: new keys plus new versions of existing keys
        batch = [corpus.make_row(i) for i in
                 range(next_src, next_src + APPEND_NEW)]
        for i in range(next_src, next_src + APPEND_NEW):
            src[corpus.key(batch[i - next_src])] = i
        next_src += APPEND_NEW
        batch += [corpus.make_row(src[corpus.key(doc[d])], version=cycle)
                  for d in replaced]
        n0 = oracle.max_doc
        a0 = time.perf_counter()
        with run.tracer.span("append", f"c{cycle}"):
            append_documents(spark, index_dir, corpus_df(spark, batch))
        with run.tracer.span("compact", f"c{cycle}") as sp:
            fired = maybe_compact(spark, index_dir,
                                  max_generations=MAX_GENERATIONS)
        if fired is not None:
            run.compactions.append(sp.id if sp is not None else -1)
        with run.tracer.span("open", f"c{cycle}"):
            searcher = IndexSearcher(spark, index_dir)
        # oracle side of the append: new docIDs continue at n0 in key
        # order; the old versions of replaced keys become tombstones
        part_rows = docid_order(batch)
        extend_oracle(oracle, OracleIndex.build(
            [(n0 + j, r["content"]) for j, r in enumerate(part_rows)]))
        for j, r in enumerate(part_rows):
            old = id_of.get(corpus.key(r))
            if old is not None:
                deleted.add(old)
            id_of[corpus.key(r)] = n0 + j
            doc[n0 + j] = r
        newest, repl = batch[APPEND_NEW - 1], batch[APPEND_NEW]
        probes = [
            ("visible", id_of[corpus.key(newest)],
             signature_of(newest["content"])),
            ("replaced-new", id_of[corpus.key(repl)],
             signature_of(repl["content"])),
            ("replaced-old", None, signature_of(doc[replaced[0]]["content"])),
            ("deleted", None, signature_of(doc[victims[0]]["content"])),
        ]
        probes = [(what, must, Query("rare", sig))
                  for what, must, sig in probes]
        probes.append(("mix", None, mix.draw()))
        for n, (what, must, q) in enumerate(probes):
            p0 = time.perf_counter()
            try:
                with run.request(f"c{cycle}p{n}", n % 2 == 0):
                    with run.tracer.span("plan"):
                        df = engine_query(searcher, q)
                    with run.tracer.span("collect"):
                        got = hits(df.collect())
            except Exception as e:  # counted as a failed probe
                run.check(False, f"cycle {cycle} {what}: {e!r}")
                continue
            now = time.perf_counter()
            probe_lat.append(now - p0)
            if what == "visible":
                visible.append(now - a0)
            ids = [d for d, _ in got]
            ok = (got == oracle_hits(oracle, q, frozenset(deleted))
                  and not set(ids) & deleted
                  and (must is None or must in ids))
            run.check(ok, f"cycle {cycle} {what} {q.text}: {ids}")
        spark.catalog.clearCache()
        cycle_s.append(time.perf_counter() - c0)

    run.mark("measured")
    appended = APPEND_NEW * cycle + APPEND_REPLACE * cycle
    run.requests = visible
    run.input_bytes = sum(len(r["content"].encode()) for r in doc.values())
    run.throughput = (INGEST_DOCS + appended) / (build_s + sum(cycle_s))
    run.detail_metric("build_docs_per_s", INGEST_DOCS / build_s, "docs/s")
    run.detail_metric("nrt_visible_p50_s", median(visible), "s", len(visible))
    run.detail_metric("nrt_docs_per_s", appended / sum(cycle_s), "docs/s",
                      len(cycle_s))
    run.detail_metric("nrt_query_p50_s", median(probe_lat), "s",
                      len(probe_lat))
    run.detail_metric("compactions", len(run.compactions), "count")


WORKLOADS = {
    "search-interactive": search_interactive,
    "search-batch": search_batch,
    "ingest-nrt": ingest_nrt,
}
