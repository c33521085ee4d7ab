"""One workload run inside a Spark driver process (started by run.py).

Drives the engine only through its public entry points --
``plans.build_index.build_index``, ``plans.search.Searcher`` and
``plans.incremental.apply_delta`` -- on ``local[nproc]``, and writes the
run's result as JSON to ``--out``.

Workloads (why each exists: perfbench/README.md):

- ``bulk-build``: repeated full builds of the generated corpus with the
  ``default`` analyzer and positions; no Searcher in the window.
- ``serve-topk``: a warm Searcher over a base index built once per checkout,
  closed-loop queries from 1 client, then from nproc client threads.

``--workload base`` is the process a serve-topk run starts to build that
cached base index.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import kernels
from tracer import PHASES, EventLog, NullTracer, Tracer, covered

import gitlab_elasticsearch_indexer_spark as engine
from gitlab_elasticsearch_indexer_spark.operators.search import analyze_query
from gitlab_elasticsearch_indexer_spark.plans import search as search_plan
from gitlab_elasticsearch_indexer_spark.plans.build_index import build_index
from gitlab_elasticsearch_indexer_spark.plans.incremental import apply_delta
from gitlab_elasticsearch_indexer_spark.plans.search import Searcher
from gitlab_elasticsearch_indexer_spark.session import get_spark
from gitlab_elasticsearch_indexer_spark.sources import catalog as cat

BUILD_DOCS = 12000     # bulk-build's corpus: page-proportional work is most of a build (README)
BASE_DOCS = 8000       # serve-topk's corpus
BASE_SEED = 0          # serve-topk's corpus is fixed: its base index is built once per checkout
WARMUP_QUERIES = 32    # serve-topk's warm-up, nproc clients; the window's nproc-client part follows
WARMUP_CAP_S = 30      # ... or this long, whichever ends first
WARMUP_DOCS = 4000     # pages in bulk-build's warm-up build; 256 left the first full build ~15% slow
N_QUERIES = 400        # generated query stream, cycled
N_CHECK_QUERIES = 10   # the stream's first block: one of every query class (gen.make_queries)
MULTI_CLIENT_SHARE = 3 / 8  # of serve-topk's window, first; the rest runs 1 client
ANALYZER = "default"
DELTA_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, lang string, "
                "op string, old_url string, doc_id long")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def source_key() -> str:
    """Hash of the engine and benchmark sources a cached base index depends on."""
    h = hashlib.sha1()
    pkg = os.path.dirname(engine.__file__)
    for path in sorted(glob.glob(f"{pkg}/**/*", recursive=True)) + [gen.__file__, __file__]:
        if os.path.isfile(path) and "__pycache__" not in path:
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def write_pages(corpus: gen.Corpus, path: str, n_files: int, rows=None) -> None:
    """Pages table as ``n_files`` parquet files (one scan split each)."""
    rows = np.arange(len(corpus)) if rows is None else rows
    tab = pa.table({
        "url": corpus.url,
        "warc_ts": pa.array(corpus.warc_ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(corpus.html, pa.binary()),
        "text": pa.array(corpus.text, pa.string()),
        "lang": corpus.lang,
        "doc_id": pa.array(corpus.doc_id, pa.int64()),
    }).take(pa.array(rows))
    os.makedirs(path)
    for i in range(n_files):
        pq.write_table(tab.take(pa.array(range(i, len(rows), n_files))), f"{path}/part-{i:03d}.parquet")


class Run:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = NullTracer()
        self.ops: list[float] = []        # wall of each successful primary operation (s)
        self.setup_s = self.items_per_s = None
        self.attempted = 0                # operations and checks; every failure is one of them
        self.failures: list[str] = []
        self.lock = threading.Lock()
        self.summary: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.answered: dict = {}          # query rid -> (query, results returned)
        self.window_answers: dict = {}    # stream index -> (docid, score) rows served in the window

    # ------------------------------------------------------------------ setup
    def start_session(self) -> None:
        t0 = time.time()
        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if self.args.trace:
            os.makedirs(f"{self.work}/eventlog")
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{self.work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        self.spark = get_spark(app_name="perfbench", cores=self.nproc, extra_conf=conf)
        if self.args.trace:
            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.spans.append({"id": 0, "name": "session.start", "parent": None, "rid": None,
                                      "group": None, "start": t0, "end": time.time()})
            self.tracer.wrap(cat, "write_catalog", "catalog.commit")
            self.tracer.wrap(cat, "commit_snapshot", "catalog.commit")
            self.tracer.wrap(Searcher, "query_terms", "query.analyze")
            self.tracer.wrap(search_plan, "search_blockmax", "query.plan", spark=True)

    def generate(self, corpus_seed: int, n_docs: int) -> None:
        with self.tracer.span("sources.pages"):
            self.corpus = gen.make_corpus(corpus_seed, n_docs)
            # victims of the traced run's delta carry planted tokens in
            # every run, so traced and untraced runs index the same pages
            self.deltas = gen.make_deltas(corpus_seed, self.corpus, 1)
            self.queries = gen.make_queries(self.args.seed, self.corpus, N_QUERIES)
            self.input_bytes = sum(map(len, self.corpus.html))

    def build(self, index_dir: str, pages: str = "pages", rows=None, span: str = "build"):
        path = f"{self.work}/{pages}"
        if not os.path.exists(path):
            write_pages(self.corpus, path, 2 * self.nproc, rows)
        with self.tracer.span(span, spark=True):
            return build_index(self.spark, self.spark.read.parquet(path), index_dir,
                               analyzer=ANALYZER, with_positions=True, snapshot="s1")

    def cached_base(self) -> str:
        """Path of serve-topk's base index for untraced runs: one per
        checkout and per key of the sources it depends on.  A missing one is
        built by a separate process (``--workload base``) before this run's
        session starts, so the run that builds it serves from a JVM as cold
        as in every other run."""
        path = os.path.join(os.path.dirname(self.work), f"base-{source_key()}")
        if not os.path.exists(path):
            base_work = f"{self.work}/base"
            os.makedirs(f"{base_work}/tmp")
            subprocess.run([sys.executable, __file__, "--workload", "base", "--seed", str(BASE_SEED),
                            "--seconds", "0", "--work", base_work, "--out", path], check=True)
        return path

    def build_base(self) -> None:
        """``--workload base``: build the base index and move it to ``--out``."""
        self.start_session()
        self.generate(BASE_SEED, BASE_DOCS)
        self.build(f"{self.work}/index")
        self.spark.stop()
        os.rename(f"{self.work}/index", self.args.out)

    def open_searcher(self, index_dir: str) -> Searcher:
        with self.tracer.span("searcher.open", spark=True):
            s = Searcher(self.spark, index_dir)
            s.docs.count()
            s.term_stats.count()
            return s

    # ---------------------------------------------------------------- queries
    def query(self, searcher: Searcher, q: gen.Query, rid, with_docs: bool = True) -> list:
        flt = (F.col("lang") == q.lang) if q.lang else None
        with self.tracer.span("query", rid=rid, spark=True):
            df = searcher.search(q.text, k=q.k, doc_filter=flt, with_docs=with_docs)
            with self.tracer.span("query.execute", spark=True):
                rows = df.collect()
        self.answered[rid] = (q, len(rows))
        if isinstance(rid, int) and rid < N_CHECK_QUERIES:
            self.window_answers[rid] = [(r.docid, r.score) for r in rows]
        return rows

    def closed_loop(self, searcher: Searcher, n_clients: int, seconds: float, lat: list,
                    first: int, tag: str | None = None,
                    limit: int | None = None) -> tuple[int, float]:
        """``n_clients`` threads each send the next query of the stream as
        soon as their previous answer arrives, until ``seconds`` have passed
        (at least one query each) or ``limit`` queries were sent.  Returns
        the next stream index and the throughput: the sum over clients of
        answers ÷ time to the client's last answer, so the clients that
        finish first leave no idle tail in it."""
        lock = threading.Lock()
        nxt = first
        stop = first + limit if limit is not None else None
        t0 = time.time()
        t_end = t0 + seconds
        rates: list[float] = []

        def client() -> None:
            nonlocal nxt
            answered, t_last = 0, t0
            while True:
                with lock:
                    if nxt == stop:
                        break
                    i, nxt = nxt, nxt + 1
                rid = i if tag is None else f"{tag}-{i}"
                if self.timed_query(searcher, self.queries[i % N_QUERIES], rid, lat):
                    answered, t_last = answered + 1, time.time()
                if time.time() >= t_end:
                    break
            rates.append(answered / (t_last - t0) if answered else 0.0)

        threads = [threading.Thread(target=client) for _ in range(n_clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return nxt, sum(rates)

    def timed_query(self, searcher, q, rid, lat: list) -> bool:
        with self.lock:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.query(searcher, q, rid)
            lat.append(time.perf_counter() - t0)
            return True
        except Exception as e:  # an engine failure is counted, never fatal
            self.fail(f"query {rid}", e)
            return False

    # ----------------------------------------------------------------- checks
    def fail(self, what: str, e: Exception) -> None:
        self.failures.append(f"{what}: {type(e).__name__}: {e}")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def check_index(self, index_dir: str, catalog) -> None:
        snap = f"{index_dir}/{catalog.snapshot}"
        self.check(catalog.n_docs == len(self.corpus), f"{snap}: n_docs {catalog.n_docs}")
        cf = pq.read_table(f"{snap}/term_stats", columns=["cf"]).column("cf")
        self.check(int(pc.sum(cf).as_py()) == catalog.total_tokens,
                   f"{snap}: sum(cf) != total_tokens")

    def check_content(self, index_dir: str) -> None:
        """UTF-8 pages byte-identical, binary and oversize pages empty; the
        share of legacy-charset pages decoded back exactly is reported."""
        docs = pq.read_table(f"{index_dir}/s1/docs", columns=["docid", "content"]).to_pydict()
        content = dict(zip(docs["docid"], docs["content"]))
        c = self.corpus
        bad, legacy, exact = 0, 0, 0
        for i, d in enumerate(c.doc_id):
            got = content.get(d)
            if c.kind[i] == "utf8":
                bad += got != c.text[i]
            elif c.kind[i] in ("binary", "oversize"):
                bad += got != ""
            else:
                legacy += 1
                exact += got == c.text[i]
        self.check(bad == 0, f"content: {bad} pages differ")
        self.summary["docs.transcode_exact_ratio"] = exact / max(legacy, 1)

    def check_rank(self, searcher: Searcher) -> None:
        """Block-max answers are rank-identical (docids, scores, tie order)
        to the exhaustive scorer on the stream's first block of queries.
        The generator stratifies every block over the query classes (1-4
        terms, head/torso/tail terms, k=100, lang filter, an unknown term),
        and ``--seed`` draws its queries.  The window's nproc-client part
        serves these queries first; the answers it returned are compared,
        and the block-max answer is computed only for the rest."""
        def answers(i: int):
            q = self.queries[i]
            bm = self.window_answers[i] if i in self.window_answers else [
                (r.docid, r.score) for r in self.query(searcher, q, f"check-{i}", with_docs=False)]
            flt = (F.col("lang") == q.lang) if q.lang else None
            with self.tracer.span("query.exhaustive", spark=True):
                ex = searcher.search(q.text, k=q.k, doc_filter=flt, mode="exhaustive",
                                     with_docs=False).collect()
            return q, bm, [(r.docid, r.score) for r in ex]

        def same(got, want) -> bool:
            return [d for d, _ in got] == [d for d, _ in want] and all(
                abs(a - b) <= 1e-12 * max(abs(b), 1e-300) for (_, a), (_, b) in zip(got, want))

        with ThreadPoolExecutor(self.nproc) as pool:
            results = list(pool.map(answers, range(N_CHECK_QUERIES)))
        for q, bm, ex in results:
            self.check(same(bm, ex), f"rank: query {q.text!r} k={q.k} lang={q.lang}")

    # -------------------------------------------------------------- workloads
    def bulk_build(self) -> None:
        t0 = time.time()
        self.start_session()
        self.generate(self.args.seed, BUILD_DOCS)
        with self.tracer.span("sources.pages.write"):  # input for the window's builds
            write_pages(self.corpus, f"{self.work}/pages", 2 * self.nproc)
        self.build(f"{self.work}/warm-index", "warm-pages", np.arange(WARMUP_DOCS),
                   span="build.warmup")
        self.setup_s = time.time() - t0

        # as many whole builds as fit in the window, at least one
        built = []
        t_end = time.time() + self.args.seconds
        while not self.ops or time.time() + self.ops[-1] < t_end:
            idx = f"{self.work}/index-{len(built)}"
            self.attempted += 1
            t = time.perf_counter()
            try:
                built.append((idx, self.build(idx)))
                self.ops.append(time.perf_counter() - t)
            except Exception as e:  # an engine failure is counted, never fatal
                self.fail(f"build {idx}", e)
                break
        if not built:
            return
        self.items_per_s = len(self.corpus) / statistics.median(self.ops)
        for idx, c in built:
            self.check_index(idx, c)
        last = built[-1][0]
        self.check_content(last)
        self.index_ratio = dir_bytes(f"{last}/s1") / self.input_bytes
        self.summary.update({"build_docs_per_s": self.items_per_s,
                             "index_bytes_per_input_byte": self.index_ratio})
        self.served = last
        if self.args.trace:  # query layers on the fresh index, after the window
            self.check_rank(self.open_searcher(last))

    def serve_topk(self) -> None:
        t0 = time.time()
        base = None if self.args.trace else self.cached_base()
        self.start_session()
        self.generate(BASE_SEED, BASE_DOCS)
        if base is None:  # traced: the build phases are traced, and the delta leaves the cache alone
            base = f"{self.work}/index"
            catalog = self.build(base)
        else:
            catalog = cat.read_catalog(base)
        searcher = self.open_searcher(base)
        # a fresh JVM plans and compiles each query shape on first use, and
        # Python workers start on demand: single-client latency falls by
        # ~20% over the first ~50 queries, then more slowly (README)
        self.closed_loop(searcher, self.nproc, WARMUP_CAP_S, [], N_QUERIES // 2, tag="warm",
                         limit=WARMUP_QUERIES)
        self.setup_s = time.time() - t0
        self.served = base

        # nproc clients first: their queries finish warming the JVM for the
        # single-client latency, the gated figure most sensitive to it
        multi: list[float] = []
        n_multi, self.items_per_s = self.closed_loop(
            searcher, self.nproc, self.args.seconds * MULTI_CLIENT_SHARE, multi, 0)
        n_single = self.closed_loop(searcher, 1, self.args.seconds * (1 - MULTI_CLIENT_SHARE),
                                    self.ops, n_multi)[0] - n_multi
        self.summary.update({
            "query_qps": self.items_per_s,
            "single_client_queries": n_single,
            "single_client_ms": [round(1000 * t) for t in self.ops],
            "multi_client_queries": len(multi),
        })
        if self.ops:
            self.summary.update({"query_p50_ms": 1000 * statistics.median(self.ops),
                                 "query_p90_ms": 1000 * pctl(self.ops, 90)})
        self.check_index(base, catalog)
        self.check_content(base)
        self.check_rank(searcher)
        self.index_ratio = dir_bytes(f"{base}/s1") / self.input_bytes
        self.summary["index_bytes_per_input_byte"] = self.index_ratio
        if self.args.trace:
            self.delta_cycle(base)

    def delta_cycle(self, index_dir: str) -> None:
        """Traced run only: one seeded ~1% delta on the served index, then a
        new Searcher proves it fresh (added tokens found, deleted gone) and
        answers queries on the chained snapshot."""
        d = self.deltas[0]
        delta_df = self.spark.createDataFrame(pd.DataFrame(d.rows), DELTA_SCHEMA)
        t0 = time.time()
        with self.tracer.span("delta.apply", spark=True):
            c = apply_delta(self.spark, index_dir, delta_df, "s2")
        self.summary["delta_s"] = time.time() - t0
        s = self.open_searcher(index_dir)
        added = next(iter(d.added_tokens))
        with self.tracer.span("query", rid="probe-added", spark=True):
            hit = [r.docid for r in s.search(added, k=10, with_docs=False).collect()]
        self.summary["freshness_s"] = time.time() - t0
        with self.tracer.span("query", rid="probe-deleted", spark=True):
            gone = s.search(d.gone_tokens[0], k=10, with_docs=False).collect()
        self.check(hit == [d.added_tokens[added]] and not gone, "delta: probe tokens")
        terms = set(pq.read_table(f"{index_dir}/s2/term_stats", columns=["term"]).column("term").to_pylist())
        self.check(all(t in terms for t in d.added_tokens), "delta: added tokens missing")
        self.check(not any(t in terms for t in d.gone_tokens), "delta: deleted tokens present")
        self.check(c.n_docs == len(self.corpus) + sum(op == "ADDED" for op in d.rows["op"])
                   - sum(op == "DELETED" for op in d.rows["op"]), "delta: n_docs")
        lat: list[float] = []
        for i in range(3):
            self.timed_query(s, self.queries[i], f"chained-{i}", lat)
        self.summary["ingest_query_p50_ms"] = 1000 * statistics.median(lat)
        self.layers.update({
            "catalog.chain_depth": float(c.chain_depth),
            "delta.ranges_rewritten": float(pq.read_table(f"{index_dir}/s2/lineage").num_rows),
            "delta.bytes_written_per_input_byte": dir_bytes(f"{index_dir}/s2")
            / sum(len(h or b"") for h in d.rows["html"]),
            "delta.spark_jobs": float(self.tracer.status_counts(
                [s["group"] for s in self.tracer.by_name("delta.apply")])[0]),
        })

    # ----------------------------------------------------------------- layers
    def layer_metrics(self) -> None:
        """Per-layer numbers of the traced run (after spark.stop())."""
        tr, L = self.tracer, self.layers
        builds = tr.by_name("build")
        # the window's queries; bulk-build has only its traced check queries
        queries = ([q for q in tr.by_name("query") if isinstance(q["rid"], int)]
                   or [q for q in tr.by_name("query") if str(q["rid"]).startswith("check-")])
        groups = {q["id"]: [s["group"] for s in tr.descendants(q) if s["group"]] for q in queries}
        counts = {qid: tr.status_counts(g) for qid, g in groups.items()}
        build_counts = [tr.status_counts([s["group"] for s in tr.descendants(b) if s["group"]])
                        for b in builds]
        self.spark.stop()
        ev = EventLog(f"{self.work}/eventlog")

        med = statistics.median
        L["session.start_s"] = tr.by_name("session.start")[0]["end"] - tr.by_name("session.start")[0]["start"]
        commit = [sum(s["end"] - s["start"] for s in tr.descendants(b) if s["name"] == "catalog.commit")
                  for b in builds]
        L["catalog.commit_s"] = med(commit)
        L.setdefault("catalog.chain_depth", 0.0)
        L["searcher.open_s"] = med(s["end"] - s["start"] for s in tr.by_name("searcher.open"))

        # build phases: median over the run's builds
        per_phase = {p: {"wall_s": [], "task_s": [], "cpu_s": []} for p in PHASES}
        py_sent, py_recv, busy, seg = [], [], [], {k: [] for k in
                                        ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "shuffle_records")}
        for b in builds:
            jobs = ev.group_jobs([s["group"] for s in tr.descendants(b) if s["group"]])
            ph = ev.phases(jobs, b["start"])
            for p in PHASES:
                per_phase[p]["wall_s"].append(ph[p]["wall_s"])
                per_phase[p]["task_s"].append(ev.job_sum(ph[p]["jobs"], "run_s"))
                per_phase[p]["cpu_s"].append(ev.job_sum(ph[p]["jobs"], "cpu_s"))
            # core-seconds that ran tasks; the rest is per-job driver and launch time
            busy.append(sum(per_phase[p]["task_s"][-1] for p in PHASES)
                        / (self.nproc * (b["end"] - b["start"])))
            py_sent.append(ev.job_sum(ph["docs_pass"]["jobs"], "py_sent"))
            py_recv.append(ev.job_sum(ph["docs_pass"]["jobs"], "py_recv"))
            for k in seg:
                seg[k].append(ev.job_sum(ph["segments"]["jobs"], k))
        for p, vals in per_phase.items():
            for k, v in vals.items():
                L[f"build.{p}.{k}"] = med(v)
        L["build.docs_pass.python_bytes_sent"] = med(py_sent)
        L["build.docs_pass.python_bytes_received"] = med(py_recv)
        L["build.segments.shuffle_write_bytes"] = med(seg["shuffle_write_bytes"])
        L["build.segments.shuffle_read_bytes"] = med(seg["shuffle_read_bytes"])
        L["build.segments.spill_bytes"] = med(seg["spill_bytes"])
        L["build.segments.records"] = med(seg["shuffle_records"])
        L["build.spark_jobs"] = med(c[0] for c in build_counts)
        L["build.spark_stages"] = med(c[1] for c in build_counts)
        L["build.busy_share"] = med(busy)

        for d in tr.by_name("delta.apply"):
            ph = ev.phases(ev.group_jobs([s["group"] for s in tr.descendants(d) if s["group"]]), d["start"])
            for p in PHASES:
                L[f"delta.{p}.wall_s"] = ph[p]["wall_s"]

        # storage of the served / last built index
        snap = f"{self.served}/s1"
        n_postings = pq.read_table(f"{snap}/segments", columns=["n_docs"]).column("n_docs")
        L["index.segments_bytes_per_posting"] = dir_bytes(f"{snap}/segments") / int(pc.sum(n_postings).as_py())
        L["index.docs_bytes"] = float(dir_bytes(f"{snap}/docs"))
        L["index.term_stats_bytes"] = float(dir_bytes(f"{snap}/term_stats"))
        L["index.bytes_per_input_byte"] = self.index_ratio

        # query path: medians over queries
        blocks = pq.read_table(f"{snap}/segments", columns=["term"]).column("term").value_counts()
        blocks = {b["values"].as_py(): b["counts"].as_py() for b in blocks}
        def kid_ms(q, name):
            return 1000 * sum(s["end"] - s["start"] for s in tr.descendants(q) if s["name"] == name)
        qm = {k: [] for k in ("analyze_ms", "plan_ms", "execute_ms", "task_s", "sched_delay_ms")}
        for q in queries:
            jobs = ev.group_jobs(groups[q["id"]])
            qm["analyze_ms"].append(kid_ms(q, "query.analyze"))
            qm["plan_ms"].append(kid_ms(q, "query.plan"))
            qm["execute_ms"].append(kid_ms(q, "query.execute"))
            qm["task_s"].append(ev.job_sum(jobs, "run_s"))
            qm["sched_delay_ms"].append(1000 * ev.sched_delay_s(jobs))
        for k, v in qm.items():
            L[f"query.{k}"] = med(v)
        L["query.spark_jobs"] = med(c[0] for c in counts.values())
        L["query.spark_stages"] = med(c[1] for c in counts.values())
        L["query.spark_tasks"] = med(c[2] for c in counts.values())
        L["query.blocks_per_result"] = med(
            sum(blocks.get(t, 0) for t in analyze_query(q.text, ANALYZER)) / n
            for q, n in (self.answered[s["rid"]] for s in queries) if n)

        wall = (self.t_done - tr.by_name("session.start")[0]["start"])
        top = [(s["start"], s["end"]) for s in tr.spans if s["parent"] is None]
        L["trace.uncovered_pct"] = 100 * (1 - covered(top) / wall)
        L["trace.op_p50_ms"] = 1000 * statistics.median(self.ops)


def pctl(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["bulk-build", "serve-topk", "base"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    run = Run(args)
    if args.workload == "base":
        run.build_base()
        return 0
    try:
        {"bulk-build": run.bulk_build, "serve-topk": run.serve_topk}[args.workload]()
    except Exception as e:  # an engine failure is reported as one failed step, never lost
        run.attempted += 1
        run.fail(f"{args.workload} aborted", e)
    run.t_done = time.time()
    if args.trace and not run.failures:
        run.layers.update(kernels.probe(run.corpus, args.seed))
        run.layers["docs.transcode_exact_ratio"] = run.summary["docs.transcode_exact_ratio"]
        run.layer_metrics()
        os.makedirs("perfbench_out", exist_ok=True)
        run.tracer.dump(f"perfbench_out/trace-{args.workload}-seed{args.seed}.json",
                        {"layers": run.layers, "summary": run.summary})
    elif hasattr(run, "spark"):
        run.spark.stop()
    # a metric no operation produced is null; the run then has failures
    result = {
        "attempted": run.attempted, "failed": len(run.failures), "failures": run.failures[:20],
        "summary": run.summary, "layers": run.layers,
        "e2e": {
            "setup_s": run.setup_s,
            "op_p50_ms": 1000 * statistics.median(run.ops) if run.ops else None,
            "items_per_s": run.items_per_s,
        },
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
