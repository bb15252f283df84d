"""One benchmark run: set up, drive one workload, check every answer.

Run by `perfbench/run.py` in its own process session (so the
supervisor can sample the memory of the whole tree, JVM and Python
workers included, and stop all of it); writes its result as JSON to
`--result`.

Workloads (all closed-loop; the Spark session is local[nproc / 2]):

  search_solo   one client sends ES `_search` bodies over HTTP to an
                index built in set-up from the seeded corpus. Nothing
                contends, so a request's time is exactly its blocking
                steps (plan build, py4j, Spark job floor, kernel,
                fetch, render).
  ingest_merge  K sequential `build_index` batches into a fresh index,
                each followed by a refresh and a few probe requests,
                then pairwise merges and probes again. Every probe
                follows a refresh that drops the read-path caches, so a
                cache that slows commit or refresh shows here while
                search_solo lets caches warm.

Every end-to-end metric is reported by every workload, so both also
touch the other's layers in a fixed way: search_solo builds its corpus
into fresh indexes between its requests, and ingest_merge's probes are
the same query mix over HTTP. Timed builds run after an untimed one,
and timed requests after an untimed search and aggregation, so no
sample pays the JVM's first use of its path.

The Spark session gets half the cores: the JVM's compiler and GC
threads, the driver's HTTP server and client and the Python workers
need the rest, or request times measure the scheduler.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

from perfbench.corpus import (
    LEN_BLOCK,
    QUERY_CLASSES,
    ROUND,
    Query,
    make_corpus,
    make_queries,
    request_sequence,
)
from perfbench.oracle import Answer, Oracle
from perfbench.trace import Tracer, median

INDEX = "web"
SEARCH_DOCS = 10_000
SEARCH_PARTITIONS = 4
BUILD_SAMPLES = 3  # search_solo: timed builds of the corpus after the served one
INGEST_BATCHES = 4  # ingest_merge: timed batches after the first
PROBES_PER_BATCH = 2
SETUP_REPEATS = 3
ORACLE_SAMPLE = 1
VISIBILITY = {"query": {"match_all": {}}, "size": 0, "track_total_hits": True}
TRACE_PARAM = "perfbench-trace"


# ---------------------------------------------------------------- http


class Client:
    """Keep-alive HTTP client for the ES `_search` route."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)

    def search(self, body: dict, trace_ids: tuple[int, int] | None = None):
        ctype = "application/json"
        if trace_ids is not None:
            ctype += f"; {TRACE_PARAM}={trace_ids[0]}.{trace_ids[1]}"
        self.conn.request(
            "POST",
            f"/{INDEX}/_search",
            body=json.dumps(body).encode(),
            headers={"Content-Type": ctype},
        )
        resp = self.conn.getresponse()
        return resp.status, json.loads(resp.read())

    def close(self) -> None:
        self.conn.close()


# ---------------------------------------------------------------- run


class Run:
    """Shared state of one run: session, oracle, counters, tracer."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.work = args.work
        self.tracer = Tracer() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.requests: list[dict] = []  # one per mix request
        self.ingest: list[tuple[int, float]] = []  # (docs, secs) per measured batch
        self.build_bytes: list[int] = []
        self.tts: list[float] = []
        self.setup: list[float] = []
        self.merge: dict = {}
        self.servers: list = []
        self.context: dict = {}
        self.probe_metrics: dict = {}
        self.text_bytes = 0  # raw text of every built batch
        self.read_wall = 0.0  # wall time spent sending mix requests
        self.index_bytes = 0  # live bytes of the measured index
        self.index_text_bytes = 0  # raw text those bytes index
        self.spark = None
        self._mark = time.perf_counter()

    # ----------------------------------------------------- plumbing

    def start_spark(self) -> None:
        from quickwit_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            cores=max(1, (os.cpu_count() or 2) // 2),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )

    def traced(self):
        """Trace context for driver-side phases (build, refresh, merge)."""
        return self.tracer.request() if self.tracer else nullcontext()

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def serve(self, searcher):
        from quickwit_spark.search.es_wire import EsWireHandler
        from quickwit_spark.serve import EsHttpServer

        srv = EsHttpServer(handler=EsWireHandler({INDEX: searcher})).start()
        self.servers.append(srv)
        return srv

    def stop_servers(self) -> None:
        for srv in self.servers:
            srv.stop()
        self.servers.clear()

    def build(self, df, idx: str, cfg, job_id: str, text_bytes: int,
              measured: bool = True) -> float:
        """One `build_index` call; returns its start time. Only a
        measured batch counts toward ingest throughput."""
        from quickwit_spark.index import builder

        before = dir_bytes(idx)
        t0 = time.perf_counter()
        with self.traced():
            recs = builder.build_index(self.spark, df, idx, cfg, job_id=job_id)
        secs = time.perf_counter() - t0
        if measured:
            self.ingest.append((sum(r.num_docs for r in recs), secs))
        self.build_bytes.append(dir_bytes(idx) - before)
        self.text_bytes += text_bytes
        return t0

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase mark."""
        now = time.perf_counter()
        self.context.setdefault("phase_s", {})[name] = round(now - self._mark, 3)
        self._mark = now

    def visible(self, client: Client, want: int) -> None:
        """Checked probe: the match-all count must equal `want`."""
        status, resp = client.search(VISIBILITY)
        got = resp.get("hits", {}).get("total", {}).get("value") if status == 200 else None
        self.record(got == want, f"visibility: {got} docs, want {want}")

    def mix_request(self, client: Client, q: Query, ans: Answer, traced: bool,
                    max_doc: int | None = None) -> None:
        t = self.tracer
        rec = {"class": q.qclass, "traced": traced}
        ctx = t.request() if traced else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx as req:
                with (t.span("request") if traced else nullcontext()) as root:
                    status, resp = client.search(q.body, (req, root) if traced else None)
            rec["secs"] = time.perf_counter() - t0
            err = ans.check(q, resp, max_doc) if status == 200 else f"HTTP {status}"
        except (OSError, http.client.HTTPException, ValueError) as e:
            rec["secs"] = float("inf")
            err = f"{type(e).__name__}: {e}"
        if traced:
            rec["req"] = req
            rec.update(job_stats(self.spark, req))
        self.record(err is None, f"{q.name}: {err}")
        self.requests.append(rec)

    def oracle_topk(self, searcher, oracle: Oracle, queries: list[Query], max_doc: int) -> None:
        """Untimed: oracle-mode top-k keys and scores vs DuckDB BM25."""
        from quickwit_spark.query.es_dsl import from_es_body

        rng = np.random.default_rng([self.seed, 4])
        pool = [q for q in queries if q.qclass in ("hot_term", "and2", "or3", "bool_not")]
        for i in rng.choice(len(pool), size=min(ORACLE_SAMPLE, len(pool)), replace=False):
            q = pool[int(i)]
            rows = searcher.search(from_es_body(q.body, ["text"]), k=10, mode="oracle").collect()
            got = [(int(r["doc_key"]), float(r["score"])) for r in rows]
            want = oracle.bm25_topk(q, max_doc)
            ok = [d for d, _ in got] == [d for d, _ in want] and all(
                abs(a - b) <= 1e-6 for (_, a), (_, b) in zip(got, want)
            )
            self.record(ok, f"oracle top-k {q.name}: {got[:3]} vs {want[:3]}")

    def merge_index(self, idx: str) -> None:
        """`run_merges`, one round of pairwise merges. A traced run
        runs the ops one at a time, so their spans stay on the traced
        thread."""
        from quickwit_spark.index import manifest, merge

        before = dir_bytes(idx)
        t0 = time.perf_counter()
        with self.traced():
            recs = merge.run_merges(
                self.spark,
                idx,
                policy=merge.MergePolicy(merge_factor=2, max_merge_factor=2),
                max_rounds=1,
                max_concurrent=1 if self.tracer else 4,
            )
        secs = time.perf_counter() - t0
        self.merge = {
            "secs": secs,
            "docs": sum(r.num_docs for r in recs),
            "ops": len(recs),
            "bytes": dir_bytes(idx) - before,
            "segments_after": len(manifest.live_segments(idx)),
        }


# ---------------------------------------------------------------- helpers


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def live_bytes(idx: str) -> int:
    """Bytes of the parquet data of live segments plus the manifest."""
    from quickwit_spark.index import manifest

    batches = {
        (s.lineage or {}).get("batch_id") or s.segment_id
        for s in manifest.live_segments(idx)
    }
    total = dir_bytes(os.path.join(idx, "_manifest"))
    for top in ("inv", "docs"):
        for b in batches:
            total += dir_bytes(os.path.join(idx, top, f"batch_id={b}"))
    return total


def job_stats(spark, req: int) -> dict:
    """Jobs, stages and tasks Spark ran under the request's job group."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for j in st.getJobIdsForGroup(f"perfbench-{req}"):
        info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for s in info.stageIds:
            si = st.getStageInfo(s)
            stages += 1
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "tasks_failed": failed}


def index_config(partitions: int):
    from quickwit_spark.index.builder import FieldConfig, IndexConfig

    return IndexConfig(
        fields=[FieldConfig("text")],
        doc_key="doc_id",
        num_partitions=partitions,
        stored_columns=("url", "lang"),
        time_column="warc_ts",
    )


def docs_of(df, ids):
    from pyspark.sql import functions as F

    return df.filter(F.col("doc_id").isin([int(i) for i in ids]))


def text_bytes_of(corpus, ids) -> int:
    texts = corpus.table.column("text")
    return sum(len(texts[int(i)].as_py()) for i in ids)


def make_inputs(seed: int, num_docs: int, work: str):
    """Corpus (written as parquet), query mix, DuckDB oracle and the
    expected answer of every query: no Spark involved."""
    corpus = make_corpus(seed, num_docs)
    path = os.path.join(work, "corpus.parquet")
    pq.write_table(corpus.table, path)
    queries = make_queries(corpus, seed)
    oracle = Oracle(corpus, os.path.join(work, "duckdb"))
    answers = {q.name: Answer(*oracle.matches(q)) for q in queries}
    return corpus, queries, oracle, answers, path


def prepare(run: Run, num_docs: int):
    """Start Spark while a thread makes the inputs (the JVM starts in
    its own process, so the two overlap)."""
    with ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(make_inputs, run.seed, num_docs, run.work)
        run.start_spark()
        corpus, queries, oracle, answers, path = inputs.result()
    if run.tracer is not None:
        instrument(run)
    df = run.spark.read.parquet(path)
    run.context.update(corpus_docs=corpus.num_docs, corpus_text_bytes=corpus.text_bytes)
    run.phase("spark_start_and_inputs")
    return corpus, queries, oracle, answers, df


def middle_docs(corpus, block: int) -> list[int]:
    """The doc ids of the two middle-length docs of a length block:
    the same token counts on every seed."""
    ids = range(block * LEN_BLOCK, (block + 1) * LEN_BLOCK)
    texts = corpus.table.column("text")
    ranked = sorted(ids, key=lambda i: (texts[i].as_py().count(" "), i))
    mid = LEN_BLOCK // 2
    return ranked[mid - 1 : mid + 1]


def warm_up(run: Run, client: Client, searcher, oracle: Oracle, queries: list[Query],
            answers: dict, max_doc: int) -> None:
    """Untimed, checked work that takes the JVM's first-use cost of the
    search path (the oracle-mode top-k check: plan, Spark jobs,
    collect) and of the aggregation path (one agg request over HTTP)
    out of the timed requests."""
    run.oracle_topk(searcher, oracle, queries, max_doc)
    q = next(q for q in queries if q.agg)
    status, resp = client.search(q.body)
    err = answers[q.name].check(q, resp, max_doc) if status == 200 else f"HTTP {status}"
    run.record(err is None, f"warm-up {q.name}: {err}")


def traced_order(run: Run, i: int) -> bool:
    """Traced runs alternate traced and untraced requests of the same
    query (which one goes first flips each pair), so the pair compares
    tracing overhead under equal cache state."""
    if run.tracer is None:
        return False
    pair, second = divmod(i, 2)
    return (pair % 2 == 0) == (second == 0)


# ---------------------------------------------------------------- workloads


def open_index(run: Run, idx: str, num_docs: int):
    """Set-up, repeated SETUP_REPEATS times: open an `IndexSearcher`,
    serve it over HTTP and answer a checked visibility probe. Returns
    the last searcher and its client."""
    from quickwit_spark.search.engine import IndexSearcher

    searcher = client = None
    for _ in range(SETUP_REPEATS):
        run.stop_servers()
        if client is not None:
            client.close()
        t0 = time.perf_counter()
        with run.traced():
            searcher = IndexSearcher(run.spark, idx)
        client = Client(run.serve(searcher).port)
        run.visible(client, num_docs)
        run.setup.append(time.perf_counter() - t0)
    return searcher, client


def timed_build(run: Run, df, cfg, k: int, num_docs: int, text_bytes: int) -> None:
    """Build the corpus into a fresh index, open it and probe it:
    one ingest and one time-to-searchable sample."""
    from quickwit_spark.search.engine import IndexSearcher

    path = os.path.join(run.work, f"idx{k}")
    t0 = run.build(df, path, cfg, f"main{k}", text_bytes)
    with run.traced():
        probe = Client(run.serve(IndexSearcher(run.spark, path)).port)
    run.visible(probe, num_docs)
    run.tts.append(time.perf_counter() - t0)
    probe.close()


def search_solo(run: Run) -> None:
    corpus, queries, oracle, answers, df = prepare(run, SEARCH_DOCS)
    # the served index; the run's first build also starts the Python
    # workers, so it is not timed
    idx = os.path.join(run.work, "idx")
    cfg = index_config(SEARCH_PARTITIONS)
    run.build(df, idx, cfg, "main", corpus.text_bytes, measured=False)
    run.phase("main_build")
    searcher, client = open_index(run, idx, corpus.num_docs)
    run.context["segments"] = len(searcher.segments)
    run.phase("setup")
    # the first search and the first aggregation of a JVM are each
    # slower by about a second and a half (code generation, class loading)
    warm_up(run, client, searcher, oracle, queries, answers, corpus.num_docs)
    run.phase("warm_up")

    seq = request_sequence(queries, run.seed, 10_000)
    # a run sends whole rounds of the mix (a traced run sends each query
    # twice), so every run has the same class mix however many requests
    # fit before the deadline. The timed builds go between the requests
    # of the first round, so their samples and the requests' spread over
    # the same stretch of the run.
    round_len = len(ROUND) * (2 if run.tracer else 1)
    build_at = {round_len * (k + 1) // BUILD_SAMPLES: k for k in range(BUILD_SAMPLES)}
    deadline = time.perf_counter() + run.args.seconds
    i = 0
    while i < round_len or i % round_len or time.perf_counter() < deadline:
        q = queries[seq[i // 2] if run.tracer else seq[i]]
        t0 = time.perf_counter()
        run.mix_request(client, q, answers[q.name], traced_order(run, i))
        run.read_wall += time.perf_counter() - t0
        i += 1
        if i in build_at:
            timed_build(run, df, cfg, build_at[i] + 1, corpus.num_docs, corpus.text_bytes)
    client.close()
    run.phase("read_and_builds")
    run.index_bytes = live_bytes(idx)
    run.index_text_bytes = corpus.text_bytes
    if run.tracer is not None:
        # the merge layer's spans: two two-doc batches into a side
        # index, then merged (traced runs only)
        side = os.path.join(run.work, "side_idx")
        for b in range(2):
            ids = middle_docs(corpus, b)
            run.build(docs_of(df, ids), side, index_config(1), f"side{b}",
                      text_bytes_of(corpus, ids), measured=False)
        run.merge_index(side)
        layer_probes(run, searcher, corpus, queries)
    run.stop_servers()
    oracle.close()


def ingest_merge(run: Run) -> None:
    n = (1 + INGEST_BATCHES) * LEN_BLOCK
    corpus, queries, oracle, answers, df = prepare(run, n)
    cfg = index_config(1)
    seq = request_sequence(queries, run.seed, 1000)
    probe_i = 0
    per_round = PROBES_PER_BATCH
    if run.tracer is not None:
        # every class gets a traced sample: a whole round of the mix
        # over the batches + 2 refreshes
        per_round = 2 * max(PROBES_PER_BATCH, -(-len(ROUND) // (INGEST_BATCHES + 2)))

    def probes(client, max_doc):
        nonlocal probe_i
        t0 = time.perf_counter()
        for _ in range(per_round):
            # traced runs send each probe twice (traced and untraced)
            q = queries[seq[probe_i // 2 if run.tracer else probe_i]]
            run.mix_request(client, q, answers[q.name], traced_order(run, probe_i), max_doc)
            probe_i += 1
        run.read_wall += time.perf_counter() - t0

    b0 = LEN_BLOCK
    idx = os.path.join(run.work, "idx")
    # batch 0 also starts the Python workers, so it is not timed
    run.build(docs_of(df, range(b0)), idx, cfg, "ing0000",
              text_bytes_of(corpus, range(b0)), measured=False)
    run.phase("first_batch")
    searcher, client = open_index(run, idx, b0)
    run.phase("setup")
    warm_up(run, client, searcher, oracle, queries, answers, b0)
    run.phase("warm_up")
    probes(client, b0)
    for b in range(1, 1 + INGEST_BATCHES):
        lo, hi = b * b0, (b + 1) * b0
        t0 = run.build(docs_of(df, range(lo, hi)), idx, cfg, f"ing{b:04d}",
                       text_bytes_of(corpus, range(lo, hi)))
        with run.traced():
            searcher.refresh()
        run.visible(client, hi)
        run.tts.append(time.perf_counter() - t0)
        probes(client, hi)
    run.phase("batches")
    run.merge_index(idx)
    run.phase("merge")
    with run.traced():
        searcher.refresh()
    run.visible(client, n)
    probes(client, n)
    client.close()
    run.oracle_topk(searcher, oracle, queries, n)
    run.phase("final_probes_and_oracle")
    run.context["segments"] = len(searcher.segments)
    run.index_bytes = live_bytes(idx)
    run.index_text_bytes = run.text_bytes
    if run.tracer is not None:
        layer_probes(run, searcher, corpus, queries)
    run.stop_servers()
    oracle.close()


WORKLOADS = {"search_solo": search_solo, "ingest_merge": ingest_merge}


# ---------------------------------------------------------------- metrics


def end_to_end(run: Run) -> dict:
    lat = [r["secs"] for r in run.requests]
    run.context["requests"] = len(lat)
    run.context["request_s"] = [[r["class"], round(r["secs"], 3)] for r in run.requests]
    run.context["ops_failed_frac"] = run.failed / max(run.attempted, 1)
    run.context["query_tail"] = tail(lat)
    # kept out of the metrics (see README): with one client qps is the
    # reciprocal of the mean request time, and too few merges fit a run
    # to time them steadily
    run.context["qps"] = len(lat) / run.read_wall
    if run.merge:
        run.context["merge_docs_per_s"] = run.merge["docs"] / run.merge["secs"]
    return {
        "setup_s": (median(run.setup), "s"),
        "query_p50_s": (median(lat), "s"),
        "ingest_docs_per_s": (median(d / secs for d, secs in run.ingest), "docs/s"),
        "time_to_searchable_s": (median(run.tts), "s"),
        "index_bytes_per_text_byte": (run.index_bytes / run.index_text_bytes, "ratio"),
        "bytes_written_per_text_byte": (
            (sum(run.build_bytes) + run.merge.get("bytes", 0)) / run.text_bytes, "ratio"
        ),
    }


def tail(lat: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, and
    its value (nearest rank); none when a run has ten samples or fewer."""
    n = len(lat)
    if n <= 10:
        return {"samples": n, "percentile": None, "value_s": None}
    pct = 100.0 * (n - 10) / n
    return {"samples": n, "percentile": round(pct, 1), "value_s": sorted(lat)[n - 11]}


def per_layer(run: Run) -> dict:
    t = run.tracer
    traced = [r for r in run.requests if r["traced"]]
    untraced = [r["secs"] for r in run.requests if not r["traced"]]
    spans = t.by_request()
    per_req: dict[str, list[float]] = {}
    unattributed = []
    for r in traced:
        ss = spans.get(r["req"], [])
        for name in ("serve.wire", "query.parse", "engine.plan", "spark.action"):
            per_req.setdefault(name, []).append(t.per_request_total(ss, name))
        per_req.setdefault("py4j", []).append(t.counter_in(r["req"], "engine.plan", "py4j_calls"))
        unattributed.append(t.self_times(ss).get("request", 0.0))
    out = {
        "serve.request_s": (median(r["secs"] for r in traced), "s"),
        "serve.wire_s": (median(per_req["serve.wire"]), "s"),
        "query.parse_s": (median(per_req["query.parse"]), "s"),
        "engine.plan_s": (median(per_req["engine.plan"]), "s"),
        "engine.py4j_calls": (median(per_req["py4j"]), "count"),
        "engine.execute_s": (median(per_req["spark.action"]), "s"),
        "engine.refresh_s": (median(t.durations("engine.refresh")), "s"),
        "spark.jobs_per_query": (median(r["jobs"] for r in traced), "count"),
        "spark.stages_per_query": (median(r["stages"] for r in traced), "count"),
        "spark.tasks_per_query": (median(r["tasks"] for r in traced), "count"),
        "spark.tasks_failed": (sum(r["tasks_failed"] for r in traced), "count"),
        "builder.batch_s": (median(t.durations("builder.build_index")), "s"),
        "builder.bytes_written": (median(run.build_bytes), "bytes"),
        "manifest.commit_s": (median(t.durations("manifest.commit")), "s"),
        "manifest.live_segments_s": (median(t.durations("manifest.live_segments")), "s"),
        "merge.plan_s": (median(t.durations("merge.plan")), "s"),
        "merge.op_s": (median(t.durations("merge.op")), "s"),
        "merge.ops": (run.merge["ops"], "count"),
        "merge.bytes_rewritten": (run.merge["bytes"], "bytes"),
        "merge.segments_after": (run.merge["segments_after"], "count"),
    }
    for c in QUERY_CLASSES:
        out[f"class.{c}.p50_s"] = (
            median(r["secs"] for r in traced if r["class"] == c), "s"
        )
    out.update(run.probe_metrics)
    out["trace.overhead_frac"] = (
        median(r["secs"] for r in traced) / median(untraced) - 1.0, "ratio"
    )
    out["trace.unattributed_s"] = (median(unattributed), "s")
    run.context["layer_self_s"] = {
        name: round(median(v), 6)
        for name, v in _self_time_table(t, traced).items()
    }
    return out


def _self_time_table(t: Tracer, traced: list[dict]) -> dict[str, list[float]]:
    spans = t.by_request()
    table: dict[str, list[float]] = {}
    for r in traced:
        for name, v in t.self_times(spans.get(r["req"], [])).items():
            table.setdefault(name, []).append(v)
    return table


def layer_probes(run: Run, searcher, corpus, queries: list[Query]) -> None:
    """Driver-side calls into single layers on this run's real data:
    segment pruning, kernel decode and scoring on one segment's inv
    rows, postings decode, the terms agg and the tokenizer."""
    import pyarrow.dataset as ds

    from quickwit_spark.analysis.tokenizer import resolve_tokenizer, tokenize_flat_arrow
    from quickwit_spark.codec.postings import decode_postings
    from quickwit_spark.query.ast import Term
    from quickwit_spark.query.es_dsl import from_es_body
    from quickwit_spark.search import aggs
    from quickwit_spark.search.kernel import SegmentData, evaluate_segment

    m: dict = {}
    inv = ds.dataset(os.path.join(searcher.index_dir, "inv"), format="parquet",
                     partitioning="hive")
    live = [s.segment_id for s in searcher.segments]
    tok = lambda field: resolve_tokenizer("default", {})  # noqa: E731
    searched_total = useful_total = 0
    decode_bytes = decode_secs = 0.0
    all_from, all_eval, all_rows = [], [], []
    for c in QUERY_CLASSES:
        q = next(q for q in queries if q.qclass == c)
        plan = searcher.search_plan(from_es_body(q.body, ["text"]), k=10)
        terms = plan["warmup_terms"]
        segs = plan["segments_searched"]
        post = inv.to_table(
            filter=(ds.field("kind") == "postings") & ds.field("term").isin(terms or [""])
            & ds.field("segment_id").isin(segs or [""]),
            columns=["segment_id"],
        )
        useful = len(set(post.column("segment_id").to_pylist()))
        searched_total += len(segs)
        useful_total += useful
        ast = _kernel_ast(q, terms)
        from_s, eval_s = [], []
        for sid in live[:4]:
            rows = inv.to_table(
                filter=(ds.field("segment_id") == sid)
                & (
                    ((ds.field("kind") == "postings") & ds.field("term").isin(terms or [""]))
                    | ds.field("kind").isin(["norms", "stats"])
                )
            ).to_pylist()
            t0 = time.perf_counter()
            seg = SegmentData.from_rows(sid, rows)
            t1 = time.perf_counter()
            evaluate_segment(seg, ast, tok, k=10)
            t2 = time.perf_counter()
            from_s.append(t1 - t0)
            eval_s.append(t2 - t1)
            all_rows.append(len(rows))
            for r in rows:
                if r["kind"] == "postings":
                    t3 = time.perf_counter()
                    decode_postings(r["payload1"], r["payload2"], r["doc_freq"])
                    decode_secs += time.perf_counter() - t3
                    decode_bytes += len(r["payload1"]) + len(r["payload2"])
        m[f"kernel.{c}.from_rows_s"] = (median(from_s), "s")
        m[f"kernel.{c}.evaluate_s"] = (median(eval_s), "s")
        all_from += from_s
        all_eval += eval_s
    m["kernel.from_rows_s"] = (median(all_from), "s")
    m["kernel.evaluate_s"] = (median(all_eval), "s")
    m["kernel.rows_in"] = (median(all_rows), "count")
    m["codec.decode_mb_per_s"] = (decode_bytes / 1e6 / decode_secs, "MB/s")
    m["engine.segments_searched"] = (searched_total / len(QUERY_CLASSES), "count")
    m["engine.segments_useful_ratio"] = (useful_total / max(searched_total, 1), "ratio")
    hot = next(q for q in queries if q.qclass == "hot_term").should[0]
    t0 = time.perf_counter()
    aggs.terms_agg_for_query(searcher, Term("text", hot), "lang").collect()
    m["aggs.terms_s"] = (time.perf_counter() - t0, "s")
    texts = corpus.table.column("text")[:2000]
    t0 = time.perf_counter()
    toks, _ = tokenize_flat_arrow(texts, "default")
    m["analysis.tokens_per_s"] = (len(toks) / (time.perf_counter() - t0), "tokens/s")
    run.probe_metrics = m


def _kernel_ast(q: Query, terms: list[str]):
    """The query's text part as the kernel sees it (time filters are
    applied before the kernel; a wildcard arrives expanded)."""
    from quickwit_spark.query.ast import Bool, Term

    t = lambda w: Term("text", w)  # noqa: E731
    if q.prefix is not None:
        return Bool(should=[t(w) for w in terms]) if terms else Term("text", q.prefix)
    if q.must_not:
        return Bool(must=[t(w) for w in q.must], must_not=[t(w) for w in q.must_not])
    if q.must:
        return Bool(must=[t(w) for w in q.must])
    return Bool(should=[t(w) for w in q.should])


# ---------------------------------------------------------------- tracing


def instrument(run: Run) -> None:
    """Wrap the public entry points of each layer (traced runs only)."""
    from quickwit_spark import serve
    from quickwit_spark.index import builder, manifest, merge
    from quickwit_spark.query import es_dsl
    from quickwit_spark.search import engine, es_aggs, es_wire

    t = run.tracer
    sc = run.spark.sparkContext
    # the concrete DataFrame class (pyspark.sql.DataFrame is its base)
    DataFrame = type(run.spark.range(1))
    handle = serve.EsHttpServer.handle

    def traced_handle(self, method, path, raw_body, content_type=None):
        ids = None
        for part in (content_type or "").split(";")[1:]:
            k, _, v = part.strip().partition("=")
            if k == TRACE_PARAM:
                req, _, parent = v.partition(".")
                ids = int(req), int(parent)
        if ids is None:
            return handle(self, method, path, raw_body, content_type=content_type)
        with t.request(*ids):
            sc.setJobGroup(f"perfbench-{ids[0]}", "perfbench request")
            try:
                with t.span("serve.handle"):
                    return handle(self, method, path, raw_body, content_type=content_type)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

    serve.EsHttpServer.handle = traced_handle
    t._patches.append((serve.EsHttpServer, "handle", handle))
    for owner, attr, name in (
        (es_wire.EsWireHandler, "request", "serve.wire"),
        (engine.IndexSearcher, "es_search_response", "engine.response"),
        (engine.IndexSearcher, "es_search", "engine.es_search"),
        (es_dsl, "from_es_body", "query.parse"),
        (engine.IndexSearcher, "search", "engine.plan"),
        (engine.IndexSearcher, "count", "engine.count"),
        (engine.IndexSearcher, "refresh", "engine.refresh"),
        (es_aggs, "run_es_aggs", "aggs.es"),
        (DataFrame, "collect", "spark.action"),
        (DataFrame, "count", "spark.action"),
        (DataFrame, "toPandas", "spark.action"),
        (builder, "build_index", "builder.build_index"),
        (manifest, "commit", "manifest.commit"),
        (manifest, "live_segments", "manifest.live_segments"),
        (merge, "execute_merge", "merge.op"),
        (merge.MergePolicy, "plan", "merge.plan"),
    ):
        t.wrap(owner, attr, name)
    client = sc._gateway._gateway_client
    send = client.send_command

    def counted_send(*args, **kwargs):
        t.count("py4j_calls")
        return send(*args, **kwargs)

    client.send_command = counted_send
    t._patches.append((client, "send_command", send))


# ---------------------------------------------------------------- main


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_loop_ms() -> float:
    """Median time of a fixed pure-Python loop: the host's speed at
    this moment. On a shared host it moves by a third or more from one
    few-minute stretch to the next, and every timing of a run with it."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return median(times)


def host_context(run: Run) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": run.seed,
        "workload": run.args.workload,
        "trace": run.args.trace,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args(argv)
    run = Run(args)
    run.context.update(host_context(run))
    loop0 = cpu_loop_ms()
    steal0, total0 = cpu_ticks()
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.stop_servers()
        if run.tracer is not None:
            run.tracer.restore()
    metrics = per_layer(run) if run.tracer is not None else end_to_end(run)
    load = os.getloadavg()
    run.context["loadavg_end"] = [round(x, 2) for x in load]
    # the load-wait rule of bench.py, as a flag: a 1-minute load above
    # the core count means the figures shared the host
    run.context["load_flagged"] = max(run.context["loadavg_start"][0], load[0]) > (
        os.cpu_count() or 1
    )
    steal1, total1 = cpu_ticks()
    # time the hypervisor gave other guests while this run wanted a CPU
    run.context["cpu_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    run.context["cpu_loop_ms"] = [round(loop0, 2), round(cpu_loop_ms(), 2)]
    run.context["errors"] = run.errors
    if args.trace_out and run.tracer is not None:
        with open(args.trace_out, "w") as f:
            json.dump(run.tracer.dump(), f)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        "context": run.context,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
