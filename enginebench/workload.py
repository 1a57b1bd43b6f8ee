"""The benchmark pipeline: set-up, bulk build, serving, and the write
lifecycle, each driven only through the engine's public entry points
and each answer checked against ``oracle.bm25_ref.OracleIndex``."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd

from engine.compact import compact_index, delete_documents
from engine.frontend import SearchService, create_app
from engine.index import IndexReader, build_index
from engine.io import read_corpus, with_identity
from engine.merge import merge_indexes
from engine.session import get_spark
from oracle.bm25_ref import OracleIndex

import layers
from inputs import QueryGen, content_bytes, make_corpus, write_corpus
from probes import PeakRss, SparkCounts, answer_ok, descendants, median, timed

K = 10
BATCH_SIZE = 60
# HTTP requests between two bm25_topk_batch calls in the read phase
REQUESTS_PER_CALL = 2
# queries in the untimed call that warms the batch path: the first call
# of a session was up to 1.3 s slower than the next, and by how much varied
WARMUP_SIZE = 10
# one shard per core of the 4-core box, built in one chunk
SHARDS = 4


N_BASE = 1500  # docs in the bulk-built corpus A
N_DELTA = 150  # docs added to A in traced runs (B)


@dataclass(frozen=True)
class Params:
    serve: bool  # serve A with tombstones; else compact A and serve that
    n_delete: int  # docs of A tombstoned by delete_documents (D)


# Both workloads bulk-build, delete, then query, so both report every
# end-to-end metric; they differ in what dominates. A traced run of
# either also runs add_documents (as its delta build and merge), the
# compaction, and the compaction of the merged index.
WORKLOADS = {
    # delete 5% then compact, each followed by a query on the new index,
    # then closed-loop requests and batch calls on the compacted index:
    # tokenizer, build, codec and compact work
    "index_write": Params(serve=False, n_delete=75),
    # a small delete, then closed-loop requests and batch calls on the
    # index with its tombstones: launch, frontend, reader and wand work
    "serve": Params(serve=True, n_delete=15),
}


@dataclass
class Oracle:
    """Oracle rankings for one document set, memoised per query."""

    index: OracleIndex
    ranked: dict[str, list[tuple[int, float]]] = field(default_factory=dict)

    def ranking(self, q: str) -> list[tuple[int, float]]:
        if q not in self.ranked:
            self.ranked[q] = self.index.bm25_topk(q, k=sys.maxsize)
        return self.ranked[q]

    def check(self, q: str, got: list[tuple[int, float]],
              excluded: frozenset[int] = frozenset()) -> bool:
        want = self.ranking(q)
        return answer_ok(got, want, dict(want), K, excluded)

    def stats_ok(self, manifest: dict) -> bool:
        s = manifest["stats"]
        return (s["n_docs"] == self.index.N
                and abs(s["avgdl"] - self.index.avgdl) <= 1e-9 * self.index.avgdl)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Bench:
    """State of one run. ``attempted``/``failed`` count every checked
    operation, ``wrong`` the answers that differ from the oracle;
    ``metrics`` holds end-to-end values, ``layers`` per-layer ones."""

    def __init__(self, work: str, seed: int, seconds: float, params: Params,
                 trace: bool, log) -> None:
        self.work, self.seed, self.seconds, self.p = work, seed, seconds, params
        self.trace, self.log = trace, log
        self.attempted = self.failed = self.wrong = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.queries = QueryGen(seed)
        self.spark = None

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def verdict(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.wrong += 1
            self.log(f"WRONG: {what}")

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # ---- inputs (untimed) -----------------------------------------------
    def make_inputs(self) -> None:
        p = self.p
        self.pdf_a, self.pdf_b = make_corpus(N_BASE, N_DELTA, self.seed)
        self.bytes_a = content_bytes(self.pdf_a)
        write_corpus(self.pdf_a, self.path("corpus_a"), 8)
        write_corpus(self.pdf_b, self.path("corpus_b"), 2)
        self.pool = self.queries.interactive_pool()
        self.refresh_q = self.queries.refresh_query()

    def oracle(self, pdf: pd.DataFrame) -> Oracle:
        return Oracle(OracleIndex(dict(zip(pdf["doc_id"], pdf["content"]))))

    # ---- set-up ---------------------------------------------------------
    def start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = get_spark(
            "enginebench",
            cores=len(os.sched_getaffinity(0)),
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap keeps heap resizing out of the timings
                "spark.driver.extraJavaOptions": "-Xms4g",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counts = SparkCounts(self.spark.sparkContext)
        return time.perf_counter() - t0

    def load(self, name: str):
        """read_corpus + with_identity + a count: the corpus scan."""
        df = with_identity(read_corpus(self.spark, self.path(name)))
        df.count()
        return df

    # ---- serving --------------------------------------------------------
    def client(self, corpus, index_dir: str):
        service = SearchService(self.spark, corpus, index_dir=index_dir)
        return create_app(service).test_client()

    def http_query(self, client, q: str) -> list[tuple[int, float]]:
        resp = client.get("/search_federated", query_string={"query": q, "k": K})
        if resp.status_code != 200:
            raise RuntimeError(f"/search_federated {q!r} -> HTTP {resp.status_code}")
        return [(int(d), float(s)) for d, _, s in resp.get_json()]

    def batch_call(self, reader: IndexReader, queries: dict[str, str]):
        rows = reader.bm25_topk_batch(queries, K).collect()
        out: dict[str, list[tuple[int, float]]] = {qid: [] for qid in queries}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((r["doc_id"], r["score"]))
        return out

    def check_batch(self, oracle: Oracle, queries: dict[str, str], got,
                    excluded: frozenset[int] = frozenset()) -> None:
        bad = [qid for qid, q in queries.items() if not oracle.check(q, got[qid], excluded)]
        self.verdict(not bad, f"batch: {len(bad)} of {len(queries)} answers differ, e.g. {bad[:3]}")

    def reads(self, client, reader: IndexReader, oracle: Oracle,
              excluded: frozenset[int]) -> tuple[list[float], list[float]]:
        """The read phase, closed loop with one client: one untimed
        bm25_topk_batch call of WARMUP_SIZE queries, then rounds of
        REQUESTS_PER_CALL HTTP requests and one timed batch call of
        BATCH_SIZE distinct queries. Interleaving spreads both kinds of
        sample over the whole phase, so a slow spell of the shared host
        reaches both alike. Runs whole cycles over the interactive pool,
        one at the least, while the next is expected to end within
        ``seconds``; answers are checked afterwards → (request
        latencies, timed batch call seconds)."""
        t0 = time.perf_counter()
        qs = self.queries.batch(WARMUP_SIZE)
        batches = [(qs, self.batch_call(reader, qs))]
        answers, lat, calls = [], [], []
        t_cycle = 0.0
        while not lat or time.perf_counter() - t0 + t_cycle <= self.seconds:
            t1 = time.perf_counter()
            cycle = self.queries.interactive_cycle(self.pool)
            for i in range(0, len(cycle), REQUESTS_PER_CALL):
                for q in cycle[i:i + REQUESTS_PER_CALL]:
                    got, t = timed(self.http_query, client, q)
                    lat.append(t)
                    answers.append((q, got))
                qs = self.queries.batch(BATCH_SIZE)
                got, t = timed(self.batch_call, reader, qs)
                calls.append(t)
                batches.append((qs, got))
            t_cycle = time.perf_counter() - t1
        for q, got in answers:
            self.verdict(oracle.check(q, got, excluded), f"interactive {q!r}")
        for qs, got in batches:
            self.check_batch(oracle, qs, got, excluded)
        return lat, calls

    # ---- writes ---------------------------------------------------------
    def refresh(self, corpus, index_dir: str, oracle: Oracle, what: str,
                excluded: frozenset[int] = frozenset()):
        """(seconds from a write call returning to the first correct
        answer on the written index, the client that got it). The
        service is reopened the way a deployment picks up a new index."""
        t0 = time.perf_counter()
        client = self.client(corpus, index_dir)
        for _ in range(3):
            got = self.http_query(client, self.refresh_q)
            if oracle.check(self.refresh_q, got, excluded):
                self.verdict(True, what)
                return time.perf_counter() - t0, client
        self.verdict(False, f"refresh after {what}: {self.refresh_q!r}")
        return time.perf_counter() - t0, client


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the Python workers exit once their JVM is gone
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def run(name: str, work: str, seed: int, seconds: float, trace: bool, log) -> dict:
    b = Bench(work, seed, seconds, WORKLOADS[name], trace, log)
    rss = PeakRss() if trace else nullcontext()
    with rss:
        try:
            pipeline(b)
        finally:
            if b.spark is not None:
                stop_session(b.spark)
                log("session stopped")
    if trace:
        b.layer("process.peak_rss_mb", rss.peak_mb, "MB")
    metrics = b.layers if trace else b.metrics
    return {
        "correct": b.wrong == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def pipeline(b: Bench) -> None:
    log, p = b.log, b.p
    b.make_inputs()
    t_session = b.start_session()
    spark = b.spark
    corpus_a, t_load = timed(b.load, "corpus_a")
    log(f"session {t_session:.2f}s, corpus load {t_load:.2f}s")
    oracle_a = b.oracle(b.pdf_a)

    # ---- bulk build -----------------------------------------------------
    idx_a = b.path("idx_a")
    reader, t_build = timed(build_index, spark, corpus_a, idx_a, n_shards=SHARDS, n_chunks=1)
    b.verdict(oracle_a.stats_ok(reader.manifest), "built index stats")
    stages = reader.manifest["stage_times"]
    log(f"build {t_build:.2f}s {stages}")
    b.put("build_docs_per_s", N_BASE / t_build, "docs/s")
    b.put("index_bytes_per_content_byte", dir_bytes(idx_a) / b.bytes_a, "ratio")

    setup_s = t_session + t_load
    if p.serve or b.trace:
        t0 = time.perf_counter()
        client = b.client(corpus_a, idx_a)
        warm = b.http_query(client, b.pool[0])
        t_open = time.perf_counter() - t0
        b.verdict(oracle_a.check(b.pool[0], warm), "warm-up query")
        log(f"service open + warm-up query {t_open:.2f}s")
        # a serving deployment is up once its index is built and warm
        setup_s += t_build + t_open
    if b.trace:
        trace_reads(b, client, reader, oracle_a)

    # ---- writes (the lifecycle of the engine/compact.py docstring) ------
    refresh = []
    if b.trace:  # add_documents, as its delta build and merge timed apart
        corpus_b = b.load("corpus_b")
        oracle_ab = b.oracle(pd.concat([b.pdf_a, b.pdf_b]))
        idx_m = b.path("idx_m")
        _, t_delta = timed(build_index, spark, corpus_b, b.path("idx_b"),
                           n_shards=SHARDS, n_chunks=1)
        merged, t_merge = timed(merge_indexes, spark, idx_a, b.path("idx_b"), idx_m)
        b.layer("merge.delta_build_s", t_delta, "s")
        b.layer("merge.merge_s", t_merge, "s")
        b.verdict(oracle_ab.stats_ok(merged.manifest), "merged index stats")
        refresh.append(b.refresh(corpus_a.unionByName(corpus_b), idx_m, oracle_ab, "add_documents")[0])
        log(f"delta build {t_delta:.2f}s, merge {t_merge:.2f}s")

    # the refresh query's top 3 are among the deleted docs, so the
    # delete visibly changes its answer
    top3 = [d for d, _ in oracle_a.ranking(b.refresh_q)[:3]]
    rest = b.pdf_a["doc_id"][~b.pdf_a["doc_id"].isin(top3)].to_numpy()
    picked = top3 + b.queries.rng.choice(rest, size=p.n_delete - 3, replace=False).tolist()
    dead = frozenset(picked)
    ids = spark.createDataFrame([(int(d),) for d in picked], "doc_id long")
    _, t_del = timed(delete_documents, spark, idx_a, ids)
    b.layer("compact.delete_ms", t_del * 1e3, "ms")
    t_refresh, client = b.refresh(corpus_a, idx_a, oracle_a, "delete_documents", dead)
    refresh.append(t_refresh)
    log(f"delete {t_del:.2f}s, refresh {t_refresh:.2f}s")
    # reads go to the written index: A with tombstones D, or compacted
    live, oracle, excluded = IndexReader(spark, idx_a), oracle_a, dead

    if not p.serve or b.trace:
        idx_c = b.path("idx_c")
        compacted, t_compact = timed(compact_index, spark, idx_a, idx_c)
        b.layer("compact.rewrite_s", t_compact, "s")
        oracle_c = b.oracle(b.pdf_a[~b.pdf_a["doc_id"].isin(dead)])
        b.verdict(oracle_c.stats_ok(compacted.manifest), "compacted index stats")
        t_refresh, client = b.refresh(corpus_a, idx_c, oracle_c, "compact_index")
        refresh.append(t_refresh)
        log(f"compact {t_compact:.2f}s, refresh {t_refresh:.2f}s")
        live, oracle, excluded = compacted, oracle_c, frozenset()

    if b.trace:
        # known defect: an index made by add_documents/merge_many has no
        # stage-1 tokens checkpoint, and compact_index reads it
        b.attempted += 1
        try:
            compact_index(spark, idx_m, b.path("idx_mc"))
        except Exception as e:  # noqa: BLE001 - counted and reported
            b.failed += 1
            log(f"FAILED (known defect): compact_index of a merged index: "
                f"{str(e).splitlines()[0][:300]}")
    else:
        # ---- reads on the written index ---------------------------------
        lat, calls = b.reads(client, live, oracle, excluded)
        log(f"interactive n={len(lat)} p50={median(lat) * 1e3:.0f}ms; "
            f"batch calls {[round(t, 2) for t in calls]}s")
        b.put("query_p50_ms", median(lat) * 1e3, "ms")
        # the median call: a short slow spell of the shared host that
        # reaches one call leaves it as it is
        b.put("batch_qps", BATCH_SIZE / median(calls), "queries/s")

    b.put("setup_s", setup_s, "s")
    b.layer("session.start_s", t_session, "s")
    b.layer("io.scan_s", t_load, "s")
    for name, v in layers.build_stages(stages).items():
        b.layer(f"build.{name}_s", v, "s")
    b.layer("frontend.refresh_ms", median(refresh) * 1e3, "ms")


def trace_reads(b: Bench, client, reader: IndexReader, oracle: Oracle) -> None:
    """Per-layer numbers for the read path: tokenizer, codec and wand
    kernels outside Spark; the reader called directly; the same queries
    through the HTTP route under a Spark job group."""
    tok = layers.tokenizer(b.pdf_a.iloc[:2000], b.pool, reader.use_stem)
    b.layer("tokenizer.docs_per_s", tok["docs_per_s"], "docs/s")
    b.layer("tokenizer.tokens_per_doc", tok["tokens_per_doc"], "count")
    b.layer("tokenizer.query_us", tok["query_us"], "us")

    blocks = layers.shard_blocks(reader.dir, 0)
    cod = layers.codec(reader.dir, blocks)
    b.layer("codec.bytes_per_posting", cod["bytes_per_posting"], "B")
    b.layer("codec.decode_postings_per_s", cod["decode_postings_per_s"], "postings/s")

    qs = b.queries.batch(BATCH_SIZE)
    weights = [reader.query_weights(q) for q in list(qs.values())[:30]]
    w, same = layers.wand(blocks, [x for x in weights if x],
                          reader.manifest["stats"]["avgdl"], K)
    b.verdict(same, "wand pruned vs exhaustive top-k")
    b.layer("wand.shard_query_ms", w["shard_query_ms"], "ms")
    b.layer("wand.prune_speedup", w["prune_speedup"], "ratio")

    route, direct, counts = [], [], []
    for q in b.pool[:8]:
        with b.counts.group() as c:
            got, t = timed(b.http_query, client, q)
        route.append(t)
        counts.append(c)
        b.verdict(oracle.check(q, got), f"traced route {q!r}")
        rows, t = timed(lambda: reader.bm25_topk(q, K).collect())
        direct.append(t)
        got = [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        b.verdict(oracle.check(q, got), f"direct bm25_topk {q!r}")
    for k in ("jobs", "stages", "tasks"):
        b.layer(f"spark.{k}_per_request", sum(c[k] for c in counts) / len(counts), "count")
    b.layer("reader.bm25_topk_ms", median(direct) * 1e3, "ms")
    b.layer("frontend.overhead_ms", (median(route) - median(direct)) * 1e3, "ms")

    with b.counts.group() as c:
        got, t = timed(b.batch_call, reader, qs)
    b.check_batch(oracle, qs, got)
    b.layer("reader.batch_call_s", t, "s")
    b.layer("spark.tasks_per_batch", c["tasks"], "count")
