"""The benchmark workloads: ``serve_head`` and ``serve_novel``.

Each drives the public API — ``index.builder.build_index`` and
``query.service.SearchService`` — from one process with one closed-loop
client on a session from ``session.build_spark``.  The program only receives
the generated corpus (``sources.pages.generate_pages``) and query strings
drawn with the run's seed.  A traced run also probes ``streaming.ingest``
and ``SearchEngine.refresh_index`` after the timed window.

Every run checks its answers: timed responses against an untimed pass of the
same query, and a seeded sample of queries against the brute-force BM25
oracle (``query.oracle``).  A failed check counts the operation as failed.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import meilisearch_thai_spark.tokenizer as tokenizer
from meilisearch_thai_spark.dictionary import merged_words
from meilisearch_thai_spark.index import builder
from meilisearch_thai_spark.query import executor, pipeline, service
from meilisearch_thai_spark.query.oracle import BM25Oracle
from meilisearch_thai_spark.sources.pages import PAGES_SCHEMA, generate_pages
from meilisearch_thai_spark.streaming import ingest

import measure
from tracing import Tracer, self_ms_by_layer

WORKLOADS = ("serve_head", "serve_novel")

# the reference benchmark queries (bench.py's set)
REFERENCE_QUERIES = [
    "ปัญญาประดิษฐ์",
    "การเรียนรู้",
    "อาหารไทย",
    "เทคโนโลยี",
    "สาหร่ายวากาเมะ",
    "รถยนต์ไฟฟ้า",
    "ตลาดหลักทรัพย์",
    "โรงเรียน",
]
WARMUP_QUERY = REFERENCE_QUERIES[0]
LANGS = ("th", "th-en", "en")
# serve_novel request shapes, in turn: (dictionary words, add a Latin word,
# lang filter).  Two of six are filtered and take the slower filtered route;
# the four others are plain Thai and cost about the same, so the median
# falls inside that group, not on the step between the two.  The timed
# window ends on a whole turn, so every run times the same mix.
NOVEL_SHAPES = (
    (2, False, False),
    (3, False, True),
    (4, False, False),
    (2, True, True),
    (3, False, False),
    (4, False, False),
)
# untimed never-seen requests before serve_novel's timed window (one turn
# of the shapes): the first requests of a fresh JVM compile plans and code
NOVEL_WARMUP = len(NOVEL_SHAPES)
# the timed window lasts at least this many requests, so every run has the
# same tail percentile (measure.tail) whatever the host speed
MIN_REQUESTS = 24

TRACE_TARGETS = [
    (service.SearchService, "search", "query.service.search"),
    (service, "process_query", "query.pipeline.process_query"),
    (executor.SearchEngine, "multi_variant_page", "query.executor.multi_variant_page"),
    (executor.SearchEngine, "warm_postings", "query.executor.warm_postings"),
    (executor.SearchEngine, "refresh_index", "query.executor.refresh_index"),
    (tokenizer, "tokenize_for_index", "tokenizer.tokenize_for_index"),
    (pipeline, "tokenize_for_index", "tokenizer.tokenize_for_index"),
    (builder, "build_index", "index.builder.build_index"),
    (ingest, "add_documents", "streaming.ingest.add_documents"),
    (ingest, "finalize_streamed_index", "streaming.ingest.finalize_streamed_index"),
]


@dataclass(frozen=True)
class Sizes:
    serve_docs: int  # the served corpus
    gate: int  # queries per run checked against the BM25 oracle
    recheck: int  # timed serve_novel responses re-run untimed
    # the traced run's ingest probe: a staged index bootstrapped from the
    # first ``probe_docs`` corpus pages, then one delta of new and
    # overwritten pages
    probe_docs: int
    delta_new: int
    delta_overwrite: int


FULL = Sizes(1000, 3, 3, 200, 40, 10)
SMOKE = Sizes(400, 2, 3, 100, 20, 5)


@dataclass
class Result:
    workload: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)  # end to end
    layers: dict[str, float] = field(default_factory=dict)  # per layer (traced run)
    detail: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def zipf_weights(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def by_df(oracle: BM25Oracle) -> list[str]:
    return sorted(oracle.df, key=lambda t: (-oracle.df[t], t))


def head_pool(oracle: BM25Oracle) -> list[str]:
    """16 head queries: the 8 reference queries, the 4 highest-df Thai
    words, 2 two-word compounds of the next ones, and 2 mixed Latin/Thai
    queries."""
    ranked = by_df(oracle)
    thai = [t for t in ranked if not t.isascii() and t not in REFERENCE_QUERIES]
    latin = [t for t in ranked if t.isascii() and t.isalpha()]
    words = thai[:4]
    compounds = [thai[4 + 2 * i] + thai[5 + 2 * i] for i in range(2)]
    mixed = [f"{latin[i]} {thai[i]}" for i in range(2)]
    return list(dict.fromkeys(REFERENCE_QUERIES + words + compounds + mixed))


def head_block(pool: list[str]) -> list[str]:
    """``MIN_REQUESTS`` requests over the pool in its own order, each query
    as often as its Zipf(1.1) share gives (largest remainders round), so
    the reference queries are the most frequent."""
    share = zipf_weights(len(pool), 1.1) * MIN_REQUESTS
    counts = np.floor(share).astype(int)
    for i in np.argsort(counts - share, kind="stable")[: MIN_REQUESTS - counts.sum()]:
        counts[i] += 1
    return [q for q, c in zip(pool, counts) for _ in range(c)]


def head_stream(pool: list[str], rng: np.random.Generator, n: int) -> list[str]:
    """``head_block`` over and over, each time in a seeded order.  The
    timed window is whole blocks, so every run times the same mix of
    queries, whose costs differ by their variant counts."""
    block, out = head_block(pool), []
    while len(out) < n:
        out += [block[i] for i in rng.permutation(len(block))]
    return out[:n]


def novel_stream(
    oracle: BM25Oracle, rng: np.random.Generator, n: int
) -> list[tuple[str, dict | None]]:
    """``n`` distinct compositions of dictionary words (Zipf over corpus-df
    order), shaped by ``NOVEL_SHAPES`` in turn, so every seed has the same
    mix.  No two share a word set, so nothing is reusable across them."""
    ranked = sorted(merged_words(), key=lambda w: (-oracle.df.get(w, 0), w))
    p = zipf_weights(len(ranked), 0.9)
    latin = [t for t in by_df(oracle) if t.isascii() and t.isalpha()][:12]
    seen: set[frozenset] = set()
    out: list[tuple[str, dict | None]] = []
    while len(out) < n:
        n_words, with_latin, filtered = NOVEL_SHAPES[len(out) % len(NOVEL_SHAPES)]
        words = list(dict.fromkeys(ranked[j] for j in rng.choice(len(ranked), size=n_words, p=p)))
        if with_latin:
            words.insert(int(rng.integers(0, len(words) + 1)), latin[int(rng.integers(0, len(latin)))])
        key = frozenset(words)
        if len(words) < n_words + with_latin or key in seen:
            continue
        seen.add(key)
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        out.append((" ".join(words), {"lang": lang} if filtered else None))
    return out


def tree_files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for dp, _dirs, fns in os.walk(root):
        for f in fns:
            st = os.stat(os.path.join(dp, f))
            out[os.path.join(dp, f)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two ``tree_files``."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


class Bench:
    """One run of one workload on a live session."""

    def __init__(self, spark, workload: str, seed: int, seconds: float, trace: bool,
                 sizes: Sizes, work: str):
        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.seed, self.seconds, self.sizes = workload, seed, seconds, sizes
        self.work = work
        self.rng = np.random.default_rng(seed)
        # which request of each consecutive pair in a traced run keeps the
        # wrappers: a coin of its own, so the workload's draws do not depend
        # on whether the run is traced
        self.coin = np.random.default_rng(seed + 1)
        self._pair_first_traced = True
        self.tracer = Tracer(TRACE_TARGETS) if trace else None
        self.res = Result(workload)
        self.svc = None
        self.lat: list[float] = []  # ms of every completed timed request
        self.calib: list[float] = []
        self.roundtrip: list[float] = []
        self.traced: list[dict] = []  # traced requests (a seeded half)
        self.untraced_ms: list[float] = []  # the others, in a traced run
        self.answers: dict[str, tuple] = {}  # digest input
        self._rid = 0

    # ------------------------------------------------------------ plumbing
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def phase(self, label: str):
        """Attribute the spans of a non-request phase to ``label``."""
        if self.tracer is not None:
            self.tracer.req = label
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.req = None

    def request(self, query: str, filters: dict | None = None, expect: tuple | None = None):
        """One closed-loop request: the host probes, then the timed
        ``SearchService.search``.  In a traced run one request of each pair,
        picked by a seeded coin, runs with the wrappers removed, so the run
        also measures its own tracing overhead.  Returns the answer, or None when the request failed."""
        self.calib.append(measure.calib_ms())
        self.roundtrip.append(measure.jvm_roundtrip_ms(self.sc._jvm))
        tr, rid = self.tracer, self._rid
        self._rid += 1
        if rid % 2 == 0:
            self._pair_first_traced = bool(self.coin.random() < 0.5)
        traced = tr is not None and self._pair_first_traced == (rid % 2 == 0)
        if traced:
            tr.req = rid
            self.sc.setJobGroup(f"perfbench-{rid}", "perfbench request")
        elif tr is not None:
            tr.uninstall()
        self.res.attempted += 1
        t0 = time.perf_counter()
        try:
            resp = self.svc.search(query, filters=filters)
        except Exception:
            traceback.print_exc()
            resp = None
        ms = (time.perf_counter() - t0) * 1000
        if tr is not None:
            tr.req = None
            tr.install()
            if traced:
                self.sc.setJobGroup("perfbench-idle", "perfbench checks")
        if resp is None:
            self.res.fail(f"request raised: {query!r}")
            return None
        self.lat.append(ms)
        ans = measure.response_answer(resp)
        if expect is not None and ans != expect:
            self.res.fail(f"answer differs from the untimed pass: {query!r} {filters}")
        if traced:
            self.traced.append({
                "rid": rid, "ms": ms, "route": "filtered" if filters else "warm",
                "variants": resp.query_info["variant_count"],
                "winners": len({h.variant_type for h in resp.hits}),
            })
        elif tr is not None:
            self.untraced_ms.append(ms)
        return ans

    def gate(self, oracle: BM25Oracle, queries: list[str]) -> None:
        """Engine BM25 top-k (``SearchEngine.search_page``) must equal the
        oracle's over the same corpus."""
        for q in queries:
            got = measure.canon((r["url"], r["score"]) for r in self.svc.engine.search_page(q, k=10))
            if got != measure.canon(oracle.top_k(q, k=10)):
                self.res.fail(f"oracle gate: {q!r}")
            self.answers[f"gate:{q}"] = got

    def corpus(self, corpus_dir: str, columns=("url", "text")) -> pd.DataFrame:
        return pd.read_parquet(corpus_dir, columns=list(columns)).sort_values("url", ignore_index=True)

    # ------------------------------------------------------------- set-up
    def setup(self) -> str:
        """Generate the corpus, build the index and warm the engine; returns
        the corpus directory.  Runs once: a fresh JVM pays ~8 s of start and
        a cold set-up of ~14-31 s (a second one in the same JVM takes
        ~9 s), and three set-ups would leave a run's time budget of about
        70 s no room for the timed window."""
        corpus_dir, self.index_dir = self.path("corpus"), self.path("index")
        self.spark.catalog.clearCache()  # an earlier workload of the same session
        with self.phase("setup"):
            t0 = time.perf_counter()
            generate_pages(self.spark, self.sizes.serve_docs, seed=self.seed).write.parquet(corpus_dir)
            builder.build_index(self.spark, self.spark.read.parquet(corpus_dir), self.index_dir)
            self.svc = service.SearchService(self.spark, self.index_dir)
            self.svc.engine.warm_postings()
            self.svc.search(WARMUP_QUERY)
            self.setup_s = time.perf_counter() - t0
        return corpus_dir

    # --------------------------------------------------------- workloads
    def run(self) -> Result:
        t0 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.install()
        try:
            corpus_dir = self.setup()
            t1 = time.perf_counter()
            oracle = BM25Oracle(dict(self.corpus(corpus_dir).itertuples(index=False)))
            pool = head_pool(oracle)
            t2 = time.perf_counter()
            getattr(self, self.workload)(oracle, pool)
            self.cached_mb = self.svc.engine.warm_memory_report()["cached_bytes_actual"] / 1e6
            t3 = time.perf_counter()
            if self.tracer is not None:
                self.probes(pool, corpus_dir)
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
        self.summarise()
        self.res.detail["phase_s"] = {
            "setup": t1 - t0, "oracle": t2 - t1, "window": self.wall,
            "checks_and_warmup": t3 - t2 - self.wall, "probes": time.perf_counter() - t3,
        }
        return self.res

    def timed_loop(self, step, turn: int = 1) -> float:
        """Call ``step(i)`` until ``seconds`` have passed, ``MIN_REQUESTS``
        steps are done and ``i`` is a whole number of turns of ``turn``
        steps; returns the wall time."""
        t0 = time.perf_counter()
        deadline, i = t0 + self.seconds, 0
        while time.perf_counter() < deadline or i < MIN_REQUESTS or i % turn:
            step(i)
            i += 1
        return time.perf_counter() - t0

    def serve_head(self, oracle, pool) -> None:
        # the untimed pass and the oracle gate come first: they warm the
        # engine before the timed window
        expected = {q: measure.response_answer(self.svc.search(q)) for q in pool}
        self.answers.update({f"search:{q}": a for q, a in expected.items()})
        self.gate(oracle, list(self.rng.choice(pool, size=self.sizes.gate, replace=False)))
        stream = head_stream(pool, self.rng, 4096)
        self.wall = self.timed_loop(lambda i: self.request(stream[i], expect=expected[stream[i]]), MIN_REQUESTS)

    def serve_novel(self, oracle, _pool) -> None:
        # the warm-up and gate queries come from the same stream ahead of the
        # timed ones, so those are still never seen; the warm-up is whole
        # turns of NOVEL_SHAPES, so the timed window starts on a turn
        stream = novel_stream(oracle, self.rng, NOVEL_WARMUP + 2048)
        for q, filters in stream[:NOVEL_WARMUP]:
            self.svc.search(q, filters=filters)
        self.gate(oracle, [q for q, _ in stream[: self.sizes.gate]])
        stream = stream[NOVEL_WARMUP:]
        timed: list[tuple] = []
        self.wall = self.timed_loop(lambda i: timed.append(self.request(*stream[i])), len(NOVEL_SHAPES))
        for i, (q, filters) in enumerate(stream[: self.sizes.recheck]):
            ans = measure.response_answer(self.svc.search(q, filters=filters))
            if i < len(timed) and timed[i] is not None and timed[i] != ans:
                self.res.fail(f"answer differs on re-run: {q!r} {filters}")
            self.answers[f"search:{q}|{filters}"] = ans

    # -------------------------------------------- traced-run layer probes
    def probe_search(self, label: str, query: str, filters: dict | None = None) -> float:
        with self.phase(label):
            t0 = time.perf_counter()
            self.svc.search(query, filters=filters)
            return (time.perf_counter() - t0) * 1000

    def probes(self, pool: list[str], corpus_dir: str) -> None:
        """Measure, after the timed window, the layers the workload's loop
        does not reach, so every traced run reports every layer: searches
        on a route no traced request took, a refresh and the first query
        after it, and one ingest delta into an existing staged index."""
        sample = self.corpus(corpus_dir, ("url", "warc_ts", "html", "text", "lang"))
        self.doc_chars_per_s = measure.doc_chars_per_s(list(sample["text"][:100]))
        routes = {r["route"] for r in self.traced}
        for i, q in enumerate(pool[:3]):
            if "warm" not in routes:
                self.probe_search(f"probe-warm{i}", q)
            if "filtered" not in routes:
                self.probe_search(f"probe-filtered{i}", q, {"lang": "th"})
        with self.phase("probe-refresh"):
            self.svc.engine.refresh_index()
        self.first_after_refresh_ms = self.probe_search("probe-first", pool[0])

        sz, stg = self.sizes, self.path("probe-staged")
        base = sample.iloc[: sz.probe_docs]
        new = sample.iloc[sz.probe_docs : sz.probe_docs + sz.delta_new]
        # overwritten pages: existing urls with the text of pages not yet indexed
        rest = sample.iloc[sz.probe_docs + sz.delta_new :].head(sz.delta_overwrite)
        overwrite = rest.assign(url=base["url"].iloc[: sz.delta_overwrite].to_numpy())
        delta = pd.concat([new, overwrite], ignore_index=True)
        with self.phase("probe-bootstrap"):
            ingest.add_documents(self.spark, self.spark.createDataFrame(base, schema=PAGES_SCHEMA), stg)
        before = tree_files(stg)
        with self.phase("probe-ingest"):
            ingest.add_documents(self.spark, self.spark.createDataFrame(delta, schema=PAGES_SCHEMA), stg, finalize=False)
            meta = ingest.finalize_streamed_index(self.spark, stg)
        self.probe_write_amp = written_bytes(before, tree_files(stg)) / sum(len(t.encode("utf-8")) for t in delta["text"])
        if meta.n_docs != sz.probe_docs + sz.delta_new:
            self.res.fail(f"ingest probe: {meta.n_docs} docs after the delta, expected {sz.probe_docs + sz.delta_new}")

    # ------------------------------------------------------------ results
    def summarise(self) -> None:
        res, lat = self.res, self.lat
        med = statistics.median
        pct, tail_v = measure.tail(lat, min(len(lat), MIN_REQUESTS)) if lat else (100.0, float("nan"))
        res.metrics = {
            "setup_s": self.setup_s,
            "latency_p50_ms": med(lat) if lat else float("nan"),
            "latency_tail_ms": tail_v,
            "throughput_qps": len(lat) / self.wall,
            "cached_mb": self.cached_mb,
        }
        res.detail = {
            "requests": len(lat),
            "latency_ms_quartiles": measure.quartiles(lat) if lat else [],
            "latency_tail": {"percentile": pct, "ms": tail_v, "samples": len(lat)},
            "host_calib_ms_quartiles": measure.quartiles(self.calib) if self.calib else [],
            "host_jvm_roundtrip_ms_quartiles": measure.quartiles(self.roundtrip) if self.roundtrip else [],
            "digest": measure.digest(self.answers),
            "answers_checked": len(self.answers),
        }
        if self.tracer is not None:
            self.summarise_layers()

    def spark_counts(self, rid: int) -> tuple[int, int, int]:
        """(jobs, executed stages, completed tasks) of one traced request."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-{rid}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks

    def summarise_layers(self) -> None:
        tr, res = self.tracer, self.res
        med = statistics.median

        def span_s(name: str, phases) -> list[float]:
            return [s.ms / 1000 for s in tr.spans if s.name == name and str(s.req).startswith(phases)]

        rows = []
        for r in self.traced:
            spans = tr.of(r["rid"])
            own = self_ms_by_layer(spans)
            jobs, stages, tasks = self.spark_counts(r["rid"])
            rows.append({
                **r, "jobs": jobs, "stages": stages, "tasks": tasks,
                "tok": sum(s.ms for s in spans if s.layer == "tokenizer"),
                "pq": sum(s.ms for s in spans if s.name == "query.pipeline.process_query"),
                "page": sum(s.ms for s in spans if s.name == "query.executor.multi_variant_page"),
                "service_self": own.get("query.service", 0.0),
                "attributed": sum(own.values()),
            })
        page = {
            route: [x["page"] for x in rows if x["route"] == route]
            or [s.ms for s in tr.spans if s.name == "query.executor.multi_variant_page"
                and str(s.req).startswith(f"probe-{route}")]
            for route in ("warm", "filtered")
        }
        build = sum(span_s("index.builder.build_index", "setup"))
        if not rows or not self.untraced_ms:
            res.fail("too few requests to compare traced and untraced ones")
            return
        lat_sum = sum(x["ms"] for x in rows)
        attributed = sum(x["attributed"] for x in rows)
        if abs(lat_sum - attributed) > 0.1 * lat_sum:
            res.fail(f"per-layer self times ({attributed:.1f} ms) do not reconcile with latency ({lat_sum:.1f} ms)")
        res.layers = {
            "tokenizer.query_ms": med(x["tok"] for x in rows),
            "tokenizer.doc_chars_per_s": self.doc_chars_per_s,
            "query.pipeline.process_query_ms": med(x["pq"] for x in rows),
            "query.pipeline.variants_per_query": statistics.fmean(x["variants"] for x in rows),
            "query.pipeline.useful_variant_ratio": statistics.fmean(
                x["winners"] / x["variants"] for x in rows if x["variants"]),
            "query.executor.page_ms.warm": med(page["warm"]),
            "query.executor.page_ms.filtered": med(page["filtered"]),
            "query.executor.spark_jobs_per_request": statistics.fmean(x["jobs"] for x in rows),
            "query.executor.spark_stages_per_request": statistics.fmean(x["stages"] for x in rows),
            "query.executor.spark_tasks_per_request": statistics.fmean(x["tasks"] for x in rows),
            # the set-up's explicit warm-up; after a refresh the tier rebuilds
            # inside the first search (first_query_after_refresh_ms)
            "query.executor.warm_build_s": sum(span_s("query.executor.warm_postings", "setup")),
            "query.executor.refresh_s": sum(span_s("query.executor.refresh_index", "probe-refresh")),
            "query.executor.first_query_after_refresh_ms": self.first_after_refresh_ms,
            "query.service.self_ms": med(x["service_self"] for x in rows),
            "index.builder.build_s": build,
            "index.builder.docs_per_s": self.sizes.serve_docs / build,
            "streaming.ingest.stage_s": sum(span_s("streaming.ingest.add_documents", "probe-ingest")),
            "streaming.ingest.finalize_s": sum(span_s("streaming.ingest.finalize_streamed_index", "probe-ingest")),
            "streaming.ingest.write_amplification": self.probe_write_amp,
            "host.calib_ms": med(self.calib),
            "host.jvm_roundtrip_ms": med(self.roundtrip),
            "trace.unattributed_ms": (lat_sum - attributed) / len(rows),
            "trace.overhead_ms": med(x["ms"] for x in rows) - med(self.untraced_ms),
        }
        res.detail["reconciled_share"] = attributed / lat_sum
