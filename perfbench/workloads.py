"""The two workloads: ``query`` and ``build_update``.

Each workload runs in a fresh process on ``local[<cores>]``:

1. generate its inputs from the seed (excluded from every metric);
2. set up once, cold: the imports, the session start (JVM launch), the
   first Python-UDF job (cold worker spawn) and the index loads the
   workload needs - ``setup_s``;
3. run the measured pass: whole units of work until ``--seconds`` have
   passed, and record how many;
4. check the answers;
5. with ``--trace 1`` only: restart the session with the event log on and
   replay the same number of units with every span traced.

A span wraps each call into one of the engine's layers (see
``METRICS.md``); spans named ``unattributed`` wrap the benchmark's own
work inside a pass (reading inputs, answer checks).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus as corpus_mod
from queries import QueryGen
from report import pctl
from hostspeed import HostSpeed
from tracing import ProcTree, RssSampler, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

N_DOCS = 2000
# one base corpus for every seed, so that runs differ in their queries and
# deltas, not in the size of the work; the query workload's index of it is
# built once per version of the code (see fixture_dir)
CORPUS_SEED = 1_000_003
TOPK = 10
# Spark search answers are compared with the ServingIndex ones to this
# absolute score tolerance: the serving path decodes float32 BM25 weights
SCORE_TOL = 1e-6

# query workload
MIN_CYCLES = 2          # timed q1..q7 cycles of Spark searches, at least
CACHED_CHUNK = 400      # cached_search requests after each Spark search
PREFILL = 2000          # untimed cached_search requests that fill the LRU first
BATCH_QUERIES = 60
BATCH_CALLS = 3         # timed search_batch calls, after one untimed call
POOL_SIZE = 2000        # distinct cached_search queries (LRU holds 1000)
POOL_ZIPF_S = 0.4       # request popularity over the pool

# build_update workload
WAVE_SHARE = 0.01       # delta size as a share of the corpus
MAX_WAVES = 12
MIN_WAVES = 2           # a wave takes about the window: the median of two or more
BURST = 1500            # serving requests after each refresh
CHECK_QUERIES = 150


class Failures:
    """Counts checked operations and the ones that failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)

    def attempt(self, what: str, fn, *args):
        """``fn(*args)``, or None after counting a failure if it raised."""
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - counted, not swallowed
            self.check(False, f"{what}: {type(e).__name__}: {e}")
            return None


def rows_of_spark(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def rows_of_serving(res) -> list[tuple[int, float]]:
    return [(int(t[0]), float(t[3])) for t in res]


def same(a: list, b: list, tol: float = SCORE_TOL) -> bool:
    return len(a) == len(b) and all(
        x[0] == y[0] and abs(x[1] - y[1]) <= tol for x, y in zip(a, b)
    )


def dir_bytes(path: str) -> int:
    """Bytes of the files an index save wrote (not checksums or markers)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Bench:
    """Session, tracer, paths and counters shared by one run."""

    def __init__(
        self, root: str, work: str, seed: int, seconds: float, traced: bool,
        t_start: float | None = None,
    ):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace_requested = traced
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.rss = RssSampler()
        self.fails = Failures()
        self.speed = HostSpeed()
        self.t_start = time.perf_counter() if t_start is None else t_start
        self.phases: dict[str, float] = {}  # phase -> seconds since process start
        self.spark = None
        self.import_s = 0.0  # process start -> engine imported
        self.session_walls = (0.0, 0.0)  # last start, first UDF job
        self.setup_parts: dict[str, float] = {}
        self.state = None
        self.eventlog_dir = os.path.join(work, "eventlog")
        os.makedirs(self.eventlog_dir, exist_ok=True)
        self.rss.start()

    # -- session ------------------------------------------------------------

    def conf(self, eventlog: bool) -> dict:
        return {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if eventlog else "false",
            "spark.eventLog.dir": "file://" + self.eventlog_dir,
            "spark.eventLog.compress": "false",
        }

    def start_session(self, eventlog: bool = False) -> float:
        """Start (or restart) the session and run the first UDF job; keep
        the wall time of both in ``session_walls``."""
        from pyspark.sql import functions as F

        from search_engine_spark.session import get_spark

        tr = self.tracer
        with tr.span("session", "start") as s1:
            self.spark = get_spark(
                master=f"local[{self.cores}]",
                shuffle_partitions=2 * self.cores,
                extra_conf=self.conf(eventlog),
            )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        jvm_pid = sc._gateway.proc.pid
        tr.proc = ProcTree(jvm_pid)
        tr.attach(sc, traced=eventlog)
        with tr.span("session", "first_udf_job") as s2:
            plus1 = F.pandas_udf(lambda s: s + 1, "long")
            self.spark.range(
                self.cores, numPartitions=self.cores
            ).select(plus1("id")).collect()
        self.session_walls = (s1.wall, s2.wall)
        self.probe()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.tracer.attach(None, traced=False)
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.rss.stop()

    def setup(self, loads) -> None:
        """Complete the cold set-up of the first session: ``loads``.  The
        process's one session start (JVM launch and cold worker spawn)
        already ran, after the imports."""
        start_s, first_job_s = self.session_walls
        self.setup_parts = dict(
            import_s=self.import_s,
            session_start_s=start_s,
            first_udf_job_s=first_job_s,
            loads_s=loads(),
        )
        self.probe()

    def probe(self) -> None:
        """Sample the host's speed (see hostspeed.py) between engine calls."""
        with self.tracer.span("unattributed", "host_probe"):
            self.speed.sample()

    def phase(self, name: str) -> None:
        self.phases[name] = time.perf_counter() - self.t_start

    @property
    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    # -- pieces -------------------------------------------------------------

    def build_pass(
        self, corpus_path: str, out: str, page_rank: bool = True, publish: bool = False
    ):
        """corpus parquet -> PageRank -> build_index -> Index.save into
        ``out``, or ``publish_index`` into the root ``out`` when
        ``publish``.  Returns (stats, wall)."""
        from search_engine_spark.config import EngineConfig
        from search_engine_spark.operators.index_build import build_index
        from search_engine_spark.operators.pagerank import (
            pagerank,
            repo_link_graph,
        )
        from search_engine_spark.publish import publish_index

        tr = self.tracer
        t0 = time.perf_counter()
        stats: dict = {}
        with tr.span("unattributed", "read_corpus"):
            docs = self.spark.read.parquet(corpus_path)
        if page_rank:
            with tr.span("pagerank", "repo_link_graph"):
                edges = repo_link_graph(docs)
            with tr.span("pagerank", "pagerank"):
                pr = pagerank(edges, docs.select("doc_id"), stats=stats)
            with tr.span("unattributed", "join_page_rank"):
                docs = docs.join(pr, "doc_id", "left")
        # build_index() runs the tokenize UDF eagerly (token cache and the
        # N/avgdl aggregate); posting assembly and the codec run in save()
        with tr.span("tokenize", "build_index"):
            idx = build_index(docs, cfg=EngineConfig())
        with tr.span("index_build", "save"):
            if publish:
                # Index.save plus an atomic LATEST-pointer flip
                publish_index(idx, out)
            else:
                idx.save(out)
        with tr.span("unattributed", "release"):
            idx.release()
        return stats, time.perf_counter() - t0

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

    def replay(self, run_pass, plan, reset) -> dict:
        """``--trace 1``: rerun ``plan`` in a restarted session with the
        event log on and every span traced.  Returns the traced pass: its
        spans (from ``mark`` on), wall, samples and tracer bookkeeping."""
        self.stop_session()
        self.start_session(eventlog=True)
        state = reset()
        self.tracer.bookkeeping_s = 0.0
        mark = self.tracer.mark()
        t0 = time.perf_counter()
        samples = run_pass(state, plan)
        wall = time.perf_counter() - t0
        out = dict(mark=mark, wall=wall, samples=samples,
                   bookkeeping_s=self.tracer.bookkeeping_s)
        self.stop_session()
        return out


# --------------------------------------------------------------------------
# query


def code_digest(root: str) -> str:
    """Hash of every Python file of the engine under ``root`` and of the
    benchmark: the program that builds the fixture."""
    h = hashlib.sha1(f"{N_DOCS}:{CORPUS_SEED}".encode())
    for top in (os.path.join(root, "search_engine_spark"), HERE):
        files = []
        for dirpath, dirs, names in os.walk(top):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
        for path in sorted(files):
            h.update(os.path.relpath(path, top).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def fixture_dir(root: str) -> str:
    """Cache directory of the base index, keyed by the code that builds it,
    so that another version of the engine builds its own."""
    return os.path.join(root, ".perfbench_cache", "fixture-" + code_digest(root))


def make_fixture(b: "Bench", out: str) -> None:
    """Fixture corpus -> saved index.  Runs in its own process
    (``run.py --make-fixture``) so that no query run's JVM has built
    anything before its set-up and measured pass."""
    cor, _src = corpus_mod.generate(N_DOCS, CORPUS_SEED)
    os.makedirs(out)
    content_bytes = corpus_mod.write_parquet(
        os.path.join(out, "corpus"), cor.doc_ids, cor.contents, cor.repos, CORPUS_SEED
    )
    b.start_session()
    b.build_pass(os.path.join(out, "corpus"), os.path.join(out, "index"))
    with open(os.path.join(out, "DONE"), "w") as fh:
        json.dump({"content_bytes": content_bytes}, fh)


def ensure_fixture(b: "Bench") -> tuple[str, dict]:
    """The fixture directory, built by the code under test on its first
    use in a checkout and reused only by runs of the same code."""
    out = fixture_dir(b.root)
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--make-fixture", out],
            stdout=sys.stderr,
            check=True,
            timeout=900,
        )
    with open(os.path.join(out, "DONE")) as fh:
        return out, json.load(fh)


def run_query(b: Bench) -> dict:
    """One client, closed loop over a fixed index: Spark searches, WAND on
    the three-word bags (q1) and cached_search requests, interleaved; then
    search_batch calls."""
    from search_engine_spark.operators.index_build import Index, verify_sha256
    from search_engine_spark.operators.query import search, search_batch
    from search_engine_spark.operators.wand import search_wand
    from search_engine_spark.serving import ServingIndex

    tr, f = b.tracer, b.fails
    fix, info = ensure_fixture(b)
    path, out = os.path.join(fix, "corpus"), os.path.join(fix, "index")
    cor, _src = corpus_mod.generate(N_DOCS, CORPUS_SEED)
    qg = QueryGen(cor, b.seed)
    stream = qg.stream(7 * 40)  # the first cycle warms up, untimed
    pool = qg.pool(POOL_SIZE)
    # the batch queries are one fixed sample, as the corpus is: a batch's
    # wall rests on its few heaviest queries, so batches drawn per
    # seed would differ by more than the bound.  The first batch is untimed.
    batch_pool = QueryGen(cor, CORPUS_SEED).pool((1 + BATCH_CALLS) * BATCH_QUERIES)
    batches = [
        batch_pool[i * BATCH_QUERIES : (i + 1) * BATCH_QUERIES]
        for i in range(1 + BATCH_CALLS)
    ]
    requests = qg.popular(pool, PREFILL + len(stream) * CACHED_CHUNK, POOL_ZIPF_S)
    b.phase("inputs")

    b.start_session()

    def loads():
        with tr.span("index_build", "load") as s1:
            idx = Index.load(b.spark, out)
        with tr.span("serving", "load") as s2:
            srv = ServingIndex.load(out)
        b.state = (idx, srv)
        return s1.wall + s2.wall

    b.setup(loads)

    def run_pass(state, plan):
        idx, srv = state
        # every pool and batch query once, uncached: the reference answers,
        # and a warm decode memo (the build_update bursts measure cold decode)
        with tr.span("serving", "search"):
            refs = {
                q: rows_of_serving(srv.search(q, k=TOPK))
                for q in dict.fromkeys(pool + batch_pool)
            }

        def spark_search(q, name):
            with tr.span("query", name + "_plan"):
                df = f.attempt(f"search {q}", lambda: search(idx, q, k=TOPK))
            with tr.span("query", name + "_exec"):
                return None if df is None else f.attempt(
                    f"search {q}", lambda: rows_of_spark(df.collect())
                )

        def wand(q, name):
            with tr.span("wand", name):
                return f.attempt(
                    f"wand {q}", lambda: rows_of_spark(search_wand(idx, q, k=TOPK).collect())
                )

        def cached(chunk, name):
            """``cached_search`` over ``chunk``: per-request latencies (ms),
            whether each was an LRU hit, and the answers."""
            lat, hit, answers = [], [], []
            with tr.span("serving", name):
                for cq in chunk:
                    m0 = srv.cache_misses
                    t0 = time.perf_counter()
                    res = f.attempt(f"cached {cq}", srv.cached_search, cq, TOPK)
                    if res is not None:
                        lat.append((time.perf_counter() - t0) * 1e3)
                        hit.append(srv.cache_misses == m0)
                        answers.append((cq, res))
            with tr.span("unattributed", "check"):
                for cq, res in answers:
                    f.check(same(rows_of_serving(res), refs[cq], 0.0), f"cached {cq}")
            return lat, hit

        # warm-up, checked but not timed: one q1..q7 cycle of Spark searches
        # (and WAND on its q1) warms the JIT and the Python
        # workers; PREFILL requests fill the result LRU
        for shape, q in stream[:7]:
            rows = spark_search(q, "search_warmup")
            if rows is None:
                continue
            with tr.span("serving", "search"):
                ref = rows_of_serving(srv.search(q, k=TOPK))
            with tr.span("unattributed", "check"):
                f.check(same(rows, ref), f"search {q}")
            if shape == "q1":
                got = wand(q, "search_wand_warmup")
                with tr.span("unattributed", "check"):
                    if got is not None:
                        f.check(same(got, rows), f"wand {q}")
        cached(requests[:PREFILL], "cached_search_prefill")
        spark_s: dict[str, list[float]] = {}
        wand_ms, lat, hit, chunk_ms = [], [], [], []
        rss0 = b.rss.driver_rss_mib()
        end = b.deadline()
        # closed loop, one client: a Spark search (and WAND on q1), then a
        # chunk of cached_search requests; whole
        # q1..q7 cycles until the window has passed.  An operation that
        # raises counts as failed and the loop goes on.
        i = 7
        while (i < plan["search"]) if plan else (
            i < 7 * (1 + MIN_CYCLES) or i % 7 or time.perf_counter() < end
        ):
            shape, q = stream[i]
            b.probe()
            t0 = time.perf_counter()
            rows = spark_search(q, "search")
            if rows is not None:
                spark_s.setdefault(shape, []).append(time.perf_counter() - t0)
                with tr.span("serving", "search"):
                    ref = rows_of_serving(srv.search(q, k=TOPK))
                with tr.span("unattributed", "check"):
                    f.check(same(rows, ref), f"search {q}")
            if shape == "q1" and rows is not None:
                t0 = time.perf_counter()
                got = wand(q, "search_wand")
                if got is not None:
                    wand_ms.append((time.perf_counter() - t0) * 1e3)
                    with tr.span("unattributed", "check"):
                        f.check(same(got, rows), f"wand {q}")
            j = PREFILL + (i - 7) * CACHED_CHUNK
            c_lat, c_hit = cached(requests[j : j + CACHED_CHUNK], "cached_search")
            if c_lat:
                chunk_ms.append(sum(c_lat) / len(c_lat))
            lat += c_lat
            hit += c_hit
            i += 1
        n_search = i
        rss1 = b.rss.driver_rss_mib()
        # search_batch calls, each over its own slice of the batch queries;
        # the first one warms the batch path (the stream does not) and is not
        # timed
        batch_s = []
        for n, batch in enumerate(batches):
            b.probe()
            t0 = time.perf_counter()
            with tr.span("query", "search_batch_warmup" if n == 0 else "search_batch"):
                got = f.attempt(
                    "search_batch", lambda: search_batch(idx, batch, k=TOPK).collect()
                )
            if n > 0:
                batch_s.append(time.perf_counter() - t0)
            with tr.span("unattributed", "check"):
                by_q: dict[str, list] = {q: [] for q in batch}
                for r in got or []:
                    by_q[r["query"]].append((int(r["doc_id"]), float(r["score"])))
                for q in batch if got is not None else []:
                    rows = sorted(by_q[q], key=lambda t: (-t[1], t[0]))
                    f.check(same(rows, refs[q]), f"batch {q}")
        return {
            "plan": {"search": n_search},
            "spark_s": spark_s,
            "wand_ms": wand_ms,
            "batch_s": batch_s,
            "serve_ms": lat,
            "chunk_ms": chunk_ms,
            "hits": hit,
            "rss_growth_mib": rss1 - rss0,
        }

    b.phase("setup")
    s = run_pass(b.state, None)
    b.phase("pass")

    docs = b.spark.read.parquet(path)
    f.check(verify_sha256(docs, docs) == 0, "verify_sha256")
    b.phase("checks")

    def reset():
        loads()
        return b.state

    traced = b.replay(run_pass, s["plan"], reset) if b.trace_requested else None
    lat = s["serve_ms"]
    misses = [x for x, h in zip(lat, s["hits"]) if not h]
    spark_all = [x for v in s["spark_s"].values() for x in v]
    return dict(
        metrics={
            # the q1..q7 mix: mean over shapes of each shape's median
            "main_op_s": statistics.fmean(
                statistics.median(v) for v in s["spark_s"].values()
            ),
            "bulk_op_s": statistics.median(s["batch_s"]),
            "serve_mean_ms": statistics.median(s["chunk_ms"]),
        },
        named={
            "index_size_ratio": dir_bytes(out) / info["content_bytes"],
            "spark_query_p50_s": statistics.median(spark_all),
            "spark_query_p90_s": pctl(spark_all, 90),
            "batch_queries_per_s": BATCH_QUERIES / statistics.median(s["batch_s"]),
            "serve_p50_ms": pctl(lat, 50),
            "serve_p99_ms": pctl(lat, 99),
            "hit_ratio": sum(s["hits"]) / len(lat),
            "miss_p50_ms": pctl(misses, 50),
        },
        sizes=dict(
            docs=N_DOCS,
            content_mib=info["content_bytes"] / 2**20,
            vocab=cor.vocab,
            words=int((cor.df > 0).sum()),
            query_pool=POOL_SIZE,
            lru=1000,
        ),
        # the sample counts the medians above rest on
        counts=dict(
            spark_search=len(spark_all),
            wand=len(s["wand_ms"]),
            cached_search=len(lat),
            cached_chunks=len(s["chunk_ms"]),
            batch_calls=len(s["batch_s"]),
            batch_queries=BATCH_QUERIES,
        ),
        traced=traced,
    )


# --------------------------------------------------------------------------
# build_update


class Waves:
    """Seeded deltas against a base corpus: each ``WAVE_SHARE`` of it,
    mostly new ids, some recrawled ids with new content, a few deletes,
    and two words no earlier document holds."""

    def __init__(self, cor, src, seed: int, n_waves: int):
        rng = np.random.default_rng(seed + 31)
        size = max(8, int(N_DOCS * WAVE_SHARE))
        n_re, n_del = max(1, size // 7), max(1, size // 20)
        n_new = size - n_re
        self.docs = {int(i): (c, r) for i, c, r in zip(cor.doc_ids, cor.contents, cor.repos)}
        self.waves = []
        next_id = N_DOCS
        live = dict(self.docs)
        for w in range(n_waves):
            words = [corpus_mod.delta_word(2 * w), corpus_mod.delta_word(2 * w + 1)]
            ids, contents, repos, _, planted = src.documents(next_id, n_new, words)
            next_id += n_new
            old = sorted(live)
            re_ids = sorted(int(i) for i in rng.choice(old, size=n_re, replace=False))
            _, re_contents, _, _, _ = src.documents(0, n_re)
            rest = sorted(set(old) - set(re_ids))
            del_ids = sorted(int(i) for i in rng.choice(rest, size=n_del, replace=False))
            rows = list(zip(ids.tolist(), contents, repos)) + [
                (i, c, live[i][1]) for i, c in zip(re_ids, re_contents)
            ]
            for i, c, r in rows:
                live[i] = (c, r)
            for i in del_ids:
                del live[i]
            self.waves.append(
                {"rows": rows, "deletes": del_ids, "planted": planted}
            )

    def write(self, w: int, path: str, seed: int) -> None:
        rows = self.waves[w]["rows"]
        corpus_mod.write_parquet(
            path,
            np.array([r[0] for r in rows], dtype=np.int64),
            [r[1] for r in rows],
            [r[2] for r in rows],
            seed,
            files=1,
        )

    def final(self, n: int) -> tuple[dict, set]:
        """id -> (content, repo) after the first ``n`` waves, and the ids
        any of them touched."""
        docs = dict(self.docs)
        touched = set()
        for wv in self.waves[:n]:
            for i, c, r in wv["rows"]:
                docs[i] = (c, r)
                touched.add(i)
            for i in wv["deletes"]:
                del docs[i]
                touched.add(i)
        return docs, touched


def check_build(b: Bench, cor, corpus_path: str, out: str) -> None:
    """The saved index against what the generator knows: the content
    hashes, every word's document frequency, and the exact answers for
    rare words."""
    from search_engine_spark.operators.index_build import verify_sha256
    from search_engine_spark.serving import ServingIndex

    f = b.fails
    docs = b.spark.read.parquet(corpus_path)
    f.check(verify_sha256(docs, docs) == 0, "verify_sha256")
    ts = pq.read_table(os.path.join(out, "term_stats"), columns=["term", "df"])
    df_of = dict(zip(ts.column("term").to_pylist(), ts.column("df").to_pylist()))
    present = np.flatnonzero(cor.df > 0)
    f.check(len(df_of) == len(present), f"{len(df_of)} terms, expected {len(present)}")
    wrong = [
        corpus_mod.word(int(r)) for r in present
        if df_of.get(corpus_mod.word(int(r))) != int(cor.df[r])
    ]
    f.check(not wrong, f"document frequency of {wrong[:3]}")
    srv = ServingIndex.load(out)
    f.check(srv.n_docs == len(cor.doc_ids), f"n_docs {srv.n_docs}")
    for r, holders in list(cor.rare_docs.items())[:200]:
        q = corpus_mod.word(r)
        got = sorted(int(x[0]) for x in srv.search(q, k=TOPK))
        f.check(got == holders, f"rare {q}: {got} != {holders}")


def run_build_update(b: Bench) -> dict:
    """Full build of the base corpus (PageRank -> build_index -> save),
    published as generation 0; then delta waves: build_index(delta) ->
    merge_indexes -> delete_docs -> publish_index -> ServingIndex.refresh,
    each followed by a burst of serving queries."""
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import Index, build_index
    from search_engine_spark.operators.merge import delete_docs, merge_indexes
    from search_engine_spark.publish import (
        latest_index_path,
        prune_generations,
        publish_index,
    )
    from search_engine_spark.serving import ServingIndex

    tr, f = b.tracer, b.fails
    cor, src = corpus_mod.generate(N_DOCS, CORPUS_SEED)
    path = os.path.join(b.work, "corpus")
    content_bytes = corpus_mod.write_parquet(
        path, cor.doc_ids, cor.contents, cor.repos, CORPUS_SEED
    )
    root = os.path.join(b.work, "published")
    base_out = os.path.join(root, "gen=0")
    pool = QueryGen(cor, b.seed).pool(CHECK_QUERIES)
    # the bursts' requests are one fixed sample, as the corpus is: after a
    # refresh every first request decodes cold, so a burst's mean rests on
    # its heaviest queries; runs differ in their deltas, not their requests
    fixed = QueryGen(cor, CORPUS_SEED)
    requests = fixed.popular(fixed.pool(POOL_SIZE), MAX_WAVES * BURST, POOL_ZIPF_S)
    waves = Waves(cor, src.fork(b.seed + 1), b.seed, MAX_WAVES)
    delta_paths = []
    for w in range(MAX_WAVES):
        p = os.path.join(b.work, f"delta-{w}")
        waves.write(w, p, b.seed)
        delta_paths.append(p)
    b.phase("inputs")

    def build_base() -> dict:
        """The full build, published as generation 0 of a fresh root."""
        shutil.rmtree(root, ignore_errors=True)
        b.probe()
        stats, wall = b.build_pass(path, root, publish=True)
        return {"build_s": wall, "iterations": stats.get("iterations", 0)}

    def loads():
        with tr.span("index_build", "load") as s1:
            idx = Index.load(b.spark, latest_index_path(root))
        with tr.span("serving", "load") as s2:
            srv = ServingIndex.load_latest(root)
        b.state = (idx, srv)
        return s1.wall + s2.wall

    def run_waves(state, plan) -> dict:
        cur, srv = state
        end = b.deadline()
        refresh_s, first_ms, serve_ms, burst_ms = [], [], [], []
        live_words: list[tuple[str, list[int]]] = []
        rss0 = b.rss.driver_rss_mib()
        w = 0
        while (w < plan) if plan else (
            w < MIN_WAVES or (w < MAX_WAVES and time.perf_counter() < end)
        ):
            wave = waves.waves[w]
            b.probe()
            t0 = time.perf_counter()  # the delta has arrived
            with tr.span("unattributed", "read_delta"):
                delta = b.spark.read.parquet(delta_paths[w])
            with tr.span("tokenize", "build_index"):
                didx = build_index(delta, cfg=EngineConfig())
            with tr.span("merge", "merge_indexes"):
                merged = merge_indexes(cur, didx)
            with tr.span("merge", "delete_docs"):
                final = delete_docs(merged, wave["deletes"])
            with tr.span("publish", "publish_index"):
                publish_index(final, root)
            with tr.span("serving", "refresh"):
                f.check(srv.refresh(), f"wave {w}: refresh found no new generation")
            word, holders = next(iter(wave["planted"].items()))
            with tr.span("serving", "first_query") as sq:
                res = srv.cached_search(word, k=TOPK)
            refresh_s.append(time.perf_counter() - t0)
            first_ms.append(sq.wall * 1e3)
            with tr.span("unattributed", "check"):
                f.check(sorted(int(x[0]) for x in res) == holders, f"wave {w}: {word}")
                final.release()
                merged.release()
            with tr.span("index_build", "load"):
                cur = Index.load(b.spark, latest_index_path(root))
            with tr.span("publish", "prune_generations"):
                prune_generations(root, keep=2)
            live_words += list(wave["planted"].items())
            b.probe()
            # burst: popular pool queries plus the delta-only words so far
            burst = requests[w * BURST : (w + 1) * BURST - len(live_words)]
            with tr.span("serving", "burst"):
                n0 = len(serve_ms)
                for q in burst + [x[0] for x in live_words]:
                    t1 = time.perf_counter()
                    srv.cached_search(q, k=TOPK)
                    serve_ms.append((time.perf_counter() - t1) * 1e3)
                burst_ms.append(statistics.fmean(serve_ms[n0:]))
            with tr.span("unattributed", "check"):
                for q, holders in live_words:
                    got = sorted(int(x[0]) for x in srv.cached_search(q, k=TOPK))
                    f.check(got == holders, f"wave {w}: {q}")
            w += 1
        return {
            "waves": w,
            "refresh_s": refresh_s,
            "first_query_ms": first_ms,
            "serve_ms": serve_ms,
            "burst_ms": burst_ms,
            "rss_growth_mib": b.rss.driver_rss_mib() - rss0,
        }

    b.start_session()
    # the full build in a fresh JVM, as a build job runs it: JIT warm-up
    # included
    mark = tr.mark()
    base = build_base()
    build_parts = {
        f"{sp.layer}.{sp.name}": sp.wall
        for sp in tr.spans[mark:] if sp.layer not in ("unattributed", "session")
    }
    check_build(b, cor, path, base_out)
    # read generation 0 before the waves prune it
    base_bytes = dir_bytes(base_out)
    pr_tab = pq.read_table(os.path.join(base_out, "docs"), columns=["doc_id", "page_rank"])
    pr0 = dict(zip(pr_tab.column("doc_id").to_pylist(), pr_tab.column("page_rank").to_pylist()))
    b.phase("build")
    b.setup(loads)
    b.phase("setup")
    s = run_waves(b.state, None)
    b.phase("pass")
    srv = b.state[1]

    # ---- check: the published generation equals a one-shot build of the
    # final corpus.  Documents no wave touched keep their generation-0
    # PageRank; the waves' documents carry none, as in the merged index.
    docs, touched = waves.final(s["waves"])
    ids = np.array(sorted(docs), dtype=np.int64)
    one_path = os.path.join(b.work, "oneshot-corpus")
    final_bytes = corpus_mod.write_parquet(
        one_path, ids, [docs[i][0] for i in ids], [docs[i][1] for i in ids], b.seed,
        extra={"page_rank": pa.array(
            [None if i in touched else pr0[i] for i in ids.tolist()], pa.float64()
        )},
    )
    one_out = os.path.join(b.work, "oneshot-index")
    b.build_pass(one_path, one_out, page_rank=False)
    one = ServingIndex.load(one_out)
    f.check(srv.n_docs == len(ids), f"published n_docs {srv.n_docs} != {len(ids)}")
    words = [w for wv in waves.waves[: s["waves"]] for w in wv["planted"]]
    for q in pool[:CHECK_QUERIES] + words:
        f.check(
            same(rows_of_serving(srv.search(q, k=TOPK)),
                 rows_of_serving(one.search(q, k=TOPK))),
            f"published vs one-shot: {q}",
        )
    size_ratio = dir_bytes(latest_index_path(root)) / final_bytes
    b.phase("checks")

    def run_pass(_state, plan):
        out = build_base()
        loads()
        out.update(run_waves(b.state, plan))
        return out

    traced = b.replay(run_pass, s["waves"], lambda: None) if b.trace_requested else None
    return dict(
        metrics={
            "main_op_s": statistics.median(s["refresh_s"]),
            "bulk_op_s": base["build_s"],
            "serve_mean_ms": statistics.median(s["burst_ms"]),
        },
        named={
            "index_docs_per_s": N_DOCS / base["build_s"],
            "index_size_ratio": base_bytes / content_bytes,
            "published_size_ratio": size_ratio,
            "refresh_p50_s": statistics.median(s["refresh_s"]),
            "serve_p50_ms": pctl(s["serve_ms"], 50),
            "serve_p99_ms": pctl(s["serve_ms"], 99),
            "build_parts_s": build_parts,
        },
        counts=dict(waves=s["waves"], serve=len(s["serve_ms"])),
        sizes=dict(
            docs=N_DOCS,
            content_mib=content_bytes / 2**20,
            vocab=cor.vocab,
            words=int((cor.df > 0).sum()),
            delta_docs=len(waves.waves[0]["rows"]),
            deletes_per_wave=len(waves.waves[0]["deletes"]),
            query_pool=POOL_SIZE,
            lru=1000,
        ),
        traced=traced,
    )


WORKLOADS = {"query": run_query, "build_update": run_build_update}
