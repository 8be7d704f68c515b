"""The benchmark's two workloads and their traced-run layer metrics.

Each workload is one closed loop: a single client issues an op only after
the previous one has returned, against ``local[CORES]`` in a process pinned
to CORES cores.

* ``crawl`` — a politeness-budgeted BFS crawl with ``maintain_index=True``.
  One op is one ``CrawlEngine.crawl_round``. Seed pages are spread so every
  host's frontier exceeds its budget from round 1 on, so every round pops
  exactly ``BUDGET`` pages per host and rounds are alike.
* ``query`` — a fixed set of ``GoProwlSearchEngine.search_ranked`` (bm25
  and tfidf) and boolean ``engine.search`` queries and the ten
  ``bench.HEADLINE`` contract queries, in an order drawn from the seed.
  One op is one query.

Outputs are checked against independent oracles, untimed, in every run.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import statistics
import time
from contextlib import contextmanager

import oracles
import tracing as tr

CORES = 4

# ---------------------------------------------------------------- crawl
CRAWL_N = 1_000_000
BUDGET = 200
SEED_PAGES = 20 * BUDGET
# far beyond the rounds run, so no round is cut short by the cap
MAX_DEPTH = 64
# one measured round per this many seconds of --seconds (a warm round takes
# 5-10 s on the 4-core reference box)
ROUND_S_NOMINAL = 5.0
# untimed rounds before the measured ones
WARM_ROUNDS = 1

# ---------------------------------------------------------------- query
# the contract's sf0.01 test tables, copied into the benchmark's directory
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
SEARCH_PAGES = 10_000
TOP_K = 10
# The search ops of a pass. They are fixed, so every run times the same
# work; the seed only orders them among the headline queries. A number is
# one page's unique title token (document frequency 1); the words are
# corpus.VOCAB words, common to many pages.
SEARCH_OPS = (
    ("bm25", "4211 romeo"),
    ("bm25", "india papa"),
    ("tfidf", "mike 917 kestrel"),
    ("tfidf", "ivory willow"),
    ("boolean", "romeo AND india"),
    ("boolean", "papa lantern"),
)

INPUT_REPEATS = 3


def crawl_rounds(seconds: float) -> int:
    return max(1, int(seconds // ROUND_S_NOMINAL))


class Run:
    """State and results of one benchmark run."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.setup: dict[str, float] = {}
        # how many times the repeatable part of the set-up ran
        self.setup_samples = 1
        self.lat: list[float] = []
        self.units = 0
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.layer: dict[str, float] = {}
        self.files_per_load: list[int] = []
        # wall-clock window of the timed ops, for the event-log totals
        self.measured = (0.0, 0.0)
        self.t0 = time.time()

    def path(self, *parts: str) -> str:
        """A path under the run's scratch directory; parents exist."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @contextmanager
    def stage(self, name: str):
        t0 = time.time()
        yield
        self.setup[name] = (time.time() - t0) * 1e3

    def log(self, what: str) -> None:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
        print(f"[{time.time() - self.t0:7.1f}s] steal={steal} {what}", file=sys.stderr)

    def fail(self, op: str, what: str) -> None:
        """Mark op ``op`` as failed (wrong output); the first reason is kept."""
        self.failures.setdefault(op, what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _median_time(fn, reps: int = 3) -> float:
    return statistics.median(_timed(fn) for _ in range(reps))


# ==================================================================== crawl

def _crawl_engine(spark, seeds: list[int], workdir: str):
    from goprowl_spark import corpus
    from goprowl_spark.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        seeds=[corpus.url(i) for i in seeds],
        max_depth=MAX_DEPTH,
        default_budget=BUDGET,
        maintain_index=True,
    )
    return CrawlEngine(spark, None, workdir, cfg, fetcher=corpus.make_fetcher(CRAWL_N))


def _crawl_seeds(seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(CRAWL_N), SEED_PAGES))


def _crawl_rounds_loop(eng, rounds: int) -> list[float]:
    lat = []
    for _ in range(rounds):
        t0 = time.time()
        if not eng.crawl_round():
            raise RuntimeError("frontier drained before the fixed round count")
        lat.append(time.time() - t0)
        print(f"op crawl.round {lat[-1] * 1e3:.0f} ms", file=sys.stderr)
    return lat


def _crawl_check(run: Run, eng, seeds: list[int], rounds: int) -> list[dict]:
    rows = [
        r.asDict()
        for r in eng.metrics()
        .select("round", "popped", "candidates", "enqueued")
        .orderBy("round")
        .collect()
    ]
    want, want_seen = oracles.crawl_oracle(CRAWL_N, seeds, MAX_DEPTH, BUDGET, rounds)
    for got, exp in zip(rows, want):
        for k in ("popped", "candidates", "enqueued"):
            if got[k] != exp[k]:
                run.fail(f"round {got['round']}", f"{k}={got[k]} oracle={exp[k]}")
    if len(rows) != len(want):
        run.fail("rounds", f"{len(rows)} metric rows, oracle has {len(want)} rounds")
    seen = [(r["url"], r["depth"]) for r in eng.seen().select("url", "depth").collect()]
    want_hash = oracles.seen_hash(oracles.seen_pairs(want_seen))
    if len(seen) != len(want_seen) or oracles.seen_hash(seen) != want_hash:
        run.fail(
            f"round {rounds}",
            f"seen set of {len(seen)} urls differs from the oracle's {len(want_seen)}",
        )
    return rows


def crawl(run: Run) -> None:
    spark = run.spark
    rounds = crawl_rounds(run.seconds)
    input_ms = []
    for _ in range(INPUT_REPEATS):
        t0 = time.time()
        seeds = _crawl_seeds(run.seed)
        input_ms.append((time.time() - t0) * 1e3)
    run.setup["setup.input_ms"] = statistics.median(input_ms)
    run.setup_samples = INPUT_REPEATS
    with run.stage("setup.warmup_ms"):
        # snapshot 0, then round 1: every job shape of a round at the
        # measured volume (the budget caps every later round at that size)
        eng = _crawl_engine(spark, seeds, run.path("crawl"))
        eng.start()
        for _ in range(WARM_ROUNDS):
            eng.crawl_round()
    run.log("warm-up done")

    if run.tracer is not None:
        _install_wrappers(run)
        cpu0 = tr.python_worker_cpu_s(os.getpid())
    t_m = time.time()
    run.lat = _crawl_rounds_loop(eng, rounds)
    run.measured = (t_m, time.time())
    run.attempted = rounds
    if run.tracer is not None:
        run.layer["fetch.python_cpu_s"] = tr.python_worker_cpu_s(os.getpid()) - cpu0
        run.tracer.unwrap_all()
    run.log(f"rounds done {run.lat}")
    rows = _crawl_check(run, eng, seeds, WARM_ROUNDS + rounds)
    run.log("checked")
    run.units = sum(r["popped"] + r["candidates"] for r in rows[WARM_ROUNDS:])
    if run.tracer is not None:
        _crawl_layers(run, eng, rows)
        _query_side_layers(run, eng)


# ==================================================================== query

def _build_index(run: Run):
    """The search index over synthetic crawled pages: fetched and parsed
    once into a documents file, then written through the public
    ``batch_index`` path (which maintains postings and doc_stats)."""
    from goprowl_spark import corpus
    from goprowl_spark.engine import GoProwlSearchEngine
    from goprowl_spark.parse import with_document_columns

    spark = run.spark
    batch = spark.createDataFrame(
        [(corpus.url(i), 0) for i in range(SEARCH_PAGES)], "url string, depth int"
    ).repartition(CORES)
    pages = run.path("pages")
    with_document_columns(corpus.make_fetcher(SEARCH_PAGES)(batch), 1).write.parquet(pages)
    run.log("pages written")
    engine = GoProwlSearchEngine(spark, run.path("index"))
    engine.batch_index(spark.read.parquet(pages))
    return engine


def _query_ops(rng: random.Random, headline: list[str]) -> list[tuple[str, str]]:
    """One pass: every headline query and every search op, in seeded order."""
    ops = [("headline", q) for q in headline] + list(SEARCH_OPS)
    rng.shuffle(ops)
    return ops


def _run_op(run: Run, engine, qs: dict, kind: str, arg: str):
    """Issue one query and collect its result rows (headline queries also
    return their column names, for the oracle comparison)."""
    if kind == "headline":
        df = qs[arg](run.spark, TABLES)
        return df.columns, [tuple(r) for r in df.collect()]
    if kind == "boolean":
        df = engine.search(arg, size=TOP_K).select("doc_id", "score")
    else:
        df = engine.search_ranked(arg, scorer=kind, k=TOP_K)
    return [tuple(r) for r in df.collect()]


def _query_loop(run: Run, engine, qs: dict, ops):
    """Run the ops once, each after the previous one has returned; return
    (kind, arg, seconds, result) per op."""
    recs = []
    for kind, arg in ops:
        name = f"query.{kind}" if kind != "headline" else f"query.headline.{arg}"
        t0 = time.time()
        if run.tracer is not None:
            out = run.tracer.call(name, _run_op, run, engine, qs, kind, arg)
        else:
            out = _run_op(run, engine, qs, kind, arg)
        dt = time.time() - t0
        recs.append((kind, arg, dt, out))
        print(f"op {name} {arg!r} {dt * 1e3:.0f} ms", file=sys.stderr)
    return recs


def _check_headline(run: Run, recs) -> None:
    """Every timed headline result against its ``contract.oracle_sql()``
    twin, run in DuckDB on the same tables."""
    import duckdb

    from goprowl_spark import contract
    from tools.check_contract import TABLES as TABLE_NAMES
    from tools.check_contract import normalize

    osql = contract.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = os.path.join(TABLES, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for i, (kind, name, _, out) in enumerate(recs):
            if kind != "headline":
                continue
            cols, rows = out
            res = con.sql(osql[name])
            ocols = [d[0] for d in res.description]
            err = oracles.rows_match(rows, cols, res.fetchall(), ocols, normalize)
            if err:
                run.fail(f"op {i} headline {name}", err)
    finally:
        con.close()


def _check_search(run: Run, engine, recs) -> None:
    """Every timed search op against the DuckDB ranking and boolean-search
    oracles."""
    import duckdb

    from goprowl_spark import ranking
    from goprowl_spark import search as gsearch
    from tools.check_contract import normalize

    con = duckdb.connect()
    try:
        files = [f.removeprefix("file:") for f in engine.store.get_all().inputFiles()]
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")
        for i, (kind, arg, _, out) in enumerate(recs):
            if kind == "headline":
                continue
            if kind == "boolean":
                sql = gsearch.search_oracle_sql(
                    arg, "documents", "doc_id", "title", "content", size=TOP_K
                )
                cols = ["doc_id", "score"]
                err = oracles.rows_match(out, cols, con.sql(sql).fetchall(), cols, normalize)
            else:
                fn = ranking.bm25_oracle_sql if kind == "bm25" else ranking.tfidf_oracle_sql
                want = con.sql(fn("documents", "doc_id", "content", arg)).fetchall()
                err = oracles.check_topk(out, want, TOP_K)
            if err:
                run.fail(f"op {i} {kind} {arg!r}", err)
    finally:
        con.close()


def query(run: Run) -> None:
    from bench import HEADLINE
    from goprowl_spark import contract

    qs = contract.queries()
    with run.stage("setup.input_ms"):
        engine = _build_index(run)
    with run.stage("setup.warmup_ms"):
        # one untimed pass of the same ops in another order: a query's
        # first run in a session also pays planning, code generation and
        # JIT compilation
        for kind, arg in _query_ops(random.Random(run.seed + 1), HEADLINE):
            _run_op(run, engine, qs, kind, arg)
    run.log("warm-up done")

    if run.tracer is not None:
        _install_wrappers(run)
    t_m = time.time()
    recs = _query_loop(run, engine, qs, _query_ops(random.Random(run.seed), HEADLINE))
    run.measured = (t_m, time.time())
    if run.tracer is not None:
        run.tracer.unwrap_all()
    run.lat = [dt for _, _, dt, _ in recs]
    run.attempted = run.units = len(recs)
    run.log(f"{len(recs)} ops done")
    _check_headline(run, recs)
    _check_search(run, engine, recs)
    run.log("checked")
    if run.tracer is not None:
        _query_layers(run, engine, recs)
        _crawl_side_layers(run)


WORKLOADS = {"crawl": crawl, "query": query}


# ============================================================ traced layers

def _wrap_round(run: Run) -> None:
    from goprowl_spark.crawl import CrawlEngine
    from goprowl_spark.tables import SnapshotCatalog

    run.tracer.wrap(CrawlEngine, "crawl_round", "crawl.round")
    run.tracer.wrap(SnapshotCatalog, "commit_staged", "tables.commit")


def _install_wrappers(run: Run) -> None:
    """Spans around the program's eager public calls."""
    from goprowl_spark.tables import SnapshotCatalog

    _wrap_round(run)
    run.tracer.wrap(
        SnapshotCatalog,
        "load",
        "tables.load",
        after=lambda df, a, kw: run.files_per_load.append(len(df.inputFiles())),
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


def _span_ms(run: Run, name: str) -> float:
    spans = run.tracer.by_name(name)
    return statistics.median(s.dur for s in spans) * 1e3 if spans else 0.0


def _common_layers(run: Run) -> None:
    files = run.files_per_load
    loads = run.tracer.by_name("tables.load")
    run.layer["tables.load_ms"] = _span_ms(run, "tables.load")
    run.layer["tables.load_calls"] = float(len(loads))
    run.layer["tables.files_per_load"] = statistics.mean(files) if files else 0.0
    run.layer["tables.commit_ms"] = _span_ms(run, "tables.commit")


def _crawl_layers(run: Run, eng, rows: list[dict]) -> None:
    """Replays of the lazy builders on inputs captured from the run (the
    pre-round snapshot of the last measured round), each forced with a
    noop sink, plus counts read from the crawl's own tables."""
    from pyspark.sql import functions as F

    from goprowl_spark import corpus, ranking, schemas, seen_filter
    from goprowl_spark.parse import extract_links, with_document_columns
    from goprowl_spark.politeness import pop_batch
    from goprowl_spark.store import DocumentStore

    spark = run.spark
    cat = eng.catalog
    r = len(rows)
    pre = r - 1  # snapshot 0 is start(); round r commits snapshot r
    walls = [s.dur for s in run.tracer.by_name("crawl.round")]
    run.layer["crawl.round_ms"] = statistics.median(walls) * 1e3
    if len(walls) >= 2:
        k = min(5, len(walls) // 2)
        run.layer["crawl.round_growth"] = statistics.mean(walls[-k:]) / statistics.mean(walls[:k])

    frontier = cat.load("frontier", pre, schemas.FRONTIER)
    popped_path = run.path("capture", "popped")
    pop_batch(frontier, None, BUDGET, eng.config.salt).select("url", "depth").write.parquet(popped_path)
    popped = spark.read.parquet(popped_path)
    run.layer["politeness.pop_ms"] = _median_time(
        lambda: _noop(pop_batch(frontier, None, BUDGET, eng.config.salt))
    ) * 1e3
    run.layer["politeness.pop_rows"] = float(popped.count())

    fetcher = corpus.make_fetcher(CRAWL_N)
    n_pages = rows[-1]["popped"]
    batch = popped.repartition(CORES * eng.config.fetch_tasks_per_core)
    run.layer["fetch.us_per_page"] = _median_time(
        lambda: _noop(with_document_columns(fetcher(batch), r))
    ) * 1e6 / n_pages
    docs = spark.read.parquet(cat.stage_path(r, "documents"))
    n_docs = docs.count()
    links = extract_links(docs)
    n_links = links.count()
    run.layer["fetch.pages"] = float(n_pages)
    run.layer["parse.links"] = float(n_links)
    run.layer["parse.links_us_per_page"] = _median_time(lambda: _noop(links)) * 1e6 / n_docs

    cand_path = run.path("capture", "candidates")
    (
        links.select(
            F.col("link").alias("url"),
            (F.col("src_depth") + 1).cast("int").alias("depth"),
        )
        .where(F.col("depth") <= MAX_DEPTH)
        .select("url", F.xxhash64("url").alias("url_hash"), "depth")
        .where(F.parse_url("url", F.lit("HOST")).isNotNull())
        .write.parquet(cand_path)
    )
    cands = spark.read.parquet(cand_path)
    n_raw = cands.count()
    blobs = cat.load("seen_bloom", pre, schemas.SEEN_BLOOM)

    def fused():
        return seen_filter.probe_and_update(
            cands, blobs, eng.config.n_buckets, eng.config.bits_per_bucket, gen=r, dedup=True
        )

    run.layer["seen_filter.us_per_candidate"] = _median_time(lambda: _noop(fused())) * 1e6 / n_raw
    st = fused().agg(
        F.sum(F.when(F.col("filter_blob").isNull() & F.col("maybe_seen"), 1).otherwise(0)).alias("maybe"),
        F.sum(F.when(F.col("filter_blob").isNull(), 1).otherwise(0)).alias("cands"),
        F.max("n_cands").alias("bucket_max"),
    ).collect()[0]
    run.layer["seen_filter.maybe_frac"] = st["maybe"] / max(st["cands"], 1)
    run.layer["seen_filter.bucket_rows_max"] = float(st["bucket_max"] or 0)
    run.layer["seen_filter.new_frac"] = sum(x["enqueued"] for x in rows) / max(
        sum(x["candidates"] for x in rows), 1
    )

    run.layer["ranking.build_postings_ms"] = _median_time(
        lambda: (_noop(ranking.build_postings(docs)), _noop(ranking.build_doc_stats(docs)))
    ) * 1e3
    store = DocumentStore(spark, eng.catalog.root)
    postings = store.postings()
    # the workload's own index, when both workloads' layers are replayed
    run.layer.setdefault("store.postings_rows", float(postings.count()))
    run.layer.setdefault("store.postings_files", float(len(postings.inputFiles())))
    run.layer["tables.manifest_kb"] = os.path.getsize(cat._manifest_path) / 1024
    stored = sum(x["popped"] for x in rows)
    run.layer["tables.bytes_per_page"] = _dir_bytes(cat.root) / max(stored, 1)


def _query_layers(run: Run, engine, recs) -> None:
    """Index-read and contract layers from the query op spans, plus replays
    of the scorers and a postings scan on the engine's maintained index."""
    from pyspark.sql import functions as F

    from bench import HEADLINE
    from goprowl_spark import ranking

    run.layer["engine.search_ranked_ms.bm25"] = _span_ms(run, "query.bm25")
    run.layer["engine.search_ranked_ms.tfidf"] = _span_ms(run, "query.tfidf")
    run.layer["search.boolean_ms"] = _span_ms(run, "query.boolean")
    for name in HEADLINE:
        run.layer[f"contract.{name}_ms"] = _span_ms(run, f"query.headline.{name}")

    store = engine.store
    postings, stats = store.postings(), store.doc_stats()
    run.layer["store.postings_scan_ms"] = _median_time(lambda: _noop(postings)) * 1e3
    # the workload's own index, when both workloads' layers are replayed
    run.layer.setdefault("store.postings_rows", float(postings.count()))
    run.layer.setdefault("store.postings_files", float(len(postings.inputFiles())))
    row = stats.agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")).collect()[0]
    n, avgdl = int(row["n"]), float(row["avgdl"])
    q = next(arg for kind, arg, _, _ in recs if kind == "bm25")

    def bm25():
        return ranking.bm25_scores(run.spark, postings, stats, n, q, avgdl=avgdl).collect()

    run.layer["ranking.bm25_ms"] = _median_time(bm25) * 1e3
    run.layer["ranking.tfidf_ms"] = _median_time(
        lambda: ranking.tfidf_scores(run.spark, postings, stats, n, q).collect()
    ) * 1e3
    terms = list(dict.fromkeys(ranking.tokenize(q)))
    examined = postings.where(F.col("term").isin(terms)).count()
    run.layer["ranking.rows_examined_per_hit"] = examined / max(min(TOP_K, len(bm25())), 1)


def _query_side_layers(run: Run, eng) -> None:
    """On the crawl workload, the index-read and contract layers: one traced
    pass of the query ops, after the timed rounds, over the index this crawl
    wrote and over the headline tables."""
    from bench import HEADLINE
    from goprowl_spark import contract
    from goprowl_spark.engine import GoProwlSearchEngine

    engine = GoProwlSearchEngine(run.spark, eng.catalog.root)
    ops = _query_ops(random.Random(run.seed), HEADLINE)
    recs = _query_loop(run, engine, contract.queries(), ops)
    _query_layers(run, engine, recs)


def _crawl_side_layers(run: Run) -> None:
    """On the query workload, the crawl, politeness, fetch, seen-filter and
    index-write layers: one traced round of a crawl like the crawl
    workload's, then the same replays."""
    eng = _crawl_engine(run.spark, _crawl_seeds(run.seed), run.path("crawl"))
    eng.start()
    _wrap_round(run)
    cpu0 = tr.python_worker_cpu_s(os.getpid())
    eng.crawl_round()
    run.layer["fetch.python_cpu_s"] = tr.python_worker_cpu_s(os.getpid()) - cpu0
    run.tracer.unwrap_all()
    rows = [
        r.asDict()
        for r in eng.metrics()
        .select("round", "popped", "candidates", "enqueued")
        .orderBy("round")
        .collect()
    ]
    _crawl_layers(run, eng, rows)


# ============================================================ layer report

def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit. A layer
    that does not run on a workload reports 0 there."""
    from bench import HEADLINE

    units = {
        "session.start_ms": "ms",
        "setup.warmup_ms": "ms",
        "setup.input_ms": "ms",
        "crawl.round_ms": "ms",
        "crawl.driver_gap_ms": "ms",
        "crawl.jobs_per_round": "count",
        "crawl.tasks_per_round": "count",
        "crawl.round_growth": "ratio",
        "politeness.pop_ms": "ms",
        "politeness.pop_rows": "count",
        "fetch.us_per_page": "us",
        "fetch.python_cpu_s": "s",
        "parse.links_us_per_page": "us",
        "fetch.pages": "count",
        "parse.links": "count",
        "seen_filter.us_per_candidate": "us",
        "seen_filter.maybe_frac": "ratio",
        "seen_filter.bucket_rows_max": "count",
        "seen_filter.new_frac": "ratio",
        "tables.commit_ms": "ms",
        "tables.load_ms": "ms",
        "tables.load_calls": "count",
        "tables.files_per_load": "count",
        "tables.manifest_kb": "KB",
        "tables.bytes_per_page": "B",
        "ranking.build_postings_ms": "ms",
        "store.postings_rows": "count",
        "store.postings_files": "count",
        "engine.search_ranked_ms.bm25": "ms",
        "engine.search_ranked_ms.tfidf": "ms",
        "ranking.bm25_ms": "ms",
        "ranking.tfidf_ms": "ms",
        "store.postings_scan_ms": "ms",
        "search.boolean_ms": "ms",
        "ranking.rows_examined_per_hit": "ratio",
    }
    units.update({f"contract.{q}_ms": "ms" for q in HEADLINE})
    units.update(
        {
            "contract.shuffle_mb": "MB",
            "spark.executor_cpu_s": "s",
            "spark.executor_run_s": "s",
            "spark.gc_ms": "ms",
            "spark.shuffle_write_mb": "MB",
            "spark.spill_mb": "MB",
            "spark.exec_memory_peak_mb": "MB",
            "spark.jobs": "count",
            "spark.tasks": "count",
            "trace.overhead_pct": "%",
            "trace.self_time_share": "ratio",
            "trace.spans": "count",
        }
    )
    return units


def finish_trace(run: Run, event_log_dir: str) -> dict[str, str]:
    """Derive the event-log and span metrics once Spark has stopped (the
    event log is complete only then). Returns, for each per-layer metric
    this workload does not exercise, why it reads 0."""
    t = run.tracer
    _common_layers(run)
    jobs = tr.read_event_logs(event_log_dir)
    by_span = tr.attach_jobs(jobs, t.spans)
    tops = [s for s in t.spans if s.parent is None]
    lo, hi = run.measured
    op_jobs = [
        j for s in tops if lo <= s.start and s.end <= hi for j in by_span.get(s.span_id, [])
    ]
    mb = 1024 * 1024
    run.layer.update(
        {
            "spark.executor_cpu_s": sum(j["executor_cpu_s"] for j in op_jobs),
            "spark.executor_run_s": sum(j["executor_run_s"] for j in op_jobs),
            "spark.gc_ms": sum(j["gc_ms"] for j in op_jobs),
            "spark.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in op_jobs) / mb,
            "spark.spill_mb": sum(j["spill_bytes"] for j in op_jobs) / mb,
            "spark.exec_memory_peak_mb": max(
                (j["exec_memory_peak_bytes"] for j in op_jobs), default=0
            ) / mb,
            "spark.jobs": float(len(op_jobs)),
            "spark.tasks": float(sum(j["tasks"] for j in op_jobs)),
        }
    )
    rounds = [s for s in tops if s.name == "crawl.round"]
    if rounds:
        per = [by_span.get(s.span_id, []) for s in rounds]
        run.layer["crawl.jobs_per_round"] = statistics.mean(len(js) for js in per)
        run.layer["crawl.tasks_per_round"] = statistics.mean(
            sum(j["tasks"] for j in js) for js in per
        )
        run.layer["crawl.driver_gap_ms"] = statistics.median(
            tr.driver_gap(s, js) for s, js in zip(rounds, per)
        ) * 1e3
    headline = [s for s in tops if s.name.startswith("query.headline.")]
    if headline:
        shuffle = sum(
            j["shuffle_write_bytes"] for s in headline for j in by_span.get(s.span_id, [])
        )
        run.layer["contract.shuffle_mb"] = shuffle / mb / (len(headline) / 10)
    selfs = tr.self_times(t.spans)
    run.layer["trace.self_time_share"] = sum(selfs.values()) / sum(s.dur for s in tops)
    run.layer["trace.spans"] = float(len(t.spans))
    run.layer["trace.overhead_pct"] = t.overhead / sum(s.dur for s in tops) * 100
    run.layer.update(run.setup)
    units = per_layer_units()
    missing = {}
    for name in units:
        if name not in run.layer:
            run.layer[name] = 0.0
            missing[name] = (
                "needs two or more measured rounds"
                if name == "crawl.round_growth" and rounds
                else "layer not exercised by this workload"
            )
    return missing
