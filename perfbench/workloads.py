"""The two workloads: one per serving tier, each preceded by the
batch user's build on the same corpus.

A run of either workload:

1. generates the corpus and queries from the seed and writes the
   ``(repo, path, commit, lang, content)`` parquet table(s);
2. set-up: starts Spark (``local[4]``) and builds the index(es) with
   ``build_index``;
3. on ``node_serve`` only, sends ``SPARK_OPS`` Spark-tier operations
   (``PhysicalIndex`` ``topk`` / ``count`` / ``query``) to the fresh
   index; then stops Spark and its JVM;
4. sends the seeded operation stream in a closed loop (one client,
   each operation sent after the previous answer arrives) in
   ``PASSES`` passes, each on a freshly opened serving handle with
   default settings: the first pass runs for its share of
   ``--seconds``, the others resend exactly the operations it sent.
   A fresh handle has empty result caches, so no answer is served
   from a cache; an operation's latency is its fastest pass.

- ``node_serve``: one union index, served by one ``LocalSearcher``.
- ``scatter_serve``: ``SHARDS`` shard indexes over a seeded split of
  the same-sized corpus, served by one ``ShardedSearcher`` (one
  worker process per shard).

A traced run (``--trace 1``) logs Spark events, spends the first half
of its loop time on the untraced passes, then replays the first
pass's operations once more on a fresh handle with the layer spans
installed; the difference between the medians of that replay and of
the untraced first pass is the tracing overhead.  Every answer is
checked against the BM25 oracle after the loops, untimed.
"""

from __future__ import annotations

import gc
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import host
import trace as tr_mod
from gen import Corpus, Query, QueryGen, make_corpus
from oracle import Oracle

WORKLOADS = ("node_serve", "scatter_serve")
#: docs per workload (scatter: the total over its shards)
DOCS = 8000
SHARDS = 2
#: Spark-tier operations per ``node_serve`` run, on the fresh index
SPARK_OPS = 10
#: untraced passes over the serving operations, each on a fresh handle
PASSES = 5
FIELDS = ["path", "lang"]
CLASSES = list(QueryGen.SERVE_MIX)

#: end-to-end metrics with their units, in the order they are printed.
#: Latencies that moved by more than a quarter between runs of the same
#: code on a 4-vCPU host (Spark-tier p50, serving p90, throughput) are
#: reported with the per-layer metrics instead; ``query_cpu_ms`` is the
#: serving cost, which stolen CPU time does not inflate.
E2E = {"setup_s": "s", "build_files_per_s": "1/s",
       "index_bytes_per_input_byte": "ratio", "query_p50_ms": "ms",
       "query_cpu_ms": "ms", "peak_rss_mb": "MB"}


@dataclass
class Args:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: Path
    docs: int | None = None
    inject_wrong: bool = False


@dataclass
class Rec:
    q: Query
    answer: object
    lat_s: float
    error: str | None = None
    layers: dict = field(default_factory=dict)
    window_ms: tuple[float, float] = (0.0, 0.0)


# ----------------------------------------------------------- helpers

def write_table(c: Corpus, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"repo": c.repo, "path": c.path,
                             "commit": c.commit, "lang": c.lang,
                             "content": c.content}), str(path))


def dir_bytes(d: Path) -> int:
    return sum(p.stat().st_size for p in d.rglob("*") if p.is_file())


def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(np.ceil(p / 100.0 * len(s))) - 1))]


def build(spark, table: Path, out: Path) -> float:
    """``build_index`` with its default settings, as a user calls it."""
    from katta_spark.index import build_index

    t0 = time.perf_counter()
    build_index(spark, spark.read.parquet(str(table)), str(out))
    return time.perf_counter() - t0


def serve_call(s, q: Query):
    if q.op == "topk":
        return s.topk(list(q.terms), k=q.k, mode=q.mode,
                      min_match=q.min_match, offset=q.offset)
    if q.op == "count":
        return s.count(list(q.terms), mode=q.mode)
    if q.op == "lucene":
        return s.query(q.q, k=q.k, offset=q.offset)
    return s.search(list(q.terms), k=q.k, mode=q.mode, fields=FIELDS)


def spark_call(idx, q: Query):
    if q.op == "count":
        return int(idx.count(list(q.terms), mode=q.mode).first()[0])
    if q.op == "lucene":
        df = idx.query(q.q, k=q.k, offset=q.offset)
    else:
        df = idx.topk(list(q.terms), k=q.k, mode=q.mode,
                      min_match=q.min_match, offset=q.offset)
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def closed_loop(call, ops: list[Query], seconds: float | None,
                tracer: tr_mod.Tracer | None = None) -> list[Rec]:
    """Send ``ops`` one after another until ``seconds`` have passed,
    or all of them when ``seconds`` is None."""
    recs: list[Rec] = []
    t_end = None if seconds is None else time.perf_counter() + seconds
    for q in ops:
        if tracer is not None:
            tracer.reset()
        w0 = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            ans, err = call(q), None
        except Exception as e:  # a failed operation is counted, not fatal
            ans, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        rec = Rec(q, ans, dt, err, window_ms=(w0, time.time() * 1000.0))
        if tracer is not None:
            rec.lat_s = dt - tracer.overhead_s
            rec.layers = {"self": dict(tracer.self_s),
                          "calls": dict(tracer.calls),
                          "counts": dict(tracer.counts)}
        recs.append(rec)
        if t_end is not None and time.perf_counter() >= t_end:
            break
    return recs


def corrupt(recs: list[Rec]) -> None:
    """Self-test hook: make one successful answer wrong."""
    for r in recs:
        a = r.answer
        if r.error or a is None:
            continue
        if isinstance(a, int):
            r.answer = a + 1
            return
        if isinstance(a, list) and a:
            r.answer = [(a[0][0], a[0][1] + 1.0)] + list(a[1:])
            return
        if isinstance(a, dict):
            r.answer = dict(a, num_found=a["num_found"] + 1)
            return


def check(oracle: Oracle, recs: list[Rec]) -> tuple[int, list[str]]:
    bad, notes = 0, []
    for r in recs:
        why = r.error or oracle.check(r.q, r.answer, FIELDS)
        if why:
            bad += 1
            if len(notes) < 5:
                notes.append(f"{r.q.op} {r.q.terms or r.q.q!r}: {why}")
    return bad, notes


def check_stats(c: Corpus, stats: dict) -> str | None:
    """The index's own corpus stats must match the generator's."""
    if int(stats["n_docs"]) != c.n_docs:
        return f"stats n_docs {stats['n_docs']} != {c.n_docs}"
    avgdl = float(c.dl.sum()) / c.n_docs
    if abs(float(stats["avgdl"]) - avgdl) > 1e-9 * avgdl:
        return f"stats avgdl {stats['avgdl']} != {avgdl}"
    return None


def class_p50(recs: list[Rec], lat_ms: list[float]) -> dict:
    by: dict[str, list[float]] = {}
    for r, ms in zip(recs, lat_ms):
        by.setdefault(r.q.cls, []).append(ms)
    return {f"class.{k}_p50_ms": (statistics.median(by[k]) if k in by else 0.0)
            for k in CLASSES}


def layer_metrics(recs: list[Rec]) -> dict:
    """Per-query means of the traced spans and counters."""
    n = max(len(recs), 1)
    self_ms: dict[str, float] = {}
    calls: dict[str, int] = {}
    counts: dict[str, int] = {}
    for r in recs:
        for k, v in r.layers.get("self", {}).items():
            self_ms[k] = self_ms.get(k, 0.0) + v * 1000.0
        for k, v in r.layers.get("calls", {}).items():
            calls[k] = calls.get(k, 0) + v
        for k, v in r.layers.get("counts", {}).items():
            counts[k] = counts.get(k, 0) + v
    wall = sum(r.lat_s for r in recs) * 1000.0
    m = {f"{k}_ms": self_ms.get(k, 0.0) / n for k in (
        "qparse.parse", "serve.postings_read", "serve.catalog_read",
        "serve.frame_glue", "serve.score", "serve.eval", "serve.fetch",
        "codec.decode", "codec.bitcount", "scatter.df_exchange",
        "scatter.fanout")}
    m["codec.decode_calls_per_query"] = calls.get("codec.decode", 0) / n
    m["serve.files_per_query"] = counts.get("files", 0) / n
    m["serve.rows_read_per_query"] = counts.get("rows", 0) / n
    blocks = counts.get("blocks_read", 0)
    m["serve.blocks_decoded_ratio"] = (calls.get("codec.decode", 0) / blocks
                                       if blocks else 0.0)
    work = counts.get("shard_work_max_us", 0) / 1000.0
    m["scatter.shard_work_ms"] = work / n
    m["scatter.dispatch_overhead_ms"] = m["scatter.fanout_ms"] - work / n
    m["scatter.bytes_per_query"] = counts.get("bytes", 0) / n
    named = sum(self_ms.values())
    m["trace.query_wall_ms"] = wall / n
    m["trace.unaccounted_share"] = (1.0 - named / wall) if wall else 0.0
    if "scatter.fanout" in self_ms:
        m["scatter.merge_ms"] = (wall - named) / n
    return m


#: per-layer metrics with their units, in the order they are printed
PER_LAYER = {
    "spark_query_p50_ms": "ms", "query_p90_ms": "ms", "queries_per_s": "1/s",
    "build.ingest_s": "s", "build.postings_s": "s", "build.catalog_s": "s",
    "build.executor_cpu_s": "s", "build.shuffle_write_mb": "MB",
    "build.spill_mb": "MB", "build.gc_s": "s",
    "build.postings_task_skew": "ratio",
    "search.job_wall_ms": "ms", "search.executor_ms": "ms",
    "search.floor_ms": "ms", "search.tasks_per_query": "count",
    "search.rows_read_per_query": "count",
    "qparse.parse_ms": "ms", "serve.postings_read_ms": "ms",
    "serve.catalog_read_ms": "ms", "serve.frame_glue_ms": "ms",
    "serve.score_ms": "ms", "serve.eval_ms": "ms", "serve.fetch_ms": "ms",
    "codec.decode_ms": "ms", "codec.decode_calls_per_query": "count",
    "codec.bitcount_ms": "ms", "serve.files_per_query": "count",
    "serve.rows_read_per_query": "count",
    "serve.blocks_decoded_ratio": "ratio",
    "serve.qcache_hit_ratio": "ratio",
    "scatter.df_exchange_ms": "ms", "scatter.fanout_ms": "ms",
    "scatter.merge_ms": "ms", "scatter.shard_work_ms": "ms",
    "scatter.dispatch_overhead_ms": "ms", "scatter.bytes_per_query": "bytes",
    "scatter.retries": "count", "scatter.scache_hit_ratio": "ratio",
    **{f"class.{k}_p50_ms": "ms" for k in CLASSES},
    "trace.query_wall_ms": "ms", "trace.unaccounted_share": "ratio",
    "trace.overhead_p50_ms": "ms", "failed_ratio": "ratio",
}


# ---------------------------------------------------------- workloads

class Outcome:
    """What a workload hands back to the runner."""

    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.info: dict = {}

    def count(self, oracle: Oracle, recs: list[Rec], inject: bool) -> None:
        if inject:
            corrupt(recs)
        bad, notes = check(oracle, recs)
        self.attempted += len(recs)
        self.failed += bad
        self.notes += notes


def _handle_metrics(s) -> dict:
    if hasattr(s, "metrics"):
        m = s.metrics()
        tot = m["scache_hits"] + m["scache_misses"]
        return {"scatter.scache_hit_ratio": m["scache_hits"] / tot if tot else 0.0,
                "scatter.retries": m["n_retries"] + m["n_replica_failovers"]}
    m = s.node_metrics()
    tot = m["qcache_hits"] + m["qcache_misses"]
    return {"serve.qcache_hit_ratio": m["qcache_hits"] / tot if tot else 0.0}


def serve_pass(make, ops: list[Query], seconds: float | None):
    """One closed-loop pass on a freshly opened handle: the records,
    the loop's wall time, its CPU meter and its result-cache hits."""
    s = make()
    try:
        with host.TreeMeter() as meter:
            t0 = time.perf_counter()
            recs = closed_loop(lambda q: serve_call(s, q), ops, seconds)
            loop_s = time.perf_counter() - t0
        hits = (s.metrics()["scache_hits"] if hasattr(s, "metrics")
                else s.node_metrics()["qcache_hits"])
    finally:
        _close(s)
    return recs, loop_s, meter, hits


def _close(s) -> None:
    """Shut a scatter handle's worker pool down and wait for it."""
    pool = getattr(s, "_pool", None)
    if pool is not None:
        pool.shutdown(wait=True)
    if hasattr(s, "close"):
        s.close()


class Layout:
    """The indexes one workload builds and serves: one union index, or
    ``SHARDS`` shard indexes over a seeded split of the corpus."""

    def __init__(self, c: Corpus, work: Path, sharded: bool, seed: int):
        self.c = c
        if sharded:
            rng = np.random.default_rng(seed + 17)
            self.shard_of = rng.integers(0, SHARDS, c.n_docs)
            self.parts = [c.subset(np.nonzero(self.shard_of == i)[0])
                          for i in range(SHARDS)]
        else:
            self.shard_of = np.zeros(c.n_docs, dtype=np.int64)
            self.parts = [c]
        self.tables = [work / f"table{i}" / "part-0.parquet"
                       for i in range(len(self.parts))]
        self.dirs = [work / f"index{i}" for i in range(len(self.parts))]

    def write_tables(self) -> None:
        for p, t in zip(self.parts, self.tables):
            write_table(p, t)

    def build_all(self, spark) -> float:
        t0 = time.perf_counter()
        for t, d in zip(self.tables, self.dirs):
            build(spark, t, d)
        return time.perf_counter() - t0

    def oracle(self, out: Outcome) -> Oracle:
        """Oracle over the union corpus, in the doc-id namespace the
        engine reports: shard i's ids shift by the block-aligned spans
        of shards 0..i-1 (the same rule as ``PhysicalIndex.open_many``
        and ``ShardedSearcher``).  The index stats are checked too."""
        import json

        ext = np.empty(self.c.n_docs, dtype=np.int64)
        offset = 0
        for i, (d, p) in enumerate(zip(self.dirs, self.parts)):
            stats = json.loads((d / "stats.json").read_text())
            bad = check_stats(p, stats)
            if bad:
                out.failed += 1
                out.notes.append(f"index {i}: {bad}")
            rows = np.nonzero(self.shard_of == i)[0]
            ext[self.c.doc_id[rows]] = p.doc_id + offset
            br = int(stats["block_range"])
            offset += -(-p.n_docs // br) * br
        return Oracle(self.c, stats["k1"], stats["b"], ext=ext)


def serve_workload(a: Args, sharded: bool) -> Outcome:
    from katta_spark.index import PhysicalIndex
    from katta_spark.index import serve

    out = Outcome()
    n = a.docs or DOCS
    t = time.perf_counter()
    c = make_corpus(a.seed, n)
    lay = Layout(c, a.work, sharded, a.seed)
    ops = QueryGen(a.seed, c, QueryGen.SERVE_MIX).stream(3000)
    spark_ops = QueryGen(a.seed + 1, c, QueryGen.SPARK_MIX).stream(
        0 if sharded else SPARK_OPS)
    lay.write_tables()
    out.info["gen_s"] = time.perf_counter() - t

    # set-up: Spark session, index build(s)
    t = time.perf_counter()
    spark = host.start_spark(a.work, a.trace)
    spark_s = time.perf_counter() - t
    try:
        w0 = time.time() * 1000.0
        build_s = lay.build_all(spark)
        build_win = (w0, time.time() * 1000.0)
        # the batch user's Spark tier on the fresh index, while Spark is up
        spark_recs = []
        if spark_ops:
            idx = PhysicalIndex(spark, str(lay.dirs[0]))
            spark_recs = closed_loop(lambda q: spark_call(idx, q),
                                     spark_ops, None)
    finally:
        t = time.perf_counter()
        host.stop_spark(spark)
    # where a run's wall time goes (context; the run budget is tight)
    phases = out.info["phases_s"] = {
        "spark_start": spark_s, "build": build_s,
        "spark_ops": sum(r.lat_s for r in spark_recs),
        "spark_stop": time.perf_counter() - t}
    if spark_recs:
        out.metrics["spark_query_p50_ms"] = statistics.median(
            r.lat_s for r in spark_recs) * 1000.0
        # the untraced figure is printed too, in the context line
        out.info["spark_query_p50_ms"] = out.metrics["spark_query_p50_ms"]
        out.info["spark_ops_ms"] = [(r.q.cls, round(r.lat_s * 1000.0, 1))
                                    for r in spark_recs]
    if a.trace:
        log = tr_mod.SparkLog(tr_mod.read_event_log(a.work / "eventlog"))
        out.metrics.update(tr_mod.build_layers(log, [build_win]))
        out.metrics.update(tr_mod.search_layers(
            log, [r.window_ms for r in spark_recs]))

    dirs = [str(d) for d in lay.dirs]
    if sharded:
        def make():
            # this process' shard handles, opened before the pool forks:
            # every worker inherits them open, and the traced replay
            # re-runs shard work on them
            serve._SHARD_CACHE.clear()
            for d in dirs:
                serve._shard_handle(d)
            s = serve.ShardedSearcher(dirs)
            s.count(["import"])   # fork the worker pool
            return s
    else:
        def make():
            return serve.LocalSearcher(dirs[0])
    opens = []
    for _ in range(3):
        t = time.perf_counter()
        _close(make())
        opens.append(time.perf_counter() - t)
    phases["opens"] = sum(opens)
    out.metrics["setup_s"] = spark_s + build_s + statistics.median(opens)
    out.metrics["build_files_per_s"] = n / build_s
    out.metrics["index_bytes_per_input_byte"] = (
        sum(dir_bytes(d) for d in lay.dirs) / c.content_bytes())
    oracle = lay.oracle(out)

    # the benchmark's own heap (corpus, oracle, operation list) moves to
    # the permanent GC generation, so collections during the loop scan
    # only what the serving code allocates, as in a client without it
    gc.collect()
    gc.freeze()
    # measured loop (the first half of a traced run's time, or all of
    # it): the first pass sets the operations, the others resend them.
    # Host contention only ever adds time and CPU, and on a shared host
    # it comes and goes within seconds, so an operation's fastest pass
    # is its latency with the least of it, and the pass with the least
    # CPU per operation gives the serving cost.
    first, loop_s, meter, hits = serve_pass(
        make, ops, a.seconds / PASSES / (2 if a.trace else 1))
    passes = [first]
    cpu_ms = [meter.cpu_s * 1000.0 / len(first)]
    peak_mb = meter.peak_mb
    for _ in range(PASSES - 1):
        recs_p, dt, m, h = serve_pass(make, [r.q for r in first], None)
        passes.append(recs_p)
        loop_s += dt
        cpu_ms.append(m.cpu_s * 1000.0 / len(recs_p))
        peak_mb = max(peak_mb, m.peak_mb)
        hits += h
    recs = [r for p in passes for r in p]
    phases["loop"] = loop_s
    lat = [min(rs) * 1000.0
           for rs in zip(*([r.lat_s for r in p] for p in passes))]
    first_p50 = statistics.median(r.lat_s for r in first) * 1000.0
    distinct = len({r.q.key() for r in first})
    out.info.update({"distinct_ops": distinct, "passes": PASSES,
                     "repeated_ops": len(first) - distinct,
                     "cache_hits": hits, "first_pass_p50_ms": first_p50,
                     "pass_cpu_ms": cpu_ms})
    out.metrics.update({"query_p50_ms": statistics.median(lat),
                        "query_p90_ms": pct(lat, 90),
                        "queries_per_s": len(recs) / loop_s,
                        "query_cpu_ms": min(cpu_ms),
                        "peak_rss_mb": peak_mb})
    traced: list[Rec] = []
    if a.trace:
        tracer = tr_mod.Tracer()
        s2 = make()
        try:
            if sharded:
                tr_mod.install_scatter(tracer)
            else:
                tr_mod.install_node(tracer)
                tr_mod.proxy_datasets(tracer, s2)
            traced = closed_loop(lambda q: serve_call(s2, q),
                                 [r.q for r in first], None, tracer)
            hm = _handle_metrics(s2)
        finally:
            tracer.restore()
            _close(s2)
        out.metrics.update(layer_metrics(traced))
        out.metrics.update(class_p50(first, lat))
        out.metrics["trace.overhead_p50_ms"] = (
            statistics.median(r.lat_s for r in traced) * 1000.0 - first_p50)
        out.metrics.update(hm)
    t = time.perf_counter()
    out.count(oracle, spark_recs + recs + traced, a.inject_wrong)
    phases["check"] = time.perf_counter() - t
    return out


def run(a: Args) -> Outcome:
    out = serve_workload(a, sharded=a.workload == "scatter_serve")
    if a.trace:
        out.metrics["failed_ratio"] = out.failed / max(out.attempted, 1)
        for k in PER_LAYER:
            out.metrics.setdefault(k, 0.0)
    return out


def cleanup(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
