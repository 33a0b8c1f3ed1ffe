"""Per-layer tracing from outside the program.

Two sources:

- :class:`Tracer` — spans around module-level calls, installed by
  swapping attributes for the traced half of a run and restoring them
  after.  A span's self time is its duration minus the time of the
  spans it encloses, so the self times of one query sum to at most
  its wall.  Bookkeeping the tracer does inside a query (counting
  files, pickling payloads, re-running shard work) is excluded from
  both the enclosing span and the query wall.
- :func:`build_layers` / :func:`search_layers` — Spark's own event
  log (uncompressed JSON lines), attributed to the build phases by
  each SQL execution's write target and to Spark-tier queries by job
  submission time.
"""

from __future__ import annotations

import functools
import json
import pickle
import re
import statistics
import time
from collections import Counter, defaultdict
from pathlib import Path

perf = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.stack: list[list] = []          # [name, child seconds]
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self.overhead_s = 0.0
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------- spans

    def reset(self) -> None:
        """Start a new query's accumulators."""
        self.self_s = defaultdict(float)
        self.calls = Counter()
        self.counts = Counter()
        self.overhead_s = 0.0

    def enter(self, name: str) -> float:
        self.stack.append([name, 0.0])
        return perf()

    def leave(self, t0: float) -> None:
        dt = perf() - t0
        name, child = self.stack.pop()
        self.self_s[name] += dt - child
        self.calls[name] += 1
        if self.stack:
            self.stack[-1][1] += dt

    def bookkeep(self, dt: float) -> None:
        """Time the tracer itself spent inside a query."""
        self.overhead_s += dt
        if self.stack:
            self.stack[-1][1] += dt

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            t0 = tracer.enter(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.leave(t0)

        return traced

    # ----------------------------------------------------- patching

    def patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]
                            if isinstance(owner, type) else getattr(owner, attr)))
        setattr(owner, attr, new)

    def span(self, owner, attr: str, name: str) -> None:
        self.patch(owner, attr, self.wrap(getattr(owner, attr), name))

    def restore(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)


class DatasetProxy:
    """Times ``to_table`` on a pyarrow dataset and counts the files
    and rows each read touches."""

    def __init__(self, ds, tracer: Tracer, name: str | None):
        self._ds, self._tr, self._name = ds, tracer, name

    def __getattr__(self, attr):
        return getattr(self._ds, attr)

    def to_table(self, *a, **kw):
        tr = self._tr
        t0 = tr.enter(self._name) if self._name else None
        try:
            tbl = self._ds.to_table(*a, **kw)
        finally:
            if t0 is not None:
                tr.leave(t0)
        t1 = perf()
        flt = kw.get("filter")
        n_files = sum(1 for _ in self._ds.get_fragments(filter=flt)) \
            if flt is not None else len(self._ds.files)
        tr.counts["files"] += n_files
        tr.counts["rows"] += tbl.num_rows
        cols = kw.get("columns") or []
        if "doc_gaps" in cols:
            tr.counts["blocks_read"] += tbl.num_rows
        tr.bookkeep(perf() - t1)
        return tbl


def install_node(tr: Tracer) -> None:
    """Spans of the node tier (``LocalSearcher``) and its kernels."""
    from katta_spark.fulltext import qparse
    from katta_spark.index import codec, serve

    tr.span(codec, "decode_block", "codec.decode")
    tr.span(codec, "bit_count_frame", "codec.bitcount")
    tr.span(qparse, "combine_q_fq", "qparse.parse")
    tr.span(serve, "_wand_scan", "serve.score")
    tr.span(serve, "_exhaustive_scan", "serve.score")
    tr.span(serve.LocalSearcher, "_blocks", "serve.frame_glue")
    tr.span(serve.LocalSearcher, "count_raw", "serve.frame_glue")
    tr.span(serve.LocalSearcher, "fetch", "serve.fetch")
    tr.span(serve._LocalEval, "eval_query", "serve.eval")


def proxy_datasets(tr: Tracer, s) -> None:
    """Wrap one searcher's postings / catalog / stored-doc datasets."""
    s._postings = DatasetProxy(s._postings, tr, "serve.postings_read")
    s._terms = DatasetProxy(s._terms, tr, "serve.catalog_read")
    s._docs = DatasetProxy(s._docs, tr, None)


def install_scatter(tr: Tracer) -> None:
    """Spans of the scatter client.  ``_scatter`` is timed as the
    fan-out; as bookkeeping it also pickles every payload and result
    (bytes on the wire) and re-runs each shard task in this process
    (shard work without dispatch)."""
    from katta_spark.index import serve

    tr.span(serve.ShardedSearcher, "_merged_cat", "scatter.df_exchange")
    tr.span(serve.LocalSearcher, "fetch", "serve.fetch")
    real = serve.ShardedSearcher._scatter

    def scatter(self, task_fn, payloads, timeout_ms=None):
        t0 = tr.enter("scatter.fanout")
        try:
            out = real(self, task_fn, payloads, timeout_ms)
        finally:
            tr.leave(t0)
        t1 = perf()
        tr.counts["bytes"] += sum(len(pickle.dumps((task_fn, p)))
                                  for p in payloads)
        tr.counts["bytes"] += sum(len(pickle.dumps(r)) for r in out)
        work = []
        for p in payloads:
            w0 = perf()
            task_fn(p)
            work.append(perf() - w0)
        tr.counts["shard_work_max_us"] += int(max(work) * 1e6)
        tr.counts["scatters"] += 1
        tr.bookkeep(perf() - t1)
        return out

    tr.patch(serve.ShardedSearcher, "_scatter", scatter)


# ------------------------------------------------------- Spark event log

#: the output path of a write command in a physical plan description
_TARGET = re.compile(r"Arguments: (file:[^,\s]+)")


def read_event_log(log_dir: Path) -> list[dict]:
    """Events of every application logged under ``log_dir``; Spark 4
    writes a directory of rolled ``events_<n>_...`` files per app."""
    def order(p: Path):
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0, p.name)

    events: list[dict] = []
    files = [p for p in Path(log_dir).rglob("*")
             if p.is_file() and not p.name.startswith((".", "appstatus"))]
    for f in sorted(files, key=order):
        with f.open() as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(iv: list[tuple[float, float]]) -> float:
    tot, end = 0.0, float("-inf")
    for s, e in sorted(iv):
        if e > end:
            tot += e - max(s, end)
            end = e
    return tot


class SparkLog:
    """Index of one application's event log."""

    def __init__(self, events: list[dict]):
        self.exec_start: dict[int, tuple[float, str]] = {}
        self.exec_end: dict[int, float] = {}
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        for e in events:
            ev = e.get("Event", "")
            if ev.endswith("SQLExecutionStart"):
                self.exec_start[e["executionId"]] = (
                    e["time"], e.get("physicalPlanDescription", ""))
            elif ev.endswith("SQLExecutionEnd"):
                self.exec_end[e["executionId"]] = e["time"]
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"], "end": None,
                    "exec": int(eid) if eid is not None else None,
                    "stages": list(e.get("Stage IDs", [])),
                }
                for s in e.get("Stage IDs", []):
                    self.stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                self.tasks[e["Stage ID"]].append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "rows": inp.get("Records Read", 0),
                })

    def jobs_in(self, t0_ms: float, t1_ms: float) -> list[int]:
        return [j for j, v in self.jobs.items() if t0_ms <= v["submit"] <= t1_ms]

    def stage_tasks(self, jobs: list[int]) -> dict[int, list[dict]]:
        return {s: self.tasks.get(s, []) for j in jobs
                for s in self.jobs[j]["stages"] if self.tasks.get(s)}


def build_layers(log: SparkLog, windows: list[tuple[float, float]]) -> dict:
    """Build metrics summed over the build windows (epoch ms).

    Each SQL execution inside a window is attributed by its write
    target: ``docs/`` -> ingest, ``postings/`` -> postings, ``terms``
    -> catalog; an execution that writes nothing (dense-id counts, the
    doc-id watermark) belongs to the phase of the next write."""
    phase_iv: dict[str, list] = defaultdict(list)
    phase_stages: dict[str, list[int]] = defaultdict(list)
    for t0, t1 in windows:
        execs = sorted((st[0], eid) for eid, st in log.exec_start.items()
                       if t0 <= st[0] <= t1)
        labels: list[str | None] = []
        for _, eid in execs:
            m = _TARGET.search(log.exec_start[eid][1])
            tgt = m.group(1) if m else ""
            labels.append("postings" if "/postings/" in tgt
                          else "catalog" if tgt.rstrip("/").endswith("terms")
                          else "ingest" if "/docs/" in tgt else None)
        nxt = "catalog"
        for i in range(len(labels) - 1, -1, -1):
            if labels[i] is None:
                labels[i] = nxt
            nxt = labels[i]
        for (st, eid), lab in zip(execs, labels):
            end = log.exec_end.get(eid, st)
            phase_iv[lab].append((st, end))
            for j, v in log.jobs.items():
                if v["exec"] == eid:
                    phase_stages[lab].extend(v["stages"])
    n = max(len(windows), 1)
    out = {f"build.{p}_s": _union_ms(phase_iv[p]) / 1000.0 / n
           for p in ("ingest", "postings", "catalog")}
    tasks = [t for p in phase_stages.values() for s in p
             for t in log.tasks.get(s, [])]
    out["build.executor_cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9 / n
    out["build.shuffle_write_mb"] = sum(t["shuffle_w"] for t in tasks) / 2**20 / n
    out["build.spill_mb"] = sum(t["spill"] for t in tasks) / 2**20 / n
    out["build.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1000.0 / n
    # skew of the heaviest postings stage: max / median task run time
    heavy = max((log.tasks.get(s, []) for s in phase_stages["postings"]),
                key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
    runs = [t["run_ms"] for t in heavy]
    med = statistics.median(runs) if runs else 0
    out["build.postings_task_skew"] = (max(runs) / med) if med else 0.0
    return out


def search_layers(log: SparkLog, windows: list[tuple[float, float]]) -> dict:
    """Spark-tier query metrics, per query (windows in epoch ms).
    ``executor_ms`` is the critical path through the query's stages
    (the longest task of each stage, summed); ``floor_ms`` is the rest
    of the call's wall: planning, scheduling, result collection."""
    agg = Counter()
    for t0, t1 in windows:
        jobs = log.jobs_in(t0, t1)
        iv = [(log.jobs[j]["submit"], log.jobs[j]["end"] or t1) for j in jobs]
        st = log.stage_tasks(jobs)
        crit = sum(max(t["run_ms"] for t in ts) for ts in st.values())
        agg["job_wall_ms"] += _union_ms(iv)
        agg["executor_ms"] += crit
        agg["floor_ms"] += (t1 - t0) - crit
        agg["tasks"] += sum(len(ts) for ts in st.values())
        agg["rows"] += sum(t["rows"] for ts in st.values() for t in ts)
    n = max(len(windows), 1)
    return {
        "search.job_wall_ms": agg["job_wall_ms"] / n,
        "search.executor_ms": agg["executor_ms"] / n,
        "search.floor_ms": agg["floor_ms"] / n,
        "search.tasks_per_query": agg["tasks"] / n,
        "search.rows_read_per_query": agg["rows"] / n,
    }
