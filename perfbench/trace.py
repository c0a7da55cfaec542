"""Spans around the package's layer boundaries, recorded from outside.

``Tracer.install()`` wraps public entry points of the package (and a
few DataFrame actions) with spans; ``uninstall()`` restores them. The
package itself is never edited. A span is ``(name, start, end,
parent, id)``: start/end are epoch seconds, parent is the index of the
enclosing span, and id is the round (crawl) or query name (curation)
the span belongs to.

Python-worker work (the crawl's mapInPandas resolver/admitter and the
robots pandas UDF) is timed per Arrow batch inside the worker and
appended to one file per worker pid under the trace directory.

Spark jobs come from the event log (``spark.eventLog.*``): each job is
attributed to the innermost driver span open at its submission.
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

import pandas as pd  # noqa: F401  (resolves the wrapped UDFs' hints)

PKG = "methanol_web_crawler_spark"


class Span:
    __slots__ = ("name", "start", "end", "parent", "id", "kind")

    def __init__(self, name, start, parent, id_, kind):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.id = id_
        self.kind = kind


# -- naming Spark actions by their assignment target ----------------------

@functools.lru_cache(maxsize=None)
def _assignments(filename: str) -> List[tuple]:
    """(first_line, last_line, target) of every assignment in a file."""
    try:
        with open(filename) as f:
            tree = ast.parse(f.read())
    except (OSError, SyntaxError):
        return []
    out = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            tgt = node.targets[0] if isinstance(node, ast.Assign) else node.target
            if isinstance(tgt, ast.Tuple) and tgt.elts:
                tgt = tgt.elts[0]
            name = getattr(tgt, "id", None) or getattr(tgt, "attr", None)
            if name:
                out.append((node.lineno, node.end_lineno, name))
    return out


def _action_site(frame) -> Optional[str]:
    """``<function>:<assigned variable>`` for a call made from package
    code, else None (pyspark-internal or benchmark calls)."""
    code = frame.f_code
    if f"{os.sep}{PKG}{os.sep}" not in code.co_filename:
        return None
    line = frame.f_lineno
    best = None
    for lo, hi, name in _assignments(code.co_filename):
        if lo <= line <= hi and (best is None or hi - lo < best[1] - best[0]):
            best = (lo, hi, name)
    return f"{code.co_name}:{best[2] if best else line}"


# -- Python-worker batch timing ---------------------------------------------

def _log_batches(trace_dir: str, name: str, recs: list) -> None:
    if not recs:
        return
    path = os.path.join(trace_dir, f"udf-{os.getpid()}.jsonl")
    with open(path, "a") as f:
        for rec in recs:
            f.write(json.dumps([name] + rec) + "\n")


def _timed_map_in_pandas(fn, name: str, trace_dir: str):
    """Wrap a mapInPandas body: per output batch, busy time excludes
    the time spent waiting for the next input batch."""

    @functools.wraps(fn)
    def traced(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wait = [0.0]
        rows = [0]

        def feed():
            while True:
                t = time.time()
                try:
                    pdf = next(it)
                except StopIteration:
                    wait[0] += time.time() - t
                    return
                wait[0] += time.time() - t
                rows[0] += len(pdf)
                yield pdf

        recs = []
        out = fn(feed())
        while True:
            t0 = time.time()
            w0, r0 = wait[0], rows[0]
            try:
                pdf = next(out)
            except StopIteration:
                break
            t1 = time.time()
            recs.append([t0, t1, t1 - t0 - (wait[0] - w0), rows[0] - r0])
            yield pdf
        _log_batches(trace_dir, name, recs)

    return traced


def _timed_series_udf(fn, name: str, trace_dir: str):
    @functools.wraps(fn)
    def traced(bodies: pd.Series) -> pd.Series:
        t0 = time.time()
        out = fn(bodies)
        t1 = time.time()
        _log_batches(trace_dir, name, [[t0, t1, t1 - t0, len(bodies)]])
        return out

    return traced


def read_worker_batches(trace_dir: str) -> List[tuple]:
    """Every worker batch as (name, start, end, busy_s, rows)."""
    out = []
    for path in glob.glob(os.path.join(trace_dir, "udf-*.jsonl")):
        with open(path) as f:
            out.extend(tuple(json.loads(line)) for line in f)
    return out


# -- the tracer ---------------------------------------------------------------

class Tracer:
    def __init__(self, trace_dir: str):
        self.trace_dir = trace_dir
        os.makedirs(trace_dir, exist_ok=True)
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._patches: list = []
        self.current_id = None
        self._round = -1
        self.bookkeeping_s = 0.0
        self.bytes_written = 0
        self.files_written = 0

    # spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, id_=None, kind: str = "call"):
        t = time.time()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, t, parent,
                  self.current_id if id_ is None else id_, kind)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.bookkeeping_s += time.time() - t
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.time() - sp.end

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def _spanned(self, name: str):
        def wrap(orig):
            @functools.wraps(orig)
            def inner(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
            return inner
        return wrap

    # install ---------------------------------------------------------------

    def install(self) -> None:
        try:  # Spark 4: sessions hand out the classic subclass
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        from methanol_web_crawler_spark.functions import (
            admit_jvm, extract_jvm, udfs,
        )
        from methanol_web_crawler_spark.operators.seen import BloomSeenFilter
        from methanol_web_crawler_spark.plans import crawl
        from methanol_web_crawler_spark.sources import (
            synthweb, synthweb_spark, tables,
        )

        tracer = self
        for mod, attr, name in (
            (crawl, "politeness_split", "plans.crawl.politeness_split"),
            (crawl, "build_candidates", "plans.crawl.build_candidates"),
            (extract_jvm, "split_jvm_extractable",
             "functions.extract_jvm.split_jvm_extractable"),
            (admit_jvm, "split_fast_admit",
             "functions.admit_jvm.split_fast_admit"),
            (synthweb, "generate_web", "sources.generate"),
            (synthweb_spark, "generate_web_df", "sources.generate"),
            (BloomSeenFilter, "update", "operators.seen.update"),
            (BloomSeenFilter, "split", "operators.seen.split"),
            (tables.SnapshotTable, "read_round", "sources.tables.read"),
            (tables.SnapshotTable, "read_until", "sources.tables.read"),
            (tables.SnapshotTable, "read_since", "sources.tables.read"),
            (tables.SnapshotTable, "read_latest", "sources.tables.read"),
            (tables.SnapshotTable, "read_bucketed", "sources.tables.read"),
        ):
            self._patch(mod, attr, self._spanned(name))
        self._patch(crawl.SparkCrawler, "__init__",
                    self._spanned("plans.crawl.init"))

        def segment(kind):
            def wrap(orig):
                @functools.wraps(orig)
                def inner(eng, *a, **kw):
                    t = time.time()
                    r0 = 0
                    if kind == "resume":
                        r0 = eng.store.table("frontier").latest_round()
                    tracer.bookkeeping_s += time.time() - t
                    tracer._round = r0 - 1
                    tracer.current_id = r0
                    with tracer.span(f"plans.crawl.{kind}", kind="segment"):
                        return orig(eng, *a, **kw)
                return inner
            return wrap

        self._patch(crawl.SparkCrawler, "run", segment("run"))
        self._patch(crawl.SparkCrawler, "resume", segment("resume"))

        def wave(orig):
            # split_wave opens every round of SparkCrawler._loop: it
            # advances the round id the following spans carry
            @functools.wraps(orig)
            def inner(*a, **kw):
                tracer._round += 1
                tracer.current_id = tracer._round
                with tracer.span("plans.crawl.split_wave", kind="wave"):
                    return orig(*a, **kw)
            return inner

        self._patch(crawl, "split_wave", wave)

        def append(orig):
            @functools.wraps(orig)
            def inner(tbl, *a, **kw):
                name = os.path.basename(tbl.dir)
                t = time.time()
                before = _tree_size(tbl.data_dir)
                tracer.bookkeeping_s += time.time() - t
                with tracer.span(f"sources.tables.append.{name}",
                                 kind="append"):
                    out = orig(tbl, *a, **kw)
                t = time.time()
                after = _tree_size(tbl.data_dir)
                tracer.bookkeeping_s += time.time() - t
                tracer.bytes_written += after[0] - before[0]
                tracer.files_written += after[1] - before[1]
                return out
            return inner

        self._patch(tables.SnapshotTable, "append", append)

        def factory(kind_wrap, name):
            def wrap(orig):
                @functools.wraps(orig)
                def inner(*a, **kw):
                    return kind_wrap(orig(*a, **kw), name, tracer.trace_dir)
                return inner
            return wrap

        self._patch(udfs, "make_link_resolver_scalar",
                    factory(_timed_map_in_pandas, "resolver"))
        self._patch(crawl, "make_link_admitter",
                    factory(_timed_map_in_pandas, "admitter"))
        self._patch(crawl, "make_robots_parser",
                    factory(_timed_series_udf, "robots_parse"))

        def action(orig):
            @functools.wraps(orig)
            def inner(df, *a, **kw):
                t = time.time()
                site = _action_site(sys._getframe(1))
                tracer.bookkeeping_s += time.time() - t
                if site is None:
                    return orig(df, *a, **kw)
                with tracer.span(f"action.{site}", kind="action"):
                    return orig(df, *a, **kw)
            return inner

        for attr in ("localCheckpoint", "collect", "count"):
            self._patch(DataFrame, attr, action)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: str) -> None:
        """Write every span as one JSON line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({k: getattr(sp, k)
                                    for k in Span.__slots__}) + "\n")


def _tree_size(path: str) -> tuple:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# -- Spark event log -------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs as (submit_s, end_s) and tasks as (launch_s, run_s, cpu_s,
    shuffle_write_bytes), read from the event log."""
    jobs: Dict[int, list] = {}
    tasks = []
    # Spark 4 writes a rolling log: a directory of event files
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = [ev["Submission Time"], None]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append((
                        ev["Task Info"]["Launch Time"] / 1000.0,
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Executor CPU Time", 0) / 1e9,
                        sw.get("Shuffle Bytes Written", 0),
                    ))
    return {
        "jobs": sorted((s / 1000.0, (e or s) / 1000.0)
                       for s, e in jobs.values()),
        "tasks": tasks,
    }


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def innermost(spans: List[Span], t: float) -> Optional[Span]:
    """The latest-starting driver span open at time ``t``."""
    best = None
    for sp in spans:
        if sp.end is None:
            continue
        if sp.start <= t < sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best
