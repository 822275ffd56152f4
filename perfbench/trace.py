"""Span tracing around the engine's public calls, from outside the engine.

``Tracer.install()`` replaces the calls listed in ``TARGETS`` with
wrappers for the duration of a traced unit and ``uninstall()`` puts the
originals back. Operator functions are patched as module attributes
(``rounds.py`` calls them as ``X.fn``, ``pol.fn`` and ``strat.fn``, so the
lookup happens at call time); engine, filter and store methods are
patched on their classes.

Each span records its name, layer, start and end (epoch seconds, the
event log's clock), parent span, thread and run id, and sets the Spark
job description to ``perfbench:<span id>`` while it is open, so the
event log attributes every job to the innermost span that triggered it.
Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager

DESC_PREFIX = "perfbench:"

# (layer, module, class or None, attribute)
TARGETS = [
    ("rounds", "dnscrawler_spark.streaming.rounds", "CrawlEngine", "start"),
    ("rounds", "dnscrawler_spark.streaming.rounds", "CrawlEngine", "run_round"),
    ("rounds", "dnscrawler_spark.streaming.rounds", "CrawlEngine", "flush"),
    ("politeness", "dnscrawler_spark.operators.politeness", None, "prepare_policy"),
    ("politeness", "dnscrawler_spark.operators.politeness", None, "admit_decided"),
    ("politeness", "dnscrawler_spark.operators.politeness", None, "split_decided"),
    ("politeness", "dnscrawler_spark.operators.politeness", None, "apply_debits"),
    ("stratified", "dnscrawler_spark.operators.stratified", None, "replenish"),
    ("stratified", "dnscrawler_spark.operators.stratified", None, "route"),
    ("stratified", "dnscrawler_spark.operators.stratified", None, "compact_cold"),
    ("expand", "dnscrawler_spark.operators.expand", None, "fetch_synthetic"),
    ("expand", "dnscrawler_spark.operators.expand", None, "verify_payloads"),
    ("expand", "dnscrawler_spark.operators.expand", None, "classify_misses"),
    ("expand", "dnscrawler_spark.operators.expand", None, "expand_candidates"),
    ("expand", "dnscrawler_spark.operators.expand", None, "finalize_candidates"),
    ("seen", "dnscrawler_spark.operators.seen", "SeenFilter", "insert_and_probe"),
    ("seen", "dnscrawler_spark.operators.seen", "SeenFilter", "insert"),
    ("seen", "dnscrawler_spark.operators.seen", "SeenFilter", "exact_key_count"),
    ("snapshots", "dnscrawler_spark.sources.snapshots", "SnapshotStore", "write_table"),
    ("snapshots", "dnscrawler_spark.sources.snapshots", "SnapshotStore", "commit"),
    ("snapshots", "dnscrawler_spark.sources.snapshots", "SnapshotStore", "read_table"),
]


def _seen_stats(rec: dict, result) -> None:
    """Record the fused pass's shard stats (``last_stats`` of the new
    seen filter) on the ``insert_and_probe`` span."""
    stats = result[0].last_stats
    shards = stats.get("shards", [])
    rec["keys"] = sum(s["n_items"] for s in shards)
    rec["dup_inserts"] = stats.get("n_dup_inserts", 0)
    rec["degraded_shards"] = sum(1 for s in shards if s["degraded"])


ON_RESULT = {
    ("SeenFilter", "insert_and_probe"): _seen_stats,
    ("SnapshotStore", "write_table"): lambda rec, path: rec.update(path=path),
}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "thread": threading.current_thread().name,
        }
        stack.append(rec)
        self.sc.setJobDescription(f"{DESC_PREFIX}{rec['id']}")
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setJobDescription(
                f"{DESC_PREFIX}{parent['id']}" if parent else None
            )
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, layer: str, name: str, fn, on_result):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as rec:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        return traced

    def install(self) -> None:
        for layer, mod_name, cls_name, attr in TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls_name) if cls_name else mod
            orig = owner.__dict__[attr]
            name = f"{cls_name}.{attr}" if cls_name else f"{mod_name.rsplit('.', 1)[1]}.{attr}"
            on_result = ON_RESULT.get((cls_name, attr))
            setattr(owner, attr, self._wrap(layer, name, orig, on_result))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
