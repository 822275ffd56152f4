"""Per-layer metrics of a traced run, from its spans and the event log.

Layers are named after the repository's modules. A span's ``build``
or ``call`` time is its wall on the driver; Spark jobs are attributed to
the innermost open span through the job description, so executor work
that a lazy builder defines but a later action runs is reported on the
span of that action (often ``run_round`` itself), as it happened.
All values are per measured unit (mean over the traced units).
"""

from __future__ import annotations

import statistics

from perfbench.evlog import EventLog
from perfbench.trace import DESC_PREFIX, covered, self_times
from perfbench.workloads import LAYERS, QUERY_LAYERS

CRAWL_LAYERS = ["politeness", "stratified", "expand", "seen", "snapshots"]


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = [
        "session.start_s", "session.warm_s", "datagen.inputs_s",
        "process.peak_rss_mb",
        "rounds.round_s", "rounds.self_s", "rounds.idle_s", "rounds.jobs",
        "rounds.tasks",
        "politeness.build_s", "politeness.exec_s", "politeness.admitted",
        "politeness.blocked",
        "stratified.build_s", "stratified.exec_s", "stratified.cold_backlog",
        "stratified.cold_deltas",
        "expand.build_s", "expand.python_s", "expand.fetched",
        "expand.bad_payloads",
        "seen.call_s", "seen.exec_s", "seen.python_s", "seen.keys",
        "seen.dup_ratio", "seen.degraded_shards", "seen.key_dirs",
        "seen.state_bytes",
        "snapshots.write_s", "snapshots.write_bytes", "snapshots.commit_s",
        "snapshots.commits",
        "crawl.state_bytes_per_url",
        "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_s",
        "spark.task_skew",
    ]
    out += [f"{layer}.{part}_s" for layer in LAYERS for part in ("build", "exec")]
    out += [f"query.{q}_s" for q in QUERY_LAYERS]
    out += ["trace.wall_s"]
    return out


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("bytes_per_url"):
        return "B/url"
    if last.endswith("bytes"):
        return "bytes"
    return "ratio" if last in ("dup_ratio", "task_skew") else "count"


def annotate(spans: list[dict], log: EventLog) -> None:
    """Add to each span record its self time, the Spark jobs and stages
    attributed to it, their summed wall, and for ``run_round`` spans the
    time no Spark job was running (driver planning)."""
    selft = self_times(spans)
    jobs_by_span: dict[int, list[int]] = {}
    for jid, j in log.jobs.items():
        if j.desc and j.desc.startswith(DESC_PREFIX):
            jobs_by_span.setdefault(int(j.desc[len(DESC_PREFIX):]), []).append(jid)
    job_iv = [(j.start, j.end or j.start) for j in log.jobs.values()]
    for s in spans:
        jobs = [log.jobs[jid] for jid in jobs_by_span.get(s["id"], [])]
        s["self_s"] = selft[s["id"]]
        s["jobs"] = sorted(jobs_by_span.get(s["id"], []))
        s["stages"] = sorted({
            sid for j in jobs for sid in j.stage_ids
            if sid in log.stages and log.stages[sid].tasks
        })
        s["job_wall_s"] = sum((j.end or j.start) - j.start for j in jobs)
        if s["name"].endswith("run_round"):
            s["idle_s"] = (s["end"] - s["start"]) - covered(job_iv, s["start"], s["end"])


def _stage_run_s(log: EventLog, jobs, scope: str) -> float:
    sids = {sid for j in jobs for sid in j.stage_ids}
    stages = [log.stages[sid] for sid in sids if sid in log.stages]
    return sum(t["run_s"] for st in stages if scope in st.scopes for t in st.tasks)


def compute(spans: list[dict], log: EventLog, windows: list[tuple[float, float]],
            units: list[dict], setup: dict) -> dict[str, float]:
    """``windows``: (start, end) of each traced unit; ``units``: the
    workload's unit results (a crawl unit carries ``rounds`` and ``state``)."""
    n = max(1, len(windows))
    m = {k: 0.0 for k in names()}
    m["session.start_s"] = setup["start_s"]
    m["session.warm_s"] = setup["warm_s"]
    m["datagen.inputs_s"] = setup["inputs_s"]
    annotate(spans, log)
    by_layer: dict[str, list[dict]] = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    in_window = [
        j for j in log.jobs.values()
        if any(lo <= j.start <= hi for lo, hi in windows)
    ]
    tasks = [t for j in in_window for t in log.job_tasks(j)]
    m["spark.shuffle_bytes"] = sum(t["shuffle_bytes"] for t in tasks) / n
    m["spark.spill_bytes"] = sum(t["spill_bytes"] for t in tasks) / n
    m["spark.gc_s"] = sum(t["gc_s"] for t in tasks) / n
    skews = []
    for sid in {sid for j in in_window for sid in j.stage_ids}:
        st = log.stages.get(sid)
        durs = [t["finish"] - t["launch"] for t in st.tasks] if st else []
        if len(durs) >= 4 and statistics.median(durs) > 0:
            skews.append(max(durs) / statistics.median(durs))
    m["spark.task_skew"] = max(skews, default=0.0)

    rounds = [s for s in by_layer.get("rounds", []) if s["name"].endswith("run_round")]
    if rounds:
        round_jobs = [
            j for j in log.jobs.values()
            if any(r["start"] <= j.start <= r["end"] for r in rounds)
        ]
        m["rounds.round_s"] = dur(rounds) / n
        m["rounds.self_s"] = sum(r["self_s"] for r in rounds) / n
        m["rounds.idle_s"] = sum(r["idle_s"] for r in rounds) / n
        m["rounds.jobs"] = len(round_jobs) / n
        m["rounds.tasks"] = sum(len(log.job_tasks(j)) for j in round_jobs) / n
        m["expand.python_s"] = _stage_run_s(log, round_jobs, "MapInPandas") / n
        m["seen.python_s"] = _stage_run_s(log, round_jobs, "FlatMapGroupsInPandas") / n
    for layer in CRAWL_LAYERS:
        ss = by_layer.get(layer, [])
        key = {"seen": "call_s", "snapshots": "write_s"}.get(layer, "build_s")
        if layer == "snapshots":
            ss = [s for s in ss if s["name"].endswith("write_table")]
        m[f"{layer}.{key}"] = dur(ss) / n
        if f"{layer}.exec_s" in m:
            m[f"{layer}.exec_s"] = sum(s["job_wall_s"] for s in by_layer.get(layer, [])) / n
    commits = [s for s in by_layer.get("snapshots", []) if s["name"].endswith("commit")]
    m["snapshots.commit_s"] = dur(commits) / n
    m["snapshots.commits"] = len(commits) / n

    for u in units:
        if "state" not in u:
            continue
        rs, st = u["rounds"], u["state"]
        m["politeness.admitted"] += sum(r["n_admitted"] for r in rs) / n
        m["politeness.blocked"] += sum(r["n_blocked"] for r in rs) / n
        m["stratified.cold_backlog"] += (rs[-1]["n_cold_backlog"] if rs else 0) / n
        m["stratified.cold_deltas"] += st["cold_deltas"] / n
        m["expand.fetched"] += sum(r["n_fetched"] for r in rs) / n
        m["expand.bad_payloads"] += u["outputs"]["bad_payloads"] / n
        m["seen.key_dirs"] += st["key_dirs"] / n
        m["seen.state_bytes"] += st["seen_bytes"] / n
        m["snapshots.write_bytes"] += st["written_bytes"] / n
        m["crawl.state_bytes_per_url"] += st["bytes"] / u["outputs"]["urls_seen"] / n
    passes = [s for s in by_layer.get("seen", []) if "keys" in s]
    if passes:
        # the fused pass of each unit's last round holds the final shard counts
        finals = [max((s for s in passes if lo <= s["start"] <= hi),
                      key=lambda s: s["start"], default=None) for lo, hi in windows]
        finals = [s for s in finals if s]
        keys = sum(s["keys"] for s in finals)
        m["seen.keys"] = keys / n
        m["seen.degraded_shards"] = sum(s["degraded_shards"] for s in finals) / n
        m["seen.dup_ratio"] = sum(s["dup_inserts"] for s in passes) / keys if keys else 0.0

    for layer in LAYERS:
        ss = by_layer.get(layer, [])
        for part in ("build", "exec"):
            m[f"{layer}.{part}_s"] = dur(s for s in ss if s["name"].endswith(part)) / n
    for q in QUERY_LAYERS:
        m[f"query.{q}_s"] = dur(s for s in spans if s["name"].startswith(f"query.{q}.")) / n
    return m
