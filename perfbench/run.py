#!/usr/bin/env python3
"""The repository benchmark: the crawl engine and the operator suite,
measured from outside on a 4-core local Spark.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload crawl_wide --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 42 --trace 1

``--workload all`` runs every workload in its own fresh process (and,
with ``--trace 1``, a traced process beside each untraced one, printing
``trace_overhead``). A single workload runs in this process. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; untraced runs report the end-to-end metrics,
traced runs the per-layer ones. Every metric is also printed by name
with its unit on the lines before. The exit code is 0 only when no
attempt failed and every output check passed.

A run sets up (session start, warmup, seeded inputs), then repeats the
workload's measured unit until ``--seconds`` of unit time have passed,
checks each unit's outputs after it, and reports medians over units.
All scratch files live under ``.perfbench_work/`` in the checkout and
are removed at exit, after the driver JVM and its Python workers have
ended; traced runs keep their spans and per-layer figures under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

T_PROCESS = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")
DRIVER_MEM = "4g"
WORKLOAD_ORDER = ["crawl_wide", "crawl_polite", "operator_suite"]
E2E = {"setup_s": "s", "wall_s": "s", "step_gm_s": "s"}
# workload-specific names of the same figures, printed for readers
ALIASES = {
    "crawl": {"wall_s": "crawl_wall_s", "step_gm_s": "round_gm_s", "step_p50_s": "round_p50_s"},
    "suite": {"wall_s": "suite_s", "step_gm_s": "query_gm_s", "step_p50_s": "query_p50_s"},
}
EXTRA_UNITS = {"urls_per_s": "1/s", "state_bytes_per_url": "B/url", "error_rate": "ratio",
               "peak_rss_mb": "MB"}


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return ""


def _stat(pid: int | str) -> list[str]:
    """``/proc/<pid>/stat`` fields after the command name (state, ppid,
    ...); empty once the process has ended or is a zombie."""
    fields = _read(f"/proc/{pid}/stat").rsplit(")", 1)[-1].split()
    return fields if fields and fields[0] != "Z" else []


def process_tree(root: int) -> list[int]:
    """``root`` and every live process descended from it."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        fields = _stat(pid)
        if fields:
            children.setdefault(int(fields[1]), []).append(int(pid))
    tree, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier += children.get(pid, [])
    return tree


class TreeRss:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers): the largest sum of their ``VmRSS``
    over samples taken from ``/proc`` every ``period_s``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            for line in _read(f"/proc/{pid}/status").splitlines():
                if line.startswith("VmRSS"):
                    total += int(line.split()[1])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM (it exits when its stdin
    closes) and wait until it and every process it started have ended."""
    from pyspark import SparkContext

    started = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    proc = SparkContext._gateway.proc
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if _stat(p)]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive:  # Python workers that outlived their JVM
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def host_facts(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line.split()[1] for line in f if line.startswith("MemTotal")))
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEM,
    }


def start_spark(work: str, trace: bool):
    """The benchmark's session: local[4], an explicit driver heap that fits
    a 15 GB host, every scratch path inside ``work``, and with ``trace``
    an uncompressed event log."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own launcher JVM
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    from dnscrawler_spark.session import get_spark

    # the app name avoids "bench": get_spark would then warm the session
    # itself, and the benchmark times that warmup separately
    return get_spark(app_name="dnscrawler_spark_perf", master="local[4]",
                     shuffle_partitions=64, extra_conf=conf)


def load_expected(workload: str, seed: int) -> dict | None:
    with open(EXPECTED) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def measure(wl, seed: int, seconds: float, trace: bool, run_id: str) -> dict:
    """Set up, repeat the unit until ``seconds`` of unit time, finish each
    unit (untimed), stop Spark; with ``trace``, spans and the event log."""
    from perfbench import evlog
    from perfbench.trace import Tracer

    work = os.path.join(WORK_ROOT, run_id)
    r = {"units": [], "windows": [], "spans": [], "log": None}
    try:
        with TreeRss() as rss:
            spark = start_spark(work, trace)
            r["setup"] = {"start_s": time.monotonic() - T_PROCESS}
            try:
                print("host " + json.dumps(host_facts(spark)), flush=True)
                r["setup"].update(wl.setup(spark, seed, work))
                r["setup_s"] = time.monotonic() - T_PROCESS
                tracer = Tracer(spark, run_id) if trace else None
                measured = 0.0
                while measured < seconds:
                    if tracer:
                        tracer.install()
                    w0, t0 = time.time(), time.monotonic()
                    try:
                        res = wl.unit(len(r["units"]), tracer)
                    finally:
                        if tracer:
                            tracer.uninstall()
                    measured += time.monotonic() - t0
                    r["windows"].append((w0, time.time()))
                    unit_spans = [s for s in tracer.spans if s["start"] >= w0] if tracer else []
                    res["outputs"] = wl.finish(res, unit_spans)
                    r["units"].append(res)
                    if res["error"] is not None:
                        break
                if tracer:
                    r["spans"] = tracer.spans
            finally:
                stop_spark(spark)
        r["peak_mb"] = rss.peak_mb
        if trace:
            r["log"] = evlog.read(os.path.join(work, "eventlog"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return r


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    """One workload in this process: measure, check, print, exit code."""
    from perfbench import layers
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name]
    run_id = f"{name}-seed{seed}-{'trace' if trace else 'e2e'}-{os.getpid()}"
    expected = load_expected(name, seed)
    r = measure(wl, seed, seconds, trace, run_id)
    units = r["units"]
    if wl.kind == "crawl":
        attempted = len(units)
        failed = sum(1 for u in units if u["error"] is not None)
    else:
        attempted = sum(u["attempted"] for u in units)
        failed = sum(u["failed"] for u in units)

    mismatches = []
    for k, u in enumerate(units):
        mismatches += [f"unit {k}: {m}" for m in wl.check(u["outputs"], expected)]
        if u["error"] is not None:
            err, known = u["error"], (expected or {}).get("failure")
            reproduced = known and known["round"] == err["round"] \
                and known["match"] in err["message"]
            tag = "known failure reproduced" if reproduced else "FAILED"
            print(f"{name}: {tag}: round {err['round']}: {err['type']}: {err['message']}")
            walls = ", ".join(f"{w:.2f}" for w in u["round_walls"])
            print(f"{name}: {len(u['round_walls'])} rounds completed before it, walls [{walls}] s")
        for q, res in u.get("queries", {}).items():
            if "error" in res:
                print(f"{name}: query {q} FAILED: {res['error']}")
    if expected is None and units and "error" not in units[0]["outputs"]:
        print(f"outputs (nothing recorded for seed {seed}) "
              + json.dumps({name: {str(seed): units[0]["outputs"]}}))
    for m in mismatches:
        print(f"{name}: CHECK FAILED: {m}")
    correct = not mismatches and failed == 0

    summary = wl.summary(units)
    if trace:
        per_layer = layers.compute(r["spans"], r["log"], r["windows"], units, r["setup"])
        per_layer["trace.wall_s"] = summary.get("wall_s", 0.0)
        per_layer["process.peak_rss_mb"] = r["peak_mb"]
        metrics = {k: (v, layers.unit_of(k)) for k, v in per_layer.items()}
        os.makedirs(OUT_ROOT, exist_ok=True)
        with open(os.path.join(OUT_ROOT, f"{run_id}-spans.jsonl"), "w") as f:
            for s in sorted(r["spans"], key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
        with open(os.path.join(OUT_ROOT, f"{run_id}-layers.json"), "w") as f:
            json.dump(per_layer, f, indent=1)
    else:
        summary.update(setup_s=r["setup_s"], peak_rss_mb=r["peak_mb"])
        metrics = {k: (summary[k], u) for k, u in E2E.items() if k in summary}
    summary["error_rate"] = failed / attempted if attempted else 1.0
    for k, v in summary.items():
        if k not in E2E:
            print(f"{name} {ALIASES[wl.kind].get(k, k)} = {v:.6g} {EXTRA_UNITS.get(k, 's')}")
    for k, (v, unit) in metrics.items():
        print(f"{name} {k if trace else ALIASES[wl.kind].get(k, k)} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct and metrics else 1


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own fresh process; with ``trace`` a traced
    process beside each untraced one and ``trace_overhead`` between them."""
    results, ok = {}, True
    for name in WORKLOAD_ORDER:
        for traced in ([False, True] if trace else [False]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", "1" if traced else "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            print("\n".join(lines[:-1] if last else lines), flush=True)
            ok = ok and proc.returncode == 0
            results[(name, traced)] = last
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for (name, traced), res in results.items():
        if res is None:
            merged["correct"], merged["failed"] = False, merged["failed"] + 1
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
        merged["metrics"][f"{name}.error_rate" + (".traced" if traced else "")] = {
            "value": res["failed"] / res["attempted"], "unit": "ratio"}
    for name in WORKLOAD_ORDER:
        plain, traced = results.get((name, False)), results.get((name, True))
        if plain and traced and "wall_s" in plain["metrics"] and traced["metrics"]:
            over = traced["metrics"]["trace.wall_s"]["value"] / plain["metrics"]["wall_s"]["value"] - 1
            print(f"{name} trace_overhead = {over:.4f} ratio")
            merged["metrics"][f"{name}.trace_overhead"] = {"value": over, "unit": "ratio"}
    print(json.dumps(merged), flush=True)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_ORDER + ["all"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in ("dnscrawler_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
