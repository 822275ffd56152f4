"""The benchmark's workloads: set-up, the measured unit, output checks.

A workload runs in one fresh ``local[4]`` Spark process. ``setup()``
warms the session and generates the inputs from the seed;
``unit()`` is one measured unit of work (one crawl, or one pass over the
query suite) and returns its timings plus what the output checks need;
``check()`` compares a unit's outputs with the values recorded in
``expected.json`` for the seed, after the timed unit.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

CPUS = 4
SEEN_SHARDS = 32


def du(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


def _pow2_at_least(x: int) -> int:
    return 1 << max(0, (int(x) - 1).bit_length())


@dataclass(frozen=True)
class CrawlShape:
    """A synthetic-web crawl on the stratified frontier with pipelined
    writes and payload verification (the path the engine keeps)."""

    n_pages: int
    n_seeds: int
    max_rounds: int
    px_scale: int
    rate_scale: float
    two_wave: bool
    n_hosts: int | None = None  # None: the engine's default for n_pages

    def config(self, n_hosts: int, gen_seed: int):
        from dnscrawler_spark.streaming.rounds import CrawlConfig

        # filter capacity tracks the key space, as bench.py sizes it
        keys_per_shard = max(1, (self.n_seeds * 3) // SEEN_SHARDS)
        return CrawlConfig(
            max_rounds=self.max_rounds,
            partitions=CPUS,
            gen_seed=gen_seed,
            seen_shards=SEEN_SHARDS,
            seen_bits=max(1 << 20, _pow2_at_least(keys_per_shard * 16)),
            seen_buckets=max(1 << 15, _pow2_at_least(keys_per_shard)),
            collect_lineage=False,
            verify_payloads=True,
            fetch_mode="synthetic",
            px_scale=self.px_scale,
            n_pages=self.n_pages,
            n_hosts=n_hosts,
            pipeline_writes=True,
            stratified=True,
            two_wave=self.two_wave,
        )


class CrawlWorkload:
    """Set-up warms the session as ``get_spark`` warms benchmark sessions
    and builds the seed set; the measured unit is one crawl."""

    kind = "crawl"

    def __init__(self, name: str, shape: CrawlShape):
        self.name, self.shape = name, shape

    def setup(self, spark, seed: int, work: str) -> dict:
        from dnscrawler_spark import datagen
        from dnscrawler_spark.session import _warm_session

        self.spark, self.seed, self.work = spark, seed, work
        sh = self.shape
        t0 = time.monotonic()
        _warm_session(spark)
        t1 = time.monotonic()
        # the crawl loop's settings, as bench.py sets them for its legs
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        self.n_hosts = sh.n_hosts or datagen.default_n_hosts(sh.n_pages)
        self.host_state = datagen.generate_host_state_synthetic(
            spark, self.n_hosts, rate_scale=sh.rate_scale
        )
        self.seeds = datagen.seed_urls_df(
            spark, sh.n_seeds, sh.n_pages, seed=seed, n_hosts=self.n_hosts
        )
        return {"warm_s": t1 - t0, "inputs_s": time.monotonic() - t1}

    def unit(self, k: int, tracer=None) -> dict:
        """One crawl in a fresh root; ``tracer`` is unused (its patches
        are installed around the call)."""
        from dnscrawler_spark.streaming.rounds import CrawlEngine

        root = os.path.join(self.work, f"crawl{k}")
        eng = CrawlEngine(
            self.spark, None, root, self.shape.config(self.n_hosts, self.seed)
        )
        out = {"root": root, "round_walls": [], "rounds": [], "error": None}
        t0 = time.monotonic()
        snap = None
        try:
            snap = eng.start(self.seeds, self.host_state)
            while not snap.metrics.get("done") and snap.round < self.shape.max_rounds:
                t = time.monotonic()
                nxt = eng.run_round(snap)
                out["round_walls"].append(time.monotonic() - t)
                out["rounds"].append(nxt.metrics)
                snap = nxt
            eng.flush()
        except Exception as e:  # noqa: BLE001 — a failed crawl is a counted result
            out["error"] = {
                "round": snap.round if snap is not None else None,
                "type": type(e).__name__,
                "message": str(e).strip().splitlines()[0][:300],
            }
            try:
                eng.flush()  # let pipelined background writes end first
            except Exception:  # noqa: BLE001 — the crawl already failed
                pass
            return out
        out["wall_s"] = time.monotonic() - t0
        out["engine"], out["snap"] = eng, snap
        return out

    def finish(self, res: dict, spans: list[dict]) -> dict:
        """Untimed, after the unit: the values the output checks compare,
        and state sizes in ``res["state"]`` (``spans``: the unit's traced
        spans, whose ``write_table`` paths give the bytes written).
        Removes the crawl root afterwards."""
        from dnscrawler_spark.operators.seen import SeenFilter

        try:
            if res["error"] is not None:
                return {"error": res["error"]}
            rounds, snap, root = res["rounds"], res["snap"], res["root"]
            filters = [snap.seen, snap.aux.get("glue"), snap.aux.get("enqueued")]
            res["state"] = {
                "bytes": du(root),
                "seen_bytes": sum(
                    du(os.path.join(root, d)) for d in ("seen_state", "glue_state", "enq_state")
                ),
                "written_bytes": sum(du(s["path"]) for s in spans if "path" in s),
                "key_dirs": sum(len(f["key_files"]) for f in filters if f),
                "cold_deltas": len(snap.aux.get("cold_paths", [])),
            }
            return {
                "urls": sum(
                    m["n_fetched"] + m["n_terminal"] + m["n_blocked"]
                    + m["n_glue_resolved"] + m["n_qmin"]
                    for m in rounds
                ),
                "urls_reprocessed": sum(m["n_dup_inserts"] for m in rounds),
                "urls_seen": SeenFilter.from_manifest(snap.seen).exact_key_count(),
                "bad_payloads": sum(m.get("n_bad_payloads", 0) for m in rounds),
                "trace_digest": [
                    [d["round"], d["n"], d["checksum"]]
                    for d in res["engine"].crawl_trace_digest(snap)
                ],
            }
        finally:
            shutil.rmtree(res["root"], ignore_errors=True)

    @staticmethod
    def check(outputs: dict, expected: dict | None) -> list[str]:
        """Mismatch messages; empty when every check passes."""
        if "error" in outputs:
            return []
        bad = []
        if outputs["urls_seen"] != outputs["urls"] - outputs["urls_reprocessed"]:
            bad.append(
                f"urls_seen {outputs['urls_seen']} != derived "
                f"{outputs['urls']} - reprocessed {outputs['urls_reprocessed']}"
            )
        if outputs["bad_payloads"]:
            bad.append(f"{outputs['bad_payloads']} payloads failed verification")
        if expected and "urls_seen" in expected:
            for key in ("urls_seen", "trace_digest"):
                if outputs[key] != expected[key]:
                    bad.append(f"{key} {outputs[key]} != recorded {expected[key]}")
        return bad

    @staticmethod
    def summary(units: list[dict]) -> dict:
        ok = [u for u in units if u["error"] is None]
        if not ok:
            return {}
        walls = [u["wall_s"] for u in ok]
        urls = [u["outputs"]["urls"] for u in ok]
        return {
            "wall_s": statistics.median(walls),
            "step_gm_s": statistics.median(
                statistics.geometric_mean(u["round_walls"]) for u in ok
            ),
            "step_p50_s": statistics.median(
                statistics.median(u["round_walls"]) for u in ok
            ),
            "urls_per_s": statistics.median(n / w for n, w in zip(urls, walls)),
            "state_bytes_per_url": statistics.median(
                u["state"]["bytes"] / u["outputs"]["urls_seen"] for u in ok
            ),
        }


# Query layers of the operator suite, named after the modules each
# query exercises; "entry" is the plain relational queries that
# ``__spark_entry__`` builds itself.
QUERY_LAYERS = {
    "a5_lower_distinct": "entry",
    "dedup_simhash_pairs": "dedup",
    "text_fingerprints": "text",
    "sim_ivf_topk": "similarity",
    "streaming_windowed_counts": "windows",
    "streaming_stateful_stats": "stateful",
    "mm_decode_features": "multimodal",
    "dedup_phash_groups": "components",
}
LAYERS = list(dict.fromkeys(QUERY_LAYERS.values()))


def _checksum_exprs(df):
    """Row count and an order-insensitive checksum of a result frame:
    per-row xxhash64 summed exactly, with floating columns rounded to 6
    places so summation order inside Spark cannot flip the last bit."""
    from pyspark.sql import functions as F, types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), 6)
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, (T.DoubleType, T.FloatType)
        ):
            c = F.transform(c, lambda x: F.round(x.cast("double"), 6))
        cols.append(c)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum"),
    ]


class SuiteWorkload:
    """The read-only analytic side: the suite's queries over seeded
    tables, each forced by a noop write, in bench order, in one session."""

    kind = "suite"
    name = "operator_suite"

    def setup(self, spark, seed: int, work: str) -> dict:
        from dnscrawler_spark.session import _warm_session

        from perfbench import tables

        self.spark, self.work = spark, work
        t0 = time.monotonic()
        _warm_session(spark)
        t1 = time.monotonic()
        self.data_dir = os.path.join(work, "tables")
        tables.generate(self.data_dir, seed)
        # the probes' pure-Python oracle twins are correctness machinery,
        # not engine work: skipped exactly as bench.py skips them
        os.environ["SPARK_GRAFT_SKIP_ORACLE_DUMP"] = "1"
        return {"warm_s": t1 - t0, "inputs_s": time.monotonic() - t1}

    def unit(self, k: int, tracer=None) -> dict:
        import contextlib

        from pyspark.sql import Observation

        import __spark_entry__ as entry

        out = {"queries": {}, "failed": 0, "attempted": 0, "error": None}
        for name, fn in entry.queries().items():
            layer = QUERY_LAYERS.get(name)
            if layer is None:
                continue
            span = (
                (lambda part: tracer.span(f"query.{name}.{part}", layer))
                if tracer else (lambda part: contextlib.nullcontext())
            )
            out["attempted"] += 1
            obs = Observation(f"check_{k}_{name}")
            try:
                t0 = time.monotonic()
                with span("build"):
                    df = fn(self.spark, self.data_dir)
                t1 = time.monotonic()
                with span("exec"):
                    df.observe(obs, *_checksum_exprs(df)).write.format(
                        "noop"
                    ).mode("overwrite").save()
                t2 = time.monotonic()
            except Exception as e:  # noqa: BLE001 — a failed query is a counted result
                out["failed"] += 1
                out["queries"][name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
                continue
            m = obs.get
            out["queries"][name] = {
                "build_s": t1 - t0,
                "exec_s": t2 - t1,
                "rows": int(m["rows"]),
                "checksum": int(m["checksum"] or 0) % (1 << 64),
            }
        out["wall_s"] = sum(
            q["build_s"] + q["exec_s"] for q in out["queries"].values() if "build_s" in q
        )
        return out

    def finish(self, res: dict, spans: list[dict]) -> dict:
        return {
            name: [q["rows"], q["checksum"]]
            for name, q in res["queries"].items()
            if "rows" in q
        }

    @staticmethod
    def check(outputs: dict, expected: dict | None) -> list[str]:
        if not expected:
            return []
        return [
            f"{name}: (rows, checksum) {outputs.get(name)} != recorded {want}"
            for name, want in expected.items()
            if outputs.get(name) != want
        ]

    @staticmethod
    def summary(units: list[dict]) -> dict:
        walls = [
            q["build_s"] + q["exec_s"]
            for u in units for q in u["queries"].values() if "build_s" in q
        ]
        if not walls:
            return {}
        return {
            "wall_s": statistics.median(u["wall_s"] for u in units),
            # every query counts alike, so one query's noise moves the
            # geometric mean by an eighth of it; the median of eight
            # different queries follows whichever two land in the middle
            "step_gm_s": statistics.median(
                statistics.geometric_mean(
                    q["build_s"] + q["exec_s"] for q in u["queries"].values() if "build_s" in q
                )
                for u in units
            ),
            "step_p50_s": statistics.median(walls),
        }


WORKLOADS = {
    # fetch- and dedup-bound drain: round 1 drains the cold backlog
    # through the fetch/verify Python UDFs and the fused seen pass
    "crawl_wide": CrawlWorkload(
        "crawl_wide",
        CrawlShape(n_pages=400_000, n_seeds=12_000, max_rounds=1, px_scale=6,
                   rate_scale=2000, two_wave=False),
    ),
    # politeness-bound backlog, many small rounds (two waves, 2,000 hosts)
    "crawl_polite": CrawlWorkload(
        "crawl_polite",
        CrawlShape(n_pages=400_000, n_seeds=60_000, max_rounds=12, px_scale=1,
                   rate_scale=1, two_wave=True, n_hosts=2000),
    ),
    "operator_suite": SuiteWorkload(),
}
