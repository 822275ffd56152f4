"""The crawl driver: iterative DataFrame rounds with snapshot commits.

The frontier is stratified (operators/stratified.py): a small per-host
HOT horizon that politeness ranks, plus an append-only COLD backlog.
One round runs the body of the reference's resolve loop
(dnscrawler/dnsresolver_new.py:210-234), vectorized over every
in-flight URL at once (SURVEY §3.3). The body is ``CrawlEngine._wave``,
run once over the hot horizon (wave A) and — two_wave, the reference's
``for i in range(2)`` — once more over wave A's carry band (wave B):

    admitted    = politeness(rows)                     # X5/W2
    fetched     = admitted ⋈ pages on url_key          # S2
    candidates  = dedup(edges), robots-gated           # A4, X5 at enqueue
    verdicts    = fused pass: seen ⊕ glue G ⊕ E        # J1/J2/J3/P11

``run_round`` orchestrates the waves:

    hot_r       = hot ∪ replenish(cold)                # deficit hosts only
    facts       = explode(parse(fetched)) ∪ …          # P1-P7, A1/A5
    frontier_r+1= route(leftover ∪ retries ∪ new)      # SO1/S7: hot | cold
    seen'       = seen ⊕ insert(fetched ∪ terminal ∪ blocked ∪ resolved)
    commit snapshot r+1 (atomic manifest)              # O2

Resume: ``CrawlEngine.resume()`` reads the latest committed manifest;
a crash between commits replays at most one round (idempotent: the
round recomputes from its input snapshot).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dnscrawler_spark.datagen import HOST_STATE_SCHEMA, HOST_TOKENS_SCHEMA
from dnscrawler_spark.operators import expand as X
from dnscrawler_spark.operators import politeness as pol
from dnscrawler_spark.operators import stratified as strat
from dnscrawler_spark.operators.frontier import (
    FRONTIER_COLS,
    FRONTIER_SCHEMA,
    N_SALTS_DEFAULT,
    repartition_by_host,
    seed_frontier,
    seed_frontier_from_df,
)
from dnscrawler_spark.operators.seen import SeenFilter
from dnscrawler_spark.session import free_local_checkpoint
from dnscrawler_spark.sources.snapshots import Snapshot, SnapshotStore

FACT_KINDS = [
    "url", "host", "tld", "sld",
    "ps_url", "ps_host", "ps_tld", "ps_sld",
    "hazardous", "ip_ns_records", "missing_ns_records",
    "nonhazardous", "robots_blocked", "glue_resolved", "qmin_requery",
    "budget_exceeded",
]

FAIL_CLASSES = ["hazardous", "ip_ns_records", "missing_ns_records"]


def _obs_get_timeout(obs: Observation, key: str, timeout_s: float = 120.0):
    """Read an Observation metric with a timeout.

    ``Observation.get`` blocks until the observed action fires. The
    wave-B skip reads the carry count right after an *eager*
    ``localCheckpoint()`` — the action has already completed, so the
    value is normally available immediately. If a pyspark version ever
    stopped firing CollectMetrics on checkpoint materialization, a bare
    ``get`` would hang run_round forever (ADVICE r4); this guard returns
    ``None`` instead, and the caller falls back to the always-correct
    path (run wave B unconditionally). Daemon thread, so a pathological
    never-firing observation can't block interpreter exit either.
    """
    import threading

    box: dict = {}

    def _read():
        try:
            box["v"] = obs.get[key]
        except Exception as exc:  # noqa: BLE001 — degrade, never hang
            box["e"] = exc

    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive() or "e" in box:
        return None
    return box["v"]


@dataclass
class CrawlConfig:
    n_salts: int = N_SALTS_DEFAULT
    partitions: int | None = None  # shuffle width for the frontier
    max_rounds: int = 64
    verify_payloads: bool = True
    gen_seed: int = 42
    seen_shards: int = 32
    seen_bits: int = 1 << 20
    seen_buckets: int = 1 << 15
    # per-partition lineage of the seen/dedup pass is ALWAYS recorded
    # (free: it rides the fused pass's stats collect). This opt-in adds
    # the per-partition admitted-fetch breakdown, which costs one extra
    # cache-read job per round — off by default so the default round
    # runs exactly the fused-pass action + the snapshot writes
    # (VERDICT r2 #6).
    collect_lineage: bool = False
    # fetch stage: 'join' fetches from a materialized corpus table;
    # 'synthetic' fetches each URL as an outbound call (mapInPandas
    # regeneration — no corpus table, no join shuffle; the shape a real
    # network fetch stage has)
    fetch_mode: str = "join"
    px_scale: int = 1
    n_pages: int | None = None  # synthetic mode: URL-space size
    n_hosts: int | None = None
    # per-seed cumulative fetch budget (the deterministic analog of the
    # reference's per-seed wall-clock kill, run/run.py:59). Checked at
    # round granularity: a seed whose fetched count at round start is >=
    # the budget has ALL its pending frontier rows demoted to the
    # terminal 'budget_exceeded' class. None = unlimited (no overhead).
    seed_budget: int | None = None
    # two-wave zone-cut iteration (W3): the reference runs two waves
    # unconditionally (dnsresolver_new.py:210 `for i in range(2)`), so
    # two-wave is the DEFAULT (VERDICT r2 #4); carry-band discoveries
    # are fetched again within the same round — a second ``_wave``
    # against the remaining politeness budget. Single-wave (False)
    # remains available as the leaner loop (roughly half the per-round
    # plan size).
    two_wave: bool = True
    # pipelined writes: the two output-only tables (fetched, facts) are
    # written in background threads OVERLAPPED with the next round's
    # compute; the manifest commits when they land (flushed before the
    # next round's commit / by run() / by flush()). Durability lags one
    # round — a crash replays at most two rounds instead of one. All
    # metrics are observation-based and final before the round returns.
    pipeline_writes: bool = False
    # The frontier is always stratified (hot/cold, operators/
    # stratified.py): politeness ranks only the hot admission horizon;
    # the backlog lives in append-only cold deltas pulled on demand.
    # The field remains only so existing callers that pass
    # stratified=True keep working; any other value is rejected.
    stratified: bool = True
    replenish_chunk: int = 4  # pull chunk×ceil(burst) per deficit host
    cold_buckets: int = 64  # hbucket partitions for cold deltas
    cold_compact_every: int = 16  # compact when delta count exceeds this
    # token-delta compaction bound (the dynamic politeness state is
    # written as O(admitted hosts) per-round deltas, merged on read)
    state_compact_every: int = 16
    # policy fast path: when the round's active-host count (known
    # free from the previous round's queue_state observation) is at most
    # this, the politeness policy is semi-join-PRUNED to the active hosts
    # and broadcast; above it (e.g. the all-hosts round 0 of a 10^10
    # crawl) the round falls back to a plain shuffle-hash join — the
    # host dimension itself is NEVER broadcast (VERDICT r2 #1)
    policy_broadcast_max: int = 200_000


@dataclass
class _Wave:
    """What one ``CrawlEngine._wave`` pass hands its round: the frontier
    flows, the fact sources, the count Observations, the filters after
    its fused pass, and the frames to release after the round's writes."""

    sfx: str  # Observation-name suffix: "" (wave A) or "_b" (wave B)
    admitted: DataFrame
    leftover: DataFrame
    retries: DataFrame
    new: DataFrame  # fresh candidates to enqueue
    debits: DataFrame  # post-debit token rows of the admitted hosts
    fetched: DataFrame
    glue_new: DataFrame
    resolved: DataFrame  # glue short-circuit rows
    terminal: DataFrame
    nonhaz: DataFrame  # candidates already in flight
    blocked: DataFrame  # robots-blocked at admission
    blocked_cand: DataFrame  # robots-blocked at enqueue
    qmin: DataFrame
    obs: dict[str, Observation]  # blocked / fetched / term / qmin counts
    seen: SeenFilter
    glue: SeenFilter
    enq: SeenFilter
    cached: list[DataFrame]

    def count(self, key: str, field: str = "n") -> int:
        return int(self.obs[key].get[field] or 0)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame | None,
        root: str,
        cfg: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        if self.cfg.stratified is not True:
            raise ValueError(
                "CrawlConfig.stratified must be True: the stratified "
                "hot/cold frontier is the only frontier"
            )
        self.store = SnapshotStore(root)
        self.root = root
        # pipelined-write state: (futures, snapshot, frames-to-unpersist,
        # seen-filter-to-release) of the newest uncommitted round
        self._pending = None
        self._write_pool: ThreadPoolExecutor | None = None
        if self.cfg.partitions is None:
            self.cfg.partitions = spark.sparkContext.defaultParallelism
        if self.cfg.fetch_mode == "synthetic":
            if self.cfg.n_pages is None:
                raise ValueError("synthetic fetch needs cfg.n_pages")
            if self.cfg.n_hosts is None:
                from dnscrawler_spark.datagen import default_n_hosts

                self.cfg.n_hosts = default_n_hosts(self.cfg.n_pages)
            self.pages_keyed = None
        else:
            # key + cache the corpus once, pre-hashed on the join key: the
            # cached InMemoryRelation keeps its HashPartitioning(url_key),
            # so each round's fetch join shuffles only the admitted side
            self.pages_keyed = (
                X.prepare_pages(pages)
                .repartition(self.cfg.partitions, "url_key")
                .persist()
            )

    # -- lifecycle ----------------------------------------------------------
    def start(self, seed_urls: list[str] | DataFrame, host_state: DataFrame) -> Snapshot:
        """Round-0 snapshot: every seed in the cold backlog, the initial
        queue_state + host_state, E seeded with the seeds, empty
        seen/glue filters. ``seed_urls`` may be a list (small runs,
        the reference's seed-file shape) or a DataFrame with a ``url``
        column (scale path — a 10^10-row seed set never sees the
        driver)."""
        cfg = self.cfg
        if isinstance(seed_urls, DataFrame):
            fr = seed_frontier_from_df(seed_urls, cfg.n_salts)
        else:
            fr = seed_frontier(self.spark, seed_urls, cfg.n_salts)
        snap = Snapshot(snapshot_id="snap-000000", parent_id=None, round=0)
        # Seeds go to COLD (W = -inf): a 10^10-row seed set is never
        # globally sorted — round 1 pulls per-host chunks on demand.
        # Robots gating happens here (at enqueue); blocked seeds ride
        # the pending_blocked table into round 0's blocked flow, so
        # they are facts+seen BEFORE round 0's candidates are probed
        # — the oracle's round-0 robots phase, exactly.
        # The policy side is pruned to ROBOTS-ACTIVE hosts (only they
        # can block) and shuffle-hash-joined — a 10^10-row seed set
        # over 10^8 hosts must never see a host-dimension broadcast
        # (VERDICT r2 #1).
        robots_pol = pol.robots_policy(host_state)
        frp = fr.join(robots_pol.hint("shuffle_hash"), "host", "left")
        bp = pol.robots_block_pred()
        pending_blocked = frp.filter(bp).select(*FRONTIER_COLS)
        clean = frp.filter(~bp).select(*FRONTIER_COLS).persist()
        cold0 = clean.withColumn(
            "hbucket", strat.hbucket_col(F.col("host"), cfg.cold_buckets)
        )
        obs_cold = Observation("seed_cold_n")
        cold0 = cold0.observe(obs_cold, F.count(F.lit(1)).alias("n"))
        # the cold write runs FIRST and alone: it materializes the
        # `clean` cache every other round-0 job reads (a concurrent
        # launch would race the cache and compute `clean` N times —
        # the r5 fork-storm failure mode). The remaining writes are
        # independent of each other, so they run overlapped in a
        # small pool (guide §2.6: actions are only sequential because
        # the driver calls them sequentially) — start() previously
        # paid ~6 serialized job latencies here.
        cold_path = self.store.write_table(
            cold0, 0, "frontier_cold", partition_by=["hbucket"]
        )
        qs0 = strat.initial_queue_state(clean, host_state, cfg.replenish_chunk)
        obs_qs0 = Observation("seed_qs")
        qs0 = qs0.observe(obs_qs0, *strat.deficit_obs_exprs(cfg.cold_buckets))
        n_small = max(1, (cfg.partitions or 8) // 8)
        enq0 = SeenFilter(
            state_dir=os.path.join(self.root, "enq_state"),
            n_shards=cfg.seen_shards,
            n_bits=cfg.seen_bits,
            n_buckets=cfg.seen_buckets,
        )
        with ThreadPoolExecutor(max_workers=4) as ex:
            fut_qs = ex.submit(
                self.store.write_table, qs0.coalesce(n_small), 0, "queue_state"
            )
            fut_fr = ex.submit(
                self.store.write_table,
                self.spark.createDataFrame([], FRONTIER_SCHEMA), 0, "frontier",
            )
            fut_pb = ex.submit(
                self.store.write_table, pending_blocked, 0, "pending_blocked"
            )
            fut_hs = ex.submit(
                self.store.write_table, host_state, 0, "host_state"
            )
            enq = enq0.insert(clean.select("url_key"), 0)
            snap.tables["queue_state"] = fut_qs.result()
            snap.tables["frontier"] = fut_fr.result()
            snap.tables["pending_blocked"] = fut_pb.result()
            snap.tables["host_state"] = fut_hs.result()
        n_seeds = int(obs_cold.get["n"])
        clean.unpersist()
        snap.aux = {
            "cold_paths": [cold_path] if n_seeds else [],
            "enqueued": enq.to_manifest(),
            "deficit_buckets": sorted(
                int(b) for b in (obs_qs0.get["dbuckets"] or [])
            ),
            "n_active_hosts": int(obs_qs0.get["nactive"] or 0),
            "token_paths": [],
        }
        seen = SeenFilter(
            state_dir=os.path.join(self.root, "seen_state"),
            n_shards=cfg.seen_shards,
            n_bits=cfg.seen_bits,
            n_buckets=cfg.seen_buckets,
        )
        snap.seen = seen.to_manifest()
        # sharded glue-membership filter G (empty at start): the exact
        # replacement for an accumulated-glue table join (VERDICT r2 #2)
        snap.aux["glue"] = SeenFilter(
            state_dir=os.path.join(self.root, "glue_state"),
            n_shards=cfg.seen_shards,
            n_bits=cfg.seen_bits,
            n_buckets=cfg.seen_buckets,
        ).to_manifest()
        # seeds all went cold; run_round uses n_cold_backlog to skip the
        # cold machinery entirely once the backlog drains (absorbing:
        # route() only spills to cold while n_cold > 0)
        snap.metrics = {
            "n_frontier": n_seeds, "done": False, "n_cold_backlog": n_seeds,
        }
        self.store.commit(snap)
        return snap

    def resume(self) -> Snapshot | None:
        return self.store.latest()

    def _merged_tokens(self, paths: list[str]) -> DataFrame:
        """Merge-on-read of the dynamic token deltas: latest row per host
        wins (each delta holds one row per host debited that round).
        Small by construction — O(hosts admitted since last compaction)."""
        df = self.spark.read.schema(HOST_TOKENS_SCHEMA).parquet(*paths)
        return df.groupBy("host").agg(
            F.max_by("tokens", "asof_round").alias("tokens"),
            F.max("asof_round").alias("asof_round"),
        )

    def run(self, snap: Snapshot | None = None) -> Snapshot:
        """Drive rounds until the frontier drains or max_rounds."""
        snap = snap or self.resume()
        if snap is None:
            raise ValueError("no snapshot to run from — call start() first")
        while not snap.metrics.get("done") and snap.round < self.cfg.max_rounds:
            snap = self.run_round(snap)
        self.flush()
        return snap

    def flush(self) -> None:
        """Wait for any pipelined writes and commit the pending manifest.
        No-op unless cfg.pipeline_writes produced pending state. Callers
        driving run_round() manually with pipelining on must flush before
        handing the store to another engine (resume reads manifests)."""
        if not self._pending:
            return
        futs, pnxt, unp, pseen = self._pending
        self._pending = None
        for name, fut in futs.items():
            pnxt.tables[name] = fut.result()
        self.store.commit(pnxt)
        for df in unp:
            # unpersist covers cached frames; free_local_checkpoint covers
            # localCheckpoint()-ed ones (unpersist alone is a cache-manager
            # no-op for those and their blocks would wait on JVM GC)
            df.unpersist()
            free_local_checkpoint(df)
        pseen.release()

    # -- one round ------------------------------------------------------------
    def run_round(self, snap: Snapshot) -> Snapshot:
        """One crawl round: ``_wave`` over the hot horizon (wave A), then
        — two_wave — ``_wave`` again over wave A's carry band (wave B);
        the waves' flows are routed to the next hot/cold frontier and
        committed. All round metrics piggyback on the snapshot writes
        via the Observation API (CollectMetrics nodes) — the round runs
        NO standalone count() jobs, so per-round fixed cost stays flat
        as parallelism grows (the north_rule scaling criterion)."""
        spark, cfg, store = self.spark, self.cfg, self.store
        r = snap.round
        t0 = time.monotonic()

        frontier = store.read_table(spark, snap, "frontier", FRONTIER_SCHEMA)
        # host_state is the STATIC policy dimension — written once at
        # start(), referenced (never rewritten) by every snapshot. The
        # dynamic token-bucket state is merged on read from per-round
        # deltas (O(admitted hosts) each) with periodic compaction
        # (VERDICT r2 #1/#9).
        host_state = store.read_table(spark, snap, "host_state", HOST_STATE_SCHEMA)
        token_paths = list(snap.aux.get("token_paths", []))
        if len(token_paths) > cfg.state_compact_every:
            token_paths = [
                store.write_table(
                    self._merged_tokens(token_paths).coalesce(1),
                    r,
                    "host_tokens_base",
                )
            ]
        tokens = self._merged_tokens(token_paths) if token_paths else None
        seen = SeenFilter.from_manifest(snap.seen)
        # glue membership is a sharded exact filter (VERDICT r2 #2):
        # O(candidates) probes + O(new glue) inserts per round inside the
        # fused pass — never an O(glue) broadcast/distinct/rewrite. The
        # per-round "glue" table is an append-only audit delta of the
        # round's discovered (url_key, url) pairs.
        glue_f = SeenFilter.from_manifest(snap.aux["glue"])
        enq = SeenFilter.from_manifest(snap.aux["enqueued"])

        # per-seed budget state (run/run.py:59 analog): the exhausted-seed
        # dimension is read up front — replenish pulls and cold liveness
        # must exclude dead seeds' rows. Tiny by definition.
        over_budget = None
        seed_state = None
        exhausted = None
        if cfg.seed_budget is not None:
            seed_state = store.read_table(spark, snap, "seed_state")
            if seed_state is None:
                seed_state = spark.createDataFrame([], "seed string, n_fetched long")
            exhausted = seed_state.filter(
                F.col("n_fetched") >= cfg.seed_budget
            ).select("seed").persist()

        # `frontier` is the HOT horizon only; pull per-host chunks from
        # cold for any host that could under-admit (deficit-driven
        # replenish, bucket-pruned cold scan), then rank hot — provably
        # the full queue's admission set (operators/stratified.py
        # invariants).
        qs = None
        cold_paths: list[str] = []
        strat_persisted: list = []
        # cold_active: does ANY host still have live cold rows? Exact
        # (summed from last round's queue_state observation). Once false
        # it stays false — route() only spills while n_cold > 0 — so the
        # round drops ALL cold machinery (no replenish job, no routing
        # joins, no cold/queue_state writes).
        cold_active = bool(snap.metrics.get("n_cold_backlog", 1))
        if cold_active:
            qs = store.read_table(spark, snap, "queue_state", strat.QUEUE_STATE_SCHEMA)
            cold_paths = list(snap.aux.get("cold_paths", []))
            if len(cold_paths) > cfg.cold_compact_every:
                # bound delta-file fan-in: fold all deltas into one fresh
                # base (live rows only); idempotent on crash-replay
                base = store.write_table(
                    strat.compact_cold(spark, qs, cold_paths, exhausted),
                    r, "frontier_cold_base", partition_by=["hbucket"],
                )
                cold_paths = [base]
            frontier, qs, strat_persisted = strat.replenish(
                spark, frontier, qs, cold_paths, cfg.cold_buckets,
                snap.aux.get("deficit_buckets", []),
                dead_seeds=exhausted,
            )

        # per-seed budget (run/run.py:59 analog): demote every frontier
        # row of an exhausted seed before politeness. Broadcast-semi on
        # the tiny exhausted-seed dim; zero overhead when budget unset.
        # Hot rows (incl. this round's replenish pulls) demote here; the
        # COLD backlog of a newly exhausted seed is demoted by a one-time
        # exhaustion-round sweep below, and rows discovered after
        # exhaustion ride the pending_demote table into the next round —
        # together these reproduce the oracle's whole-frontier
        # round-start demotion EXACTLY, without touching cold on
        # budget-quiet rounds.
        live_dead = None
        if cfg.seed_budget is not None:
            over_budget = frontier.join(
                F.broadcast(exhausted), "seed", "left_semi"
            )
            frontier = frontier.join(F.broadcast(exhausted), "seed", "left_anti")
            pd_tbl = store.read_table(spark, snap, "pending_demote", FRONTIER_SCHEMA)
            if pd_tbl is not None:
                over_budget = over_budget.unionByName(pd_tbl)
            if cold_active and snap.aux.get("n_exhausted", 0) > snap.aux.get(
                "n_swept", 0
            ):
                # exhaustion-round cold sweep (amortized-rare: fires only
                # on rounds where some seed newly crossed its budget):
                # demote every still-live cold row of the newly exhausted
                # seeds — they become dead in place (liveness excludes
                # dead seeds from here on) and n_cold is debited exactly.
                swept_tbl = store.read_table(spark, snap, "swept_seeds")
                newly = (
                    exhausted
                    if swept_tbl is None
                    else exhausted.join(swept_tbl, "seed", "left_anti")
                )
                live_dead = (
                    strat.read_cold(spark, cold_paths)
                    .drop("hbucket")
                    .join(F.broadcast(newly), "seed", "left_semi")
                    .join(qs.select("host", "w"), "host", "left")
                    .filter(strat.live_pred(F.col("w")))
                    .select(*FRONTIER_COLS)
                    .persist()
                )
                over_budget = over_budget.unionByName(live_dead)
                sweep_counts = live_dead.groupBy("host").agg(
                    F.count(F.lit(1)).alias("_n_dead")
                )
                qs = (
                    qs.join(sweep_counts, "host", "left")
                    .withColumn(
                        "n_cold",
                        F.col("n_cold")
                        - F.coalesce(F.col("_n_dead"), F.lit(0)),
                    )
                    .drop("_n_dead")
                )
            over_budget = over_budget.persist()

        # Politeness policy join strategy (VERDICT r2 #1 — the host
        # dimension is NEVER broadcast whole):
        # - with a small active-host set (known free from the previous
        #   round's queue_state observation): semi-join-prune the policy
        #   to the active hosts, then broadcast the pruned
        #   (horizon-sized) slice;
        # - otherwise (drained, or an all-hosts round like round 0 of a
        #   10^10 crawl): plain shuffle-hash join — the frontier side is
        #   already hash-partitioned.
        n_active = snap.aux.get("n_active_hosts")
        if (
            cold_active
            and n_active is not None
            and n_active <= cfg.policy_broadcast_max
        ):
            active = qs.filter(F.col("deficit") | (F.col("n_hot") > 0)).select("host")
            pruned = host_state.join(F.broadcast(active), "host", "left_semi")
            prepared = F.broadcast(pol.prepare_policy(pruned, tokens, r))
        else:
            prepared = pol.prepare_policy(host_state, tokens, r).hint("shuffle_hash")
        # robots-blocked seeds parked by start() join round 0's blocked
        # flow (facts + seen BEFORE this round's candidates are probed —
        # the oracle's round-0 robots phase, exactly). All other rows were
        # robots-gated at enqueue, so the politeness robots branch is
        # empty by construction.
        wave_a = self._wave(
            r, "", frontier, prepared, host_state, seen, glue_f, enq,
            pending_blocked=store.read_table(
                spark, snap, "pending_blocked", FRONTIER_SCHEMA
            ),
            over_budget=over_budget,
        )
        # wave A's debits have 2 consumers in a two-wave round (wave-B
        # apply_debits broadcast + the host_tokens delta write) — the
        # aggregation over the leaf is cheap but the broadcast build is
        # not free; keep it cached
        wave_a.debits.persist()
        waves = [wave_a]

        # ---- wave B (W3, dnsresolver_new.py:210 `for i in range(2)`):
        # the freshly learned zone-cut set (carry-band discoveries) is
        # fetched again within the SAME round against the remaining
        # politeness budget (cfg.two_wave).
        new_rows = wave_a.new
        n_carry = 0
        if cfg.two_wave:
            # localCheckpoint = the wave boundary: materializes the wave-A
            # verdicts AND truncates their lineage, so wave-B plans start
            # from a leaf instead of stacking on the whole wave-A tree
            # (unchecked, the doubled plan OOMs the driver's plan-string
            # rendering and slows planning quadratically over rounds)
            obs_carry = Observation(f"carry_r{r}")
            new_rows = new_rows.observe(
                obs_carry,
                # coalesce: SUM over an EMPTY frame is NULL, and a fired-
                # with-NULL read is indistinguishable from a never-fired
                # one below — without it a zero-new-rows round (drained
                # late rounds) maps to n_carry=-1 and the skip never fires
                F.coalesce(
                    F.sum((F.col("reason") == "carry").cast("long")), F.lit(0)
                ).alias("nc"),
            ).localCheckpoint()
            carry_rows = new_rows.filter(F.col("reason") == "carry")
            rest = new_rows.filter(F.col("reason") != "carry")
            # timeout-guarded read: None (observation never fired) maps to
            # -1 so the skip below does NOT fire and wave B runs — the
            # always-correct path (ADVICE r4)
            nc_val = _obs_get_timeout(obs_carry, "nc")
            n_carry = -1 if nc_val is None else int(nc_val or 0)
            # drained-carry fast path (VERDICT r3 #8): with ZERO carry-band
            # discoveries, wave B would admit nothing — every wave-B frame
            # is empty and the merges below reduce to the single-wave ones,
            # so wave B (politeness pass, fetch, fused seen pass, ~half the
            # round's stages) is skipped with bit-identical results. The
            # carry count rides the wave-boundary localCheckpoint's
            # Observation (fires during materialization), so the decision
            # costs ZERO extra jobs; at 10^10 scale late rounds are
            # carry-sparse, so this halves their fixed cost too.
            if n_carry != 0:
                # wave-B policy: carry targets can be hosts outside this
                # round's active set, so the prepared view starts from the
                # full dimension with wave-A debits overriding the token
                # balances (no refill between waves). The carry band is
                # materialized (it filters the wave-boundary checkpoint)
                # and its size is KNOWN: when it is horizon-sized,
                # semi-join-prune the policy to the carry hosts and
                # broadcast the pruned slice — one host-dimension scan, no
                # shuffle of the dimension, same admissions (absent hosts
                # take the same default-budget path either way). Past the
                # threshold, shuffle-hash — the host dimension itself is
                # never broadcast whole (VERDICT r2 #1).
                if 0 < n_carry <= cfg.policy_broadcast_max:
                    carry_hosts = carry_rows.select("host").distinct()
                    pruned_pol = host_state.join(
                        F.broadcast(carry_hosts), "host", "left_semi"
                    )
                    carry_policy = F.broadcast(
                        pol.apply_debits(
                            pol.prepare_policy(pruned_pol, tokens, r), wave_a.debits
                        )
                    )
                else:
                    carry_policy = pol.apply_debits(
                        pol.prepare_policy(host_state, tokens, r), wave_a.debits
                    ).hint("shuffle_hash")
                # E already holds wave-A's fresh rows (inserted in the
                # wave-A pass), so the exact in-flight set here is the
                # oracle's inflight2 = inflight ∪ rest ∪ leftover_b ∪
                # retries_b — no unions needed. G likewise already holds
                # wave-A's glue; wave-B's discoveries insert here.
                waves.append(self._wave(
                    r, "b", carry_rows, carry_policy, host_state,
                    wave_a.seen, wave_a.glue, wave_a.enq,
                ))

        # per-branch observations all fire during the single frontier
        # write; wave A's fresh rows are its non-carry rest when wave B
        # took the carry band
        def bump(df, obs):
            out = df.withColumn("round", F.lit(r + 1)).select(*FRONTIER_COLS)
            return out.observe(obs, F.count(F.lit(1)).alias("n"))

        fresh = (
            [("new", new_rows)] if len(waves) == 1
            else [("rest", rest), ("new_b", waves[1].new)]
        )
        branches = []
        for w, fresh_branch in zip(waves, fresh):
            branches += [
                (f"left{w.sfx}", w.leftover), (f"retry{w.sfx}", w.retries),
                fresh_branch,
            ]
        branch_obs = {name: Observation(f"{name}_r{r}") for name, _ in branches}
        frontier2 = reduce(
            DataFrame.union, [bump(df, branch_obs[name]) for name, df in branches]
        )

        # facts assembly: same-shape branches from the waves are UNIONED
        # FIRST so each fact machine (the PSL suffix join for
        # glue-resolved rows especially — distinct + broadcast-join +
        # hash-agg + joinback, several stages per invocation) runs once
        # per round, not once per wave. At fixture scale the facts job is
        # pure per-stage latency, and halving its stage count is what
        # keeps the two-wave default's probe walls sane.
        def across(field):
            return reduce(DataFrame.unionByName, [getattr(w, field) for w in waves])

        glue_res_all = across("resolved")
        # robots gating at enqueue: candidate-time blocks follow the
        # admission-time ones
        blocked_all = reduce(
            DataFrame.unionByName,
            [w.blocked for w in waves]
            + [w.blocked_cand.select(*FRONTIER_COLS) for w in waves]
        )
        facts = (
            X.fetched_facts(across("fetched"), r)
            .union(X.fetched_facts(glue_res_all, r))  # glue payload facts
            .union(X.simple_facts(glue_res_all, "glue_resolved", r))
            .union(X.failure_facts(across("terminal"), r))
            .union(X.simple_facts(across("nonhaz"), "nonhazardous", r))
            .union(X.simple_facts(blocked_all, "robots_blocked", r))
            .union(
                X.simple_facts(
                    across("qmin").select("seed", F.col("orig_url").alias("url")),
                    "qmin_requery", r,
                )
            )
        )
        if over_budget is not None:
            facts = facts.union(X.simple_facts(over_budget, "budget_exceeded", r))
        # the facts union fans out to (branches × their cached partition
        # counts) tiny write tasks otherwise (80 observed at fixture
        # scale); coalesce is narrow — it folds the union into
        # cfg.partitions write tasks that read the persisted parents in
        # place, costing nothing at cluster scale where cfg.partitions
        # is the cluster width
        facts = facts.coalesce(cfg.partitions)

        # ---- parallel snapshot writes ---------------------------------------
        nxt = Snapshot(
            snapshot_id=f"snap-{r + 1:06d}",
            parent_id=snap.snapshot_id,
            round=r + 1,
        )
        fetched_slim = reduce(DataFrame.unionByName, [
            w.fetched.drop("bytes", "out_edges", "glue_edges", "carry_edges")
            for w in waves
        ])
        # dimension-sized tables get few output files (a 31k-row table
        # scattered over 64 shuffle partitions costs 64 task launches +
        # 64 file commits per round, and 64 footer reads next round)
        n_small = max(1, cfg.partitions // 8)
        # dynamic politeness state: ONE per-round delta of O(admitted
        # hosts) post-debit token rows (VERDICT r2 #9) — the static
        # host_state table is referenced below, never rewritten. A host
        # debited in both waves keeps the wave-B row.
        debits_final = wave_a.debits
        for w in waves[1:]:
            debits_final = debits_final.join(
                w.debits, "host", "left_anti"
            ).unionByName(w.debits)
        phase_a = {
            "host_tokens": debits_final.coalesce(1),
            # append-only glue AUDIT delta: only this round's discovered
            # (url_key, url) pairs — never the accumulated glue set
            # (VERDICT r2 #2); exact membership lives in the sharded
            # glue filter G (manifest in aux["glue"])
            "glue": across("glue_new").coalesce(n_small),
            # same narrow fold as facts: the two-wave union otherwise
            # doubles the write task count for a round-sized table
            "fetched": fetched_slim.coalesce(cfg.partitions),
        }
        obs_seed = None
        obs_pending = None
        sweep_ran = live_dead is not None
        if cfg.seed_budget is not None:
            # cumulative per-seed fetch counts (budget state for the NEXT
            # round's exhaustion check — round-granular by design). The
            # exhausted-seed count rides the write's Observation, so the
            # next round knows whether a cold sweep is due with no extra
            # job.
            fetched_seeds = reduce(
                DataFrame.union, [w.fetched.select("seed") for w in waves]
            )
            seed_state2 = (
                seed_state.unionByName(
                    fetched_seeds.groupBy("seed").agg(
                        F.count(F.lit(1)).cast("long").alias("n_fetched")
                    )
                )
                .groupBy("seed")
                .agg(F.sum("n_fetched").alias("n_fetched"))
            )
            obs_seed = Observation(f"seed_r{r}")
            seed_state2 = seed_state2.observe(
                obs_seed,
                F.sum(
                    (F.col("n_fetched") >= F.lit(cfg.seed_budget)).cast("long")
                ).alias("nex"),
            )
            phase_a["seed_state"] = seed_state2.coalesce(n_small)
            if sweep_ran:
                # the sweep covered every currently-exhausted seed
                phase_a["swept_seeds"] = exhausted.coalesce(1)
        # Write scheduling: phase-A tables (independent of the dedup
        # verdict) run concurrently in worker threads while THIS thread
        # writes the frontier; the facts write is submitted right after.
        # Every write reads the waves' checkpointed leaves and persisted
        # frames, so nothing upstream recomputes. No standalone count()
        # job anywhere in the round.
        # While cold is active the frontier write becomes THREE deltas —
        # hot (small rewrite), a cold APPEND (only this round's spills,
        # never the backlog), and the per-host queue_state — the
        # O(backlog) rewrite is gone. All three are read by the next
        # round, so they stay in the sync write wave even under
        # pipeline_writes.
        routed_cache = None
        obs_hot = obs_coldadd = obs_qs = None
        part_by: dict[str, list[str]] = {}
        if cold_active:
            routed_cache, to_hot, to_cold, to_pending, qs3 = strat.route(
                frontier2, qs, host_state, cfg.cold_buckets, cfg.replenish_chunk,
                dead_seeds=exhausted,
            )
            obs_hot = Observation(f"hot_r{r}")
            frontier2 = to_hot.observe(obs_hot, F.count(F.lit(1)).alias("n"))
            obs_coldadd = Observation(f"coldadd_r{r}")
            to_cold = to_cold.observe(obs_coldadd, F.count(F.lit(1)).alias("n"))
            obs_qs = Observation(f"qs_r{r}")
            qs3 = qs3.observe(obs_qs, *strat.deficit_obs_exprs(cfg.cold_buckets))
            phase_a["frontier_cold"] = to_cold
            phase_a["queue_state"] = qs3.coalesce(n_small)
            part_by["frontier_cold"] = ["hbucket"]
            if cfg.seed_budget is not None:
                # rows discovered for an already-dead seed must never
                # enter the append-only cold backlog after the seed's
                # sweep — route() diverted them to the pending split
                # (same persisted pass); the next round start demotes
                # them, exactly when the oracle's whole-frontier check
                # would.
                obs_pending = Observation(f"pending_r{r}")
                phase_a["pending_demote"] = to_pending.observe(
                    obs_pending, F.count(F.lit(1)).alias("n")
                ).coalesce(n_small)
        pending_futs = None
        if cfg.pipeline_writes:
            # sync: only what the NEXT round reads (frontier + the small
            # dims); the two big output-only tables ride background
            # threads overlapped with the next round's compute
            sync_small = {k: v for k, v in phase_a.items() if k != "fetched"}
            with ThreadPoolExecutor(max_workers=3) as ex:
                futs = {
                    name: ex.submit(
                        store.write_table, df, r + 1, name, part_by.get(name)
                    )
                    for name, df in sync_small.items()
                }
                nxt.tables["frontier"] = store.write_table(frontier2, r + 1, "frontier")
                for name, fut in futs.items():
                    nxt.tables[name] = fut.result()
            if self._write_pool is None:
                self._write_pool = ThreadPoolExecutor(max_workers=2)
            pending_futs = {
                "fetched": self._write_pool.submit(
                    store.write_table, phase_a["fetched"], r + 1, "fetched"
                ),
                "facts": self._write_pool.submit(
                    store.write_table, facts, r + 1, "facts"
                ),
            }
        else:
            with ThreadPoolExecutor(max_workers=4) as ex:
                futs = {
                    name: ex.submit(
                        store.write_table, df, r + 1, name, part_by.get(name)
                    )
                    for name, df in phase_a.items()
                }
                nxt.tables["frontier"] = store.write_table(frontier2, r + 1, "frontier")
                futs["facts"] = ex.submit(store.write_table, facts, r + 1, "facts")
                for name, fut in futs.items():
                    nxt.tables[name] = fut.result()
        seen_final = waves[-1].seen
        nxt.seen = seen_final.to_manifest()
        # static policy referenced (copy-on-write); this round's token
        # delta joins the merge-on-read list
        nxt.tables["host_state"] = snap.tables["host_state"]
        new_token_paths = token_paths + [nxt.tables.pop("host_tokens")]

        branch_n = {name: int(o.get["n"]) for name, o in branch_obs.items()}
        n_left = sum(n for name, n in branch_n.items() if name.startswith("left"))
        n_retry = sum(n for name, n in branch_n.items() if name.startswith("retry"))
        n_new = sum(branch_n.values()) - n_left - n_retry
        n_fetched = sum(w.count("fetched") for w in waves)
        n_bad = sum(w.count("fetched", "bad") for w in waves)
        n_terminal = sum(w.count("term") for w in waves)
        n_qmin = sum(w.count("qmin") for w in waves)
        n_blocked = sum(
            w.count("blocked") + w.seen.last_stats.get("n_blocked_new", 0)
            for w in waves
        )
        n_glue = sum(w.seen.last_stats.get("n_resolved_new", 0) for w in waves)
        n_dups = sum(w.seen.last_stats.get("n_dup_inserts", 0) for w in waves)
        n_frontier2 = sum(branch_n.values())
        if cold_active:
            # total frontier = hot horizon + live cold backlog (exact
            # n_cold bookkeeping); branch counts stay the flow metrics
            n_cold_total = int(obs_qs.get["nc"] or 0)
            n_frontier2 = int(obs_hot.get["n"]) + n_cold_total
            delta_added = int(obs_coldadd.get["n"])
            new_cold_paths = cold_paths + (
                [nxt.tables["frontier_cold"]] if delta_added else []
            )
            deficit_buckets = sorted(
                int(b) for b in (obs_qs.get["dbuckets"] or [])
            )
            if n_cold_total == 0:
                new_cold_paths = []  # all dead — drop the references
        else:
            # drained mode: frontier2 was written whole as hot; the
            # untouched queue_state is referenced, not rewritten
            n_cold_total = 0
            new_cold_paths = []
            deficit_buckets = []
            if "queue_state" in snap.tables:
                nxt.tables["queue_state"] = snap.tables["queue_state"]
        nxt.aux = {
            "token_paths": new_token_paths,
            "glue": waves[-1].glue.to_manifest(),
            "cold_paths": new_cold_paths,
            "enqueued": waves[-1].enq.to_manifest(),
            "deficit_buckets": deficit_buckets,
            "n_active_hosts": (
                int(obs_qs.get["nactive"] or 0) if cold_active else 0
            ),
        }
        if cfg.seed_budget is not None:
            nxt.aux["n_exhausted"] = int(obs_seed.get["nex"] or 0)
            if sweep_ran:
                nxt.aux["n_swept"] = snap.aux.get("n_exhausted", 0)
            else:
                nxt.aux["n_swept"] = snap.aux.get("n_swept", 0)
                if "swept_seeds" in snap.tables and "swept_seeds" not in nxt.tables:
                    nxt.tables["swept_seeds"] = snap.tables["swept_seeds"]
            if obs_pending is not None:
                # pending rows are semantically still in the frontier
                # (the oracle demotes them at the NEXT round's start)
                n_frontier2 += int(obs_pending.get["n"] or 0)
        # per-partition lineage: the seen/dedup pass's per-shard rows are
        # ALWAYS recorded (free — they rode the fused pass's one stats
        # collect). collect_lineage additionally breaks down admitted
        # fetches per partition — one extra cache-read job per round, so
        # it is opt-in (VERDICT r2 #6: the default round runs exactly the
        # fused-pass action + the snapshot writes).
        lineage = [
            {"round": r, "stage": "seen" + w.sfx.replace("_", "-"), **s}
            for w in waves
            for s in w.seen.last_stats.get("shards", [])
        ]
        if cfg.collect_lineage:
            lineage += [
                {
                    "round": r, "stage": "admitted",
                    "partition_id": int(row["pid"]), "n_admitted": int(row["n"]),
                }
                for row in across("admitted").groupBy(
                    F.spark_partition_id().alias("pid")
                ).agg(F.count("*").alias("n")).collect()
            ]
        nxt.lineage = lineage
        nxt.metrics = {
            "round": r,
            "n_admitted": n_fetched + n_retry + n_terminal + n_qmin,
            "n_fetched": n_fetched,
            "n_missed": n_retry + n_terminal + n_qmin,
            "n_qmin": n_qmin,
            "n_blocked": n_blocked,
            "n_retry": n_retry,
            "n_terminal": n_terminal,
            "n_new": n_new,
            "n_glue_resolved": n_glue,
            # re-processed urls (fetched after an earlier glue-resolve):
            # work done twice on one url — seen-set reconciliation needs it
            "n_dup_inserts": n_dups,
            "n_frontier_next": n_frontier2,
            "n_cold_backlog": n_cold_total,
            # wave-B skip bookkeeping (VERDICT r3 #8 / r4 #5): n_carry is
            # the wave-boundary Observation's count (-1 = observation
            # unavailable, wave B ran on the always-correct path)
            "n_carry": n_carry,
            "wave_b_skipped": bool(cfg.two_wave and n_carry == 0),
            "n_bad_payloads": n_bad,
            "wall_ms": round((time.monotonic() - t0) * 1e3, 1),
            "done": n_frontier2 == 0,
        }
        to_unpersist = [wave_a.debits] + strat_persisted
        for w in waves:
            to_unpersist += w.cached
        for df in (routed_cache, over_budget, exhausted, live_dead):
            if df is not None:
                to_unpersist.append(df)
        if cfg.two_wave:
            # the wave-boundary localCheckpoint (new_rows) — released via
            # free_local_checkpoint below; unpersist alone can't touch it
            to_unpersist.append(new_rows)

        if pending_futs is None:
            store.commit(nxt)
            for df in to_unpersist:
                df.unpersist()
                free_local_checkpoint(df)
            seen_final.release()
        else:
            # commit the PREVIOUS round (its background writes have had a
            # whole round to finish), then park this one — ordering keeps
            # manifests monotonic; durability lags exactly one round
            self.flush()
            self._pending = (pending_futs, nxt, to_unpersist, seen_final)
        return nxt

    def _wave(
        self,
        r: int,
        tag: str,
        rows: DataFrame,
        prepared: DataFrame,
        host_state: DataFrame,
        seen: SeenFilter,
        glue: SeenFilter,
        enq: SeenFilter,
        pending_blocked: DataFrame | None = None,
        over_budget: DataFrame | None = None,
    ) -> _Wave:
        """One pass of the crawl step over ``rows`` against the
        ``prepared`` politeness policy: admit → fetch/verify → classify
        misses → expand → robots-at-enqueue → the fused seen/glue/E pass
        → final candidate rows. ``tag`` ("" for wave A, "b" for wave B)
        keeps the wave's Observation names and filter state dirs apart.
        Wave A also takes the robots-blocked seeds parked by start()
        (``pending_blocked``) and the budget-demoted rows
        (``over_budget``, inserted into seen in the same pass)."""
        cfg = self.cfg
        sfx = f"_{tag}" if tag else ""
        obs = {
            k: Observation(f"{k}{sfx}_r{r}")
            for k in ("blocked", "fetched", "term", "qmin")
        }
        # ONE eager checkpoint pins the whole politeness decision (r6,
        # guide §2.4/§5): admitted/leftover/blocked/debits become plain
        # filters/aggregations of an in-memory LEAF, so no downstream
        # job (fetch, fused pass, facts, frontier write) re-plans — or
        # re-builds the broadcasts of — the frontier/policy lineage.
        decided = pol.admit_decided(
            repartition_by_host(rows), prepared
        ).localCheckpoint()
        admitted, leftover, blocked, debits = pol.split_decided(decided, r)
        if pending_blocked is not None:
            blocked = blocked.unionByName(pending_blocked)
        blocked = blocked.observe(
            obs["blocked"], F.count(F.lit(1)).alias("n")
        ).persist()

        if cfg.fetch_mode == "synthetic":
            # fetch + payload verification fused: bytes stay in the
            # stage; the enriched frame is materialized ONCE so the
            # hit/miss split reads it instead of re-running the fetch per
            # branch. Explicit fan-out first: AQE sizes partitions by
            # BYTES, and a frontier row is ~200 B while fetching it costs
            # ~1 ms of Python — size-based coalescing would run the whole
            # fetch on 1-2 cores. Fixed-width repartition is exempt from
            # AQE coalescing, guaranteeing one fetch slice per task slot.
            fan_out = admitted.repartition(cfg.partitions * 2)
            # localCheckpoint (eager), not persist: the fetch is the
            # round's expensive Python stage and EVERY downstream job
            # re-plans through it (seen_keys unions, expansion, facts,
            # fetched write, glue write). Persisted, the four seen_keys
            # branches raced to materialize it concurrently inside the
            # fused pass (measured: the fetch UDF ran 3-4x in round 0's
            # fused-pass job) and the pipelined writes re-ran it when
            # cache substitution failed on the deep facts plan. The
            # eager checkpoint runs the fetch exactly once, right here,
            # and hands every consumer a leaf. Recovery at cluster
            # scale is round-granular via the snapshot store (resume),
            # not task-lineage replay — same tradeoff as the wave
            # boundary checkpoint in run_round.
            enriched = X.fetch_synthetic(
                fan_out, cfg.gen_seed, cfg.n_pages, cfg.n_hosts, cfg.px_scale,
                verify=cfg.verify_payloads,
            ).localCheckpoint()
            fetched = enriched.filter(F.col("is_hit")).drop(
                "is_hit", "qmin_fallback", "fail_code"
            )
            misses = enriched.filter(~F.col("is_hit")).select(
                *FRONTIER_COLS, "qmin_fallback", "fail_code"
            )
            has_ok = True
        else:
            # same materialization boundary as the synthetic path:
            # the corpus join runs exactly once and every consumer
            # (hit/miss split, seen_keys unions, facts, writes) plans
            # from the in-memory leaf instead of re-running the join.
            enriched = X.fetch(admitted, self.pages_keyed).localCheckpoint()
            fetched = enriched.filter(F.col("is_hit")).drop("is_hit")
            misses = enriched.filter(~F.col("is_hit")).select(*FRONTIER_COLS)
            if cfg.verify_payloads:
                fetched = X.verify_payloads(fetched, cfg.gen_seed, cfg.px_scale)
            has_ok = cfg.verify_payloads
        fetched = fetched.observe(
            obs["fetched"],
            F.count(F.lit(1)).alias("n"),
            (
                F.sum((~F.col("payload_ok")).cast("long")) if has_ok else F.lit(0)
            ).alias("bad"),
        ).persist()
        retries, terminal, qmin = X.classify_misses(misses, cfg.gen_seed)
        # count observations attach to the source frames, NOT the facts
        # write: they fire during the fused pass (whose seen_keys union
        # materializes these frames), so every metric is known before any
        # output-table write — a requirement for pipelined writes
        retries = retries.persist()
        terminal = terminal.observe(obs["term"], F.count(F.lit(1)).alias("n")).persist()
        qmin = qmin.observe(obs["qmin"], F.count(F.lit(1)).alias("n")).persist()

        glue_new = X.new_glue(fetched)
        candidates = X.expand_candidates(
            fetched, cfg.n_salts, r + 1, extra_edges=qmin,
        )
        seen_keys = (
            fetched.select("url_key")
            .union(terminal.select("url_key"))
            .union(blocked.select("url_key"))
            # the minimized-form url itself is done (requery enqueued)
            .union(qmin.select(F.col("orig_url_key").alias("url_key")))
        )
        if over_budget is not None:
            seen_keys = seen_keys.union(over_budget.select("url_key"))
        # Robots verdict at enqueue time: same predicate politeness
        # applies, computed once per candidate — blocked candidates
        # become terminal inside the fused pass and never enter the
        # frontier. The join is against the robots-ACTIVE policy slice
        # only (hosts without disallow rules can never block — null-safe
        # predicate), shuffle-hash: candidate hosts are unknown in
        # advance, and a host-dimension broadcast is exactly the
        # 10^8-host scale-killer (VERDICT r2 #1). The probe frame is read
        # by the fused pass AND by every part's verdict join afterwards —
        # persist it so the expansion shuffle and the robots join run
        # once per wave.
        robots_pol = pol.robots_policy(host_state).hint("shuffle_hash")
        probe_cand = (
            candidates.join(robots_pol, "host", "left")
            .withColumn("will_block", pol.robots_block_pred())
            .drop("robots_disallow", "robots_fetched")
            .persist()
        )
        # ONE fused applyInPandas pass: per shard, insert this wave's
        # keys (npz + exact-key tier rewrite) then probe the expansion
        # candidates against the updated shard. Glue-hit candidates are
        # resolve rows (the glue short-circuit, dnsresolver_new.py:
        # 125-126): an unseen glue hit is resolved from the glue payload
        # — facts now, seen now, never fetched. The pass also probes and
        # updates the ever-enqueued filter E: the in-flight cycle break
        # (P11) without touching the backlog — unseen ∧ enqueued ⇔
        # in-flight, since rows only leave the frontier by becoming seen.
        # The stats collect is also the action that materializes the
        # fetched/blocked caches.
        seen2, glue2, enq2, parts = seen.insert_and_probe(
            seen_keys, probe_cand, r, tag=f"-{tag}" if tag else "",
            glue=glue, glue_insert_keys=glue_new,
            glue_eligible_col=F.col("glue_eligible"),
            enqueue=enq, block_col=F.col("will_block"),
        )
        resolved = X.finalize_candidates(parts["resolved"], r + 1).persist()
        return _Wave(
            sfx=sfx,
            admitted=admitted,
            leftover=leftover,
            retries=retries,
            new=X.finalize_candidates(parts["new"], r + 1),
            debits=debits,
            fetched=fetched,
            glue_new=glue_new,
            resolved=resolved,
            terminal=terminal,
            nonhaz=X.finalize_candidates(parts["nonhaz"], r + 1),
            blocked=blocked,
            # blocked-at-enqueue counts ride the fused pass's stat rows
            # (an Observation here would block on the pipelined facts
            # write, serializing the write overlap)
            blocked_cand=X.finalize_candidates(parts["blocked"], r + 1),
            qmin=qmin,
            obs=obs,
            seen=seen2,
            glue=glue2,
            enq=enq2,
            # decided/enriched are checkpoint leaves (freed via
            # free_local_checkpoint); admitted/leftover are plain filters
            # of decided
            cached=[
                decided, blocked, fetched, retries, terminal, qmin,
                probe_cand, resolved, enriched,
            ],
        )

    # -- outputs ------------------------------------------------------------
    def facts_df(self, upto: Snapshot) -> DataFrame:
        paths = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "facts" in s.tables:
                    paths.append(s.tables["facts"])
        if not paths:
            return self.spark.createDataFrame([], X.FACTS_SCHEMA)
        return self.spark.read.parquet(*paths)

    def results(self, upto: Snapshot) -> DataFrame:
        """Final per-seed result rows — the domain_dict analog
        (/root/reference/dnscrawler/dnsresolver_new.py:280-298): one row
        per seed, one sorted deduped array per fact kind, plus the
        grouped failure detail ``misconfigured`` map (the
        QuerySummaryList shape, querysummarylist.py:4-9 /
        reference README.md:5-52)."""
        facts = self.facts_df(upto)
        pivoted = (
            facts.groupBy("seed")
            .pivot("kind", FACT_KINDS)
            .agg(F.sort_array(F.collect_set("value")))
        )
        for k in FACT_KINDS:
            pivoted = pivoted.withColumn(
                k, F.coalesce(F.col(k), F.array().cast("array<string>"))
            )
        detail = self.failure_detail(upto)
        empty_map = F.expr(
            "cast(map() as map<string,"
            "array<struct<url:string,src:string,code:string,"
            "round:int,attempts:int>>>)"
        )
        return pivoted.join(detail, "seed", "left").withColumn(
            "misconfigured", F.coalesce(F.col("misconfigured"), empty_map)
        )

    def failure_detail(self, upto: Snapshot) -> DataFrame:
        """(seed, misconfigured MAP<fail_class, ARRAY<STRUCT<url, src,
        code, round, attempts>>>) — who failed, against which probe
        target (``src``, the nameserver analog), with what response code
        (``code``, the rcodes analog), when, after how many attempts —
        the full QuerySummary shape (/root/reference/dnscrawler/
        querysummary.py:3-9); arrays sorted for deterministic parity.
        Rebuilt from the facts table's failure rows; pure Catalyst
        (collect_list + map_from_entries), two hash-agg shuffles."""
        facts = self.facts_df(upto)
        fail = facts.filter(F.col("kind").isin(*FAIL_CLASSES))
        per_class = fail.groupBy("seed", "kind").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("value").alias("url"),
                        F.col("src").alias("src"),
                        F.col("code").alias("code"),
                        F.col("round").cast("int").alias("round"),
                        F.col("attempts").alias("attempts"),
                    )
                )
            ).alias("items")
        )
        return per_class.groupBy("seed").agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("kind", "items")))
            ).alias("misconfigured")
        )

    def seen_urls(self, upto: Snapshot) -> DataFrame:
        """The final URL-seen set (north_rule parity object): all
        fetched/terminal/blocked urls, as canonical strings."""
        paths = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "fetched" in s.tables:
                    paths.append(s.tables["fetched"])
        fetched_urls = (
            self.spark.read.parquet(*paths).select("url") if paths else
            self.spark.createDataFrame([], "url string")
        )
        fact_urls = (
            self.facts_df(upto)
            .filter(
                F.col("kind").isin(
                    "hazardous", "ip_ns_records", "missing_ns_records",
                    "robots_blocked", "glue_resolved", "qmin_requery",
                    "budget_exceeded",
                )
            )
            .select(F.col("value").alias("url"))
        )
        return fetched_urls.union(fact_urls).distinct()

    def crawl_trace(self, upto: Snapshot) -> list[tuple[int, str]]:
        """Normalized crawl order: (round, url) for every admitted fetch,
        ordered by (round, host, priority, depth, url) — the engine/oracle
        parity object for 'exact crawl ordering' (SURVEY §7.3).

        FIXTURE-SCALE ONLY: this collects every fetched row to the
        driver. At production scale use ``crawl_trace_digest`` — the
        same parity information as an O(rounds) digest."""
        rows = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "fetched" in s.tables:
                    df = self.spark.read.parquet(s.tables["fetched"])
                    part = df.select("host", "priority", "depth", "url").collect()
                    part.sort(key=lambda x: (x["host"], x["priority"], x["depth"], x["url"]))
                    rows.extend((rr - 1, p["url"]) for p in part)
        return rows

    def crawl_trace_digest(self, upto: Snapshot) -> list[dict]:
        """Distributed trace parity (VERDICT r1 #8): per round, the count
        and an order-insensitive checksum of the fetched set — computed
        entirely JVM-side (xxhash64 + sum, whole-stage codegen); the
        driver receives one row per round, never the rows themselves.
        Two crawls (engine vs oracle, or run vs resume) agree on the
        (round, host, priority, depth, url) multiset iff digests match.
        """
        out = []
        for rr in self.store.history():
            if 0 < rr <= upto.round:
                s = self.store.load(rr)
                if "fetched" in s.tables:
                    df = self.spark.read.parquet(s.tables["fetched"])
                    out.append({"round": rr - 1, **trace_digest(df)})
        return out


def trace_digest(df: DataFrame) -> dict:
    """(n, checksum) of a trace-shaped DataFrame with columns
    (host, priority, depth, url). Order-insensitive: per-row xxhash64
    summed as decimal(38,0) — exact at any row count (no ANSI long
    overflow), reduced mod 2^64 driver-side. Used by the engine per
    round and by parity tests on the oracle's rows (same expression,
    same types)."""
    row = df.select(
        F.col("host").cast("string"),
        F.col("priority").cast("int"),
        F.col("depth").cast("int"),
        F.col("url").cast("string"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64("host", "priority", "depth", "url").cast("decimal(38,0)")
        ).alias("checksum"),
    ).collect()[0]
    return {"n": int(row["n"]), "checksum": int(row["checksum"] or 0) % (1 << 64)}
