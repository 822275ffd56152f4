"""Engine-vs-oracle parity on a SECOND corpus topology (hardening: every
other parity crawl in the suite runs the one scanned generator seed 13,
whose motif placement was hand-verified — a different seed rearranges
glue targets, qmin pages, robots blocks, host fan-out, and priority
ties, so parity here shows the engine tracks the oracle's semantics,
not one fixture's layout).

Kept to two extra engine crawls (3 rounds, cheap 2-shard layout) so
the suite wall stays under its bar; the param list is the extension
point — any new generator seed is a full seen/trace/facts parity crawl.
A one-off 8-seed sweep of the same assertion (seeds
1,2,3,5,7,11,17,23 — run 2026-08-19, all OK, seen sets 49-84 urls)
backs the choice of carrying just these two in the suite;
scripts/parity_sweep.py extends the same assertion across the CONFIG
axes (wave mode, per-seed budget, corpus size, synthetic fetch) —
24/24 OK at round-5 HEAD, recorded in NOTES_r5.md."""

import pytest
from conftest import CHEAP_CRAWL_LAYOUT

from dnscrawler_spark import datagen
from dnscrawler_spark.oracle import crawler as oracle
from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine, FACT_KINDS

N = 240
N_SEEDS = 12
ROUNDS = 3
FUZZ_SEEDS = [29, 31]  # generator seeds


@pytest.fixture(autouse=True, scope="module")
def _crawl_conf(crawl_conf):
    """Run this module's fixture crawls under the shared crawl-time
    session conf (conftest.crawl_conf)."""
    yield


@pytest.mark.parametrize("fseed", FUZZ_SEEDS)
def test_unscanned_seed_parity(spark, tmp_path_factory, fseed):
    n_hosts = datagen.default_n_hosts(N)
    corpus = [datagen.page_row(i, fseed, N, n_hosts) for i in range(N)]
    seeds = datagen.seed_urls(N_SEEDS, N, seed=fseed)
    ores = oracle.crawl(corpus, seeds, max_rounds=ROUNDS, gen_seed=fseed)

    root = str(tmp_path_factory.mktemp(f"fuzz{fseed}"))
    pages = datagen.generate_pages(spark, N, seed=fseed, partitions=4)
    hs = datagen.generate_host_state(pages)
    cfg = CrawlConfig(
        max_rounds=ROUNDS, gen_seed=fseed, **CHEAP_CRAWL_LAYOUT,
    )
    eng = CrawlEngine(spark, pages, root, cfg)
    final = eng.run(eng.start(seeds, hs))

    got = {r["url"] for r in eng.seen_urls(final).collect()}
    assert got == ores.seen
    assert len(got) > N_SEEDS, "crawl must actually expand"
    assert eng.crawl_trace(final) == ores.trace
    results = {r["seed"]: r for r in eng.results(final).collect()}
    assert set(results) == set(ores.facts)
    for seed, kinds in ores.facts.items():
        for kind in FACT_KINDS:
            assert list(results[seed][kind]) == sorted(kinds.get(kind, set())), (
                f"{seed} {kind}"
            )
