from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

from dnscrawler_spark.session import get_spark

# One shared JVM serves ~15 fixture crawls across the suite; the 8g
# default driver heap accumulates cache/broadcast/shuffle state and the
# JVM can die late in a full run (py4j protocol errors on the LAST
# module's tests, each green standalone). 16g gives the session-long
# run the same headroom bench.py gives itself (20g).
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")


@pytest.fixture(scope="session")
def spark():
    # local[8]: the suite is fixture-crawl latency-bound, and the fetch /
    # fused-pass stages use whatever cores exist; 8 threads on this
    # 32-core box cuts suite wall ~25% vs local[4] with identical plans
    s = get_spark(
        app_name="dnscrawler_spark_tests",
        master="local[8]",
        shuffle_partitions=4,
        # one JVM serves the whole suite (~15 fixture crawls): force the
        # ContextCleaner's periodic full GC well below its 30min default
        # so dead broadcast/RDD state is reclaimed DURING the run — a
        # long-lived local JVM otherwise accumulates heap state that
        # skews late-suite latency up to 2x (BENCH.md §0.8 / NOTES_r5)
        extra_conf={"spark.cleaner.periodicGC.interval": "3min"},
    )
    yield s


@pytest.fixture(autouse=True, scope="module")
def _module_cache_hygiene():
    """Clear leftover cached frames between modules: a module that leaks
    a persist keeps its whole crawl lineage pinned in the shared JVM for
    the rest of the suite. Only touches an ALREADY-running session."""
    yield
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.catalog.clearCache()
    except Exception:
        pass


# Cheap 2-shard/2-partition state layout for config-variant crawls —
# layout-only knobs (admission order and every parity assertion are
# layout-independent; the shared engine_run keeps the wide 8/4 layout so
# shard routing stays covered at width >2). One constant, consumed by
# test_crawl_parity / test_stratified / test_fuzz_parity.
CHEAP_CRAWL_LAYOUT = dict(
    seen_shards=2, seen_bits=1 << 16, seen_buckets=1 << 10, partitions=2
)

# Parity fixture shape shared by test_crawl_parity / test_stratified and
# the __spark_entry__ probes (VERDICT r3 #1/#5): this scanned shape
# reaches EVERY motif — glue short-circuit, qmin fallback, robots block,
# ip/missing-ns failures, ps_ promotion, two-wave carry moves,
# seed-budget demotion, cold drain — by round 5, at 14 fact kinds.
N = 240
SEED = 13
N_SEEDS = 12
MAX_ROUNDS = 5
SUB_ROUNDS = 4  # config-variant crawls (resume/budget/pipelined): every
# motif they assert still fires by round 4 (oracle-scanned; round 3
# loses budget_exceeded AND qmin_requery — 4 is the floor)


@contextmanager
def _crawl_session_conf(spark):
    """Crawl-time session conf for fixture crawls (exactly what bench.py
    and the __spark_entry__ probes set): AQE off — its per-exchange
    materialization barriers are pure latency on a 240-page crawl's
    known shapes — and a narrow fixed shuffle width. Layout-only; the
    crawl assertions are value parity."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    shuf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shuf)


@pytest.fixture(scope="module")
def crawl_conf(spark):
    """The crawl-time session conf for a whole module. Request from an
    autouse module fixture so non-crawl modules keep the session
    defaults."""
    with _crawl_session_conf(spark):
        yield


@pytest.fixture(scope="session")
def corpus():
    from dnscrawler_spark import datagen

    n_hosts = datagen.default_n_hosts(N)
    return [datagen.page_row(i, SEED, N, n_hosts) for i in range(N)]


@pytest.fixture(scope="session")
def oracle_result(corpus):
    from dnscrawler_spark import datagen
    from dnscrawler_spark.oracle import crawler as oracle

    seeds = datagen.seed_urls(N_SEEDS, N, seed=SEED)
    return oracle.crawl(corpus, seeds, max_rounds=MAX_ROUNDS, gen_seed=SEED)


@pytest.fixture(scope="session")
def engine_run(spark, tmp_path_factory):
    """The parity crawl, shared by test_crawl_parity and test_stratified
    (VERDICT r4 #3: one engine crawl per config shape, each test keeps
    its own assertions): engine defaults (two waves), the wide 8-shard /
    4-partition layout, and the opt-in admitted lineage."""
    from dnscrawler_spark import datagen
    from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine

    root = str(tmp_path_factory.mktemp("crawl"))
    with _crawl_session_conf(spark):
        pages = datagen.generate_pages(spark, N, seed=SEED, partitions=4)
        hs = datagen.generate_host_state(pages)
        cfg = CrawlConfig(
            max_rounds=MAX_ROUNDS, seen_shards=8, seen_bits=1 << 16,
            seen_buckets=1 << 10, partitions=4, gen_seed=SEED,
            collect_lineage=True,
        )
        eng = CrawlEngine(spark, pages, root, cfg)
        final = eng.run(eng.start(datagen.seed_urls(N_SEEDS, N, seed=SEED), hs))
    return eng, final


@pytest.fixture(scope="session")
def variant_run(spark, tmp_path_factory, corpus):
    """ONE hardened config-variant crawl shared by the resume,
    pipelined-writes and compaction tests: pipeline_writes=True +
    cold_compact_every=0 (compaction every round), interrupted after
    round 2, flushed (the documented durability point for pipelined
    stores — rounds.py flush()), then resumed by a FRESH engine from
    disk only and run to completion. Any of the composed mechanisms —
    overlapped writes, per-round compaction, the cold-path / queue-state
    / E-filter manifest round-trip, round replay — changing any output
    fails the parity asserts in the consumers."""
    from dnscrawler_spark import datagen
    from dnscrawler_spark.oracle import crawler as oracle
    from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine

    root = str(tmp_path_factory.mktemp("variant"))
    seeds = datagen.seed_urls(N_SEEDS, N, seed=SEED)
    ores = oracle.crawl(corpus, seeds, max_rounds=SUB_ROUNDS, gen_seed=SEED)
    with _crawl_session_conf(spark):
        pages = datagen.generate_pages(spark, N, seed=SEED, partitions=4)
        hs = datagen.generate_host_state(pages)
        cfg = CrawlConfig(
            max_rounds=SUB_ROUNDS, pipeline_writes=True, cold_compact_every=0,
            gen_seed=SEED, **CHEAP_CRAWL_LAYOUT,
        )
        eng1 = CrawlEngine(spark, pages, root, cfg)
        snap = eng1.start(seeds, hs)
        for _ in range(2):
            snap = eng1.run_round(snap)
        eng1.flush()  # durability point; beyond it the engine is discarded
        # "crash": throw the engine away; resume from disk only
        eng2 = CrawlEngine(spark, pages, root, cfg)
        resumed = eng2.resume()
        final = eng2.run(resumed)  # run() flushes pending writes
    return eng2, resumed, final, ores, pages, cfg


@pytest.fixture(scope="session")
def synthetic_run(spark, tmp_path_factory):
    """fetch_mode='synthetic' (per-URL regeneration, no corpus join)
    over the parity shape, shared by test_crawl_parity and
    test_stratified; compare against oracle_result."""
    from dnscrawler_spark import datagen
    from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine

    root = str(tmp_path_factory.mktemp("synth"))
    with _crawl_session_conf(spark):
        cfg = CrawlConfig(
            max_rounds=MAX_ROUNDS, fetch_mode="synthetic", n_pages=N,
            gen_seed=SEED, **CHEAP_CRAWL_LAYOUT,
        )
        hs = datagen.generate_host_state_synthetic(spark, datagen.default_n_hosts(N))
        eng = CrawlEngine(spark, None, root, cfg)
        final = eng.run(eng.start(datagen.seed_urls(N_SEEDS, N, seed=SEED), hs))
    return eng, final


SEED_BUDGET = 6  # tight enough that budget_run demotes frontier rows


@pytest.fixture(scope="session")
def budget_run(spark, tmp_path_factory, corpus):
    """Per-seed budget crawl (seed_budget=SEED_BUDGET) and its oracle,
    shared by test_crawl_parity and test_stratified."""
    from dnscrawler_spark import datagen
    from dnscrawler_spark.oracle import crawler as oracle
    from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine

    root = str(tmp_path_factory.mktemp("budget"))
    seeds = datagen.seed_urls(N_SEEDS, N, seed=SEED)
    ores = oracle.crawl(
        corpus, seeds, max_rounds=SUB_ROUNDS, seed_budget=SEED_BUDGET, gen_seed=SEED,
    )
    with _crawl_session_conf(spark):
        pages = datagen.generate_pages(spark, N, seed=SEED, partitions=4)
        hs = datagen.generate_host_state(pages)
        cfg = CrawlConfig(
            max_rounds=SUB_ROUNDS, seed_budget=SEED_BUDGET, gen_seed=SEED,
            **CHEAP_CRAWL_LAYOUT,
        )
        eng = CrawlEngine(spark, pages, root, cfg)
        final = eng.run(eng.start(seeds, hs))
    return eng, final, ores
