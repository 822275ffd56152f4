"""One-off engine-vs-oracle parity sweep across config space (round-5
hardening): every case is a FULL parity crawl — seen set, exact
(round,host,priority,depth,url) trace, and per-seed fact lists must all
equal the pure-Python oracle's (oracle/crawler.py) on the same corpus.

The suite carries two unscanned-seed cases (tests/test_fuzz_parity.py)
to keep the pytest wall bounded; this script is the wide version run
out-of-band: new generator seeds crossed with wave mode
(two-wave/single-wave), per-seed budgets, a bigger corpus, and the
synthetic (no-corpus-join) fetch path. Results are recorded in
BENCH.md / NOTES_r5.md and CHANGES.md.

    python scripts/parity_sweep.py            # full matrix
    python scripts/parity_sweep.py --extended # second matrix: wide state
                                              # layout x new seeds, 6-round
                                              # depth, budget x wave/fetch/
                                              # layout triples, 960-page corpus
    python scripts/parity_sweep.py --knobs    # third matrix: off-default
                                              # engine knobs (shuffle-hash
                                              # policy fallback, replenish
                                              # chunking, compaction cadence,
                                              # cold bucketing)
    python scripts/parity_sweep.py --lifecycle # fourth matrix: store/
                                              # lifecycle axes (pipelined
                                              # writes, interrupt+resume,
                                              # rate scaling, lineage,
                                              # run-to-drain)
    python scripts/parity_sweep.py --phys     # fifth matrix: physical/
                                              # payload knobs (salting
                                              # width, 4x px payloads with
                                              # verification on, verify off)
    python scripts/parity_sweep.py --quick    # first 4 cases (smoke)

Exit code 0 iff every case is bit-identical to the oracle.
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dnscrawler_spark import datagen
from dnscrawler_spark.oracle import crawler as oracle
from dnscrawler_spark.session import get_spark
from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine, FACT_KINDS

# cheap state layout (layout-only knobs; parity assertions are
# layout-independent — same rationale as tests/conftest.CHEAP_CRAWL_LAYOUT)
LAYOUT = dict(seen_shards=2, seen_bits=1 << 16, seen_buckets=1 << 10, partitions=2)


def case(fseed, *, two_wave=True, seed_budget=None, n=240,
         n_seeds=12, rounds=3, fetch_mode="join", layout=None, extra=None,
         rate_scale=1.0, resume_at=None, px_scale=1):
    return dict(fseed=fseed, two_wave=two_wave,
                seed_budget=seed_budget, n=n, n_seeds=n_seeds, rounds=rounds,
                fetch_mode=fetch_mode, layout=layout or LAYOUT,
                extra=extra or {}, rate_scale=rate_scale, resume_at=resume_at,
                px_scale=px_scale)


MATRIX = (
    # 1. new unscanned generator seeds, engine-default shape
    [case(s) for s in (37, 41, 43, 47, 53, 59)]
    # 2. single-wave on a subset
    + [case(s, two_wave=False) for s in (37, 43)]
    # 3. per-seed fetch budget (round-granular kill) on a subset
    + [case(s, seed_budget=3) for s in (41, 47)]
    # 4. bigger corpus, more seeds, one extra round
    + [case(61, n=480, n_seeds=20, rounds=4)]
    # 5. synthetic fetch (per-URL regeneration, no corpus join)
    + [case(37, fetch_mode="synthetic")]
    # 6. politeness-bound backlog: 120 seeds on 16 hosts at a quarter of
    # the token rate keep hosts cold, so every round spills discoveries
    # into a new cold delta, and replenish_chunk=1 makes every later
    # round pull across several deltas
    + [case(181, n_seeds=120, rate_scale=0.25, rounds=4,
            extra=dict(replenish_chunk=1))]
)

# Second out-of-band matrix (--extended): crosses the axes the first
# sweep held fixed — the WIDE 8-shard/4-partition state layout on
# unscanned topologies (the suite runs it only at the scanned seed 13),
# depth beyond any in-suite crawl (6 rounds), and the axis triples the
# pairwise cases above never combine (budget × single-wave,
# budget × synthetic fetch, budget × wide layout).
WIDE = dict(seen_shards=8, seen_bits=1 << 16, seen_buckets=1 << 10, partitions=4)
MATRIX_EXTENDED = (
    # 1. wide state layout × new unscanned seeds
    [case(s, layout=WIDE) for s in (67, 71)]
    # 2. depth: 6 two-wave rounds (the suite's deepest crawl is 5)
    + [case(73, rounds=6)]
    # 3. triple interaction: per-seed budget under single-wave
    + [case(79, two_wave=False, seed_budget=3)]
    # 4. per-seed budget on the synthetic (no-corpus-join) fetch path
    + [case(83, fetch_mode="synthetic", seed_budget=4)]
    # 5. 4x the suite corpus: 960 pages, 24 seeds, 4 rounds
    + [case(89, n=960, n_seeds=24, rounds=4)]
    # 6. budget × wide layout × two-wave
    + [case(97, seed_budget=3, layout=WIDE)]
)

# Third matrix (--knobs): the engine knobs no fixture moves off their
# defaults — each is a pure performance/layout lever whose admissions
# and outputs must be bit-identical to the oracle (which has no such
# knobs at all). policy_broadcast_max=0 forces the shuffle-hash
# prepare_policy fallback in BOTH waves (the 10^10 round-0 path the
# broadcast-pruned fast path otherwise shadows at fixture scale);
# replenish_chunk changes the cold→hot pull amortization;
# state_compact_every=0 compacts the politeness token deltas every
# round; cold_buckets changes the cold-delta partitioning.
MATRIX_KNOBS = (
    [case(101, extra=dict(policy_broadcast_max=0))]
    + [case(103, extra=dict(replenish_chunk=c)) for c in (1, 8)]
    + [case(107, extra=dict(cold_buckets=4))]
    + [case(109, extra=dict(state_compact_every=0))]
    # everything at once, on top of a per-seed budget
    + [case(113, seed_budget=3, extra=dict(
        policy_broadcast_max=0, state_compact_every=0, replenish_chunk=1,
        cold_buckets=4))]
    + [case(113, seed_budget=3, extra=dict(
        policy_broadcast_max=0, state_compact_every=0))]
)


# Fourth matrix (--lifecycle): the store/lifecycle axes the first three
# matrices hold fixed (the suite covers each only at the scanned seed
# 13) — pipelined overlapped writes, interrupt-after-round-k + resume by
# a FRESH engine from disk only (eager and pipelined commit orders),
# politeness rate scaling (the only host-policy knob; the oracle models
# it too, so admissions must track it exactly), opt-in lineage
# collection (an extra cache-read job that must not perturb outputs),
# per-round cold-delta compaction, and run-to-drain (max_rounds far past
# the drain point: the A6 emptiness stop must fire at the same round as
# the oracle's — trace equality pins it).
MATRIX_LIFECYCLE = (
    # 1. pipelined writes on an unscanned topology
    [case(127, extra=dict(pipeline_writes=True))]
    # 2. interrupt@2 + fresh-engine resume, eager commit path
    + [case(131, rounds=4, resume_at=2)]
    # 3. interrupt@2 + resume composed with pipelined writes
    + [case(137, rounds=4, resume_at=2, extra=dict(pipeline_writes=True))]
    # 4. politeness rate scaling (halved and doubled token rates)
    + [case(139, rate_scale=0.5), case(139, rate_scale=2.0)]
    # 5. opt-in lineage collection
    + [case(149, extra=dict(collect_lineage=True))]
    # 6. cold-delta compaction every round
    + [case(151, extra=dict(cold_compact_every=0))]
    # 7. run-to-drain: the frontier empties well before max_rounds
    + [case(157, rounds=12)]
)


# Fifth matrix (--phys): the physical/payload knobs — host-salting
# width (n_salts spreads a hot host across partitions; admissions must
# not depend on it), px_scale (4x image payloads WITH per-row
# decoded-pixel verification on — the north-rule invariant at a bigger
# payload shape), and verify_payloads=False (the verification stage
# removed entirely must not change a crawl decision).
MATRIX_PHYS = (
    # 1. salting collapsed to 1 (no spread) and widened to 8
    [case(163, extra=dict(n_salts=1))]
    + [case(167, extra=dict(n_salts=8))]
    # 2. 4x payload pixels, per-row PSNR/exact verification on
    + [case(173, px_scale=4)]
    # 3. payload verification off
    + [case(179, extra=dict(verify_payloads=False))]
)


def run_case(spark, c, root):
    n, fseed, px = c["n"], c["fseed"], c["px_scale"]
    n_hosts = datagen.default_n_hosts(n)
    corpus = [datagen.page_row(i, fseed, n, n_hosts, px) for i in range(n)]
    seeds = datagen.seed_urls(c["n_seeds"], n, seed=fseed)
    ores = oracle.crawl(corpus, seeds, max_rounds=c["rounds"], gen_seed=fseed,
                        seed_budget=c["seed_budget"], two_wave=c["two_wave"],
                        rate_scale=c["rate_scale"])

    cfg_kw = dict(max_rounds=c["rounds"], gen_seed=fseed, px_scale=px,
                  two_wave=c["two_wave"],
                  seed_budget=c["seed_budget"], **c["layout"],
                  **c.get("extra", {}))
    if c["fetch_mode"] == "synthetic":
        pages = None
        hs = datagen.generate_host_state_synthetic(spark, n_hosts, c["rate_scale"])
        cfg = CrawlConfig(fetch_mode="synthetic", n_pages=n, **cfg_kw)
    else:
        pages = datagen.generate_pages(spark, n, seed=fseed, partitions=4,
                                       px_scale=px)
        hs = datagen.generate_host_state(pages, c["rate_scale"])
        cfg = CrawlConfig(**cfg_kw)
    eng = CrawlEngine(spark, pages, root, cfg)
    if c["resume_at"] is not None:
        # interrupt: run k rounds, flush (the pipelined durability
        # point; no-op on the eager path), throw the engine away, and
        # resume from the on-disk store with a FRESH engine
        snap = eng.start(seeds, hs)
        for _ in range(c["resume_at"]):
            if snap.metrics.get("done"):  # mirror run()'s stop-at-drain
                break
            snap = eng.run_round(snap)
        eng.flush()
        eng = CrawlEngine(spark, pages, root, cfg)
        resumed = eng.resume()
        assert resumed.round == snap.round
        final = eng.run(resumed)
    else:
        final = eng.run(eng.start(seeds, hs))

    got = {r["url"] for r in eng.seen_urls(final).collect()}
    # deepest cold-delta list a replenish could read: the snapshots that
    # a later round ran from
    max_cold = max(
        len(eng.store.load(rr).aux.get("cold_paths", []))
        for rr in eng.store.history() if rr < final.round
    )
    bad = []
    if got != ores.seen:
        bad.append(f"seen: engine {len(got)} vs oracle {len(ores.seen)}")
    if eng.crawl_trace(final) != ores.trace:
        bad.append("trace mismatch")
    results = {r["seed"]: r for r in eng.results(final).collect()}
    if set(results) != set(ores.facts):
        bad.append("fact seed-set mismatch")
    else:
        for seed, kinds in ores.facts.items():
            for kind in FACT_KINDS:
                if list(results[seed][kind]) != sorted(kinds.get(kind, set())):
                    bad.append(f"facts {seed}/{kind}")
    return len(got), max_cold, bad


def main():
    quick = "--quick" in sys.argv
    matrices = dict(extended=MATRIX_EXTENDED, knobs=MATRIX_KNOBS,
                    lifecycle=MATRIX_LIFECYCLE, phys=MATRIX_PHYS)
    picked = [k for k in matrices if f"--{k}" in sys.argv]
    if len(picked) > 1:
        # refuse rather than silently run only the first: an all-green
        # exit 0 here would record axes as swept that never ran
        sys.exit(f"pick ONE matrix flag, got {picked}")
    matrix = matrices[picked[0]] if picked else MATRIX
    if quick:
        matrix = matrix[:4]
    spark = get_spark(master=f"local[{os.environ.get('SWEEP_CPUS', '8')}]")
    # crawl-time session conf (what bench.py and the probes set)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    n_bad, lines = 0, []
    with tempfile.TemporaryDirectory(prefix="parity_sweep_") as tmp:
        for i, c in enumerate(matrix):
            t0 = time.monotonic()
            n_seen, max_cold, bad = run_case(
                spark, c, os.path.join(tmp, f"case{i}")
            )
            dt = time.monotonic() - t0
            tag = (f"seed={c['fseed']} "
                   f"2w={int(c['two_wave'])} budget={c['seed_budget']} "
                   f"n={c['n']} r={c['rounds']} mode={c['fetch_mode']} "
                   f"shards={c['layout']['seen_shards']}"
                   + (f" rate={c['rate_scale']}" if c["rate_scale"] != 1.0 else "")
                   + (f" px={c['px_scale']}" if c["px_scale"] != 1 else "")
                   + (f" resume@{c['resume_at']}" if c["resume_at"] is not None else "")
                   + (f" extra={c['extra']}" if c.get("extra") else ""))
            status = "OK " if not bad else "BAD"
            print(f"[{status}] {tag}: seen={n_seen} max_cold_deltas={max_cold} "
                  f"({dt:.1f}s)"
                  + ("" if not bad else f"  {bad}"), flush=True)
            lines.append({**c, "seen": n_seen, "max_cold_deltas": max_cold,
                          "ok": not bad, "sec": round(dt, 1)})
            n_bad += bool(bad)
    print(json.dumps({"n_cases": len(matrix), "n_bad": n_bad, "cases": lines}))
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
