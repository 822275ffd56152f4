#!/usr/bin/env python
"""Cluster entrypoint: run a crawl under ``spark-submit --py-files``
(the north_rule deployment shape — multi-executor clusters at N and 4N
executors; this same script drives both sizes, only the submit flags
change).

    spark-submit --master <cluster> \
        --py-files dist/dnscrawler_spark.zip \
        scripts/submit_crawl.py \
        --root /path/to/snapshots --n-pages 2000000 --n-seeds 150000 \
        --max-rounds 4

The synthetic corpus keeps the job self-contained (no input data to
stage); swap ``--fetch-mode join`` + a pages table path for a real
corpus. Prints one JSON line of crawl metrics on success. master,
executor count, and memory come from the spark-submit flags — the
session builder deliberately sets neither (see session.get_spark
from_submit).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="snapshot store directory")
    ap.add_argument("--n-pages", type=int, default=240)
    ap.add_argument("--n-seeds", type=int, default=5)
    ap.add_argument("--n-hosts", type=int, default=None)
    ap.add_argument("--max-rounds", type=int, default=8)
    ap.add_argument("--gen-seed", type=int, default=42)
    ap.add_argument("--rate-scale", type=float, default=1.0)
    ap.add_argument("--px-scale", type=int, default=1)
    ap.add_argument("--partitions", type=int, default=None)
    # seen-filter state layout (cluster sizing knobs: shards scale with
    # key volume, bits/buckets with keys-per-shard — see bench.py's
    # capacity sizing). Defaults = CrawlConfig defaults.
    ap.add_argument("--seen-shards", type=int, default=None)
    ap.add_argument("--seen-bits", type=int, default=None)
    ap.add_argument("--seen-buckets", type=int, default=None)
    # two-wave is the engine default (the reference runs two waves
    # unconditionally); this opts into the leaner single-wave loop
    ap.add_argument("--single-wave", action="store_true")
    ap.add_argument("--pipeline-writes", action="store_true")
    args = ap.parse_args()

    # imports AFTER spark-submit has put the --py-files zip on sys.path
    from dnscrawler_spark import datagen
    from dnscrawler_spark.session import get_spark
    from dnscrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine

    spark = get_spark(app_name="dnscrawler_spark_submit", from_submit=True)
    n_hosts = args.n_hosts or datagen.default_n_hosts(args.n_pages)
    cfg = CrawlConfig(
        max_rounds=args.max_rounds,
        gen_seed=args.gen_seed,
        fetch_mode="synthetic",
        n_pages=args.n_pages,
        n_hosts=n_hosts,
        px_scale=args.px_scale,
        partitions=args.partitions,
        **{
            k: v
            for k, v in {
                "seen_shards": args.seen_shards,
                "seen_bits": args.seen_bits,
                "seen_buckets": args.seen_buckets,
            }.items()
            if v is not None
        },
        two_wave=not args.single_wave,
        pipeline_writes=args.pipeline_writes,
        collect_lineage=False,
    )
    hs = datagen.generate_host_state_synthetic(spark, n_hosts, args.rate_scale)
    seeds = datagen.seed_urls_df(
        spark, args.n_seeds, args.n_pages, seed=args.gen_seed, n_hosts=n_hosts
    )
    eng = CrawlEngine(spark, None, args.root, cfg)
    t0 = time.monotonic()
    final = eng.run(eng.start(seeds, hs))
    wall = time.monotonic() - t0
    from dnscrawler_spark.operators.seen import SeenFilter

    print(
        json.dumps(
            {
                "rounds": final.round,
                "urls_seen": SeenFilter.from_manifest(final.seen).exact_key_count(),
                "wall_sec": round(wall, 3),
                "done": bool(final.metrics.get("done")),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
