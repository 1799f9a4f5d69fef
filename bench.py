#!/usr/bin/env python
"""Benchmark harness.

Default mode: times every ``__spark_entry__.queries()`` query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, plus a crawl-engine throughput probe, and
prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "crawl_urls_per_sec": ...}

``--crawl-only`` emits only the crawl probe (used by bench_scaling.py to
measure the same job at two parallelism levels — the sandbox proxy for the
north rule's N-vs-4N-executor scaling gate).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CRAWL_SPEC = os.environ.get("SPARK_GRAFT_CRAWL_SPEC", "bench")
CRAWL_STEPS = int(os.environ.get("SPARK_GRAFT_CRAWL_STEPS", "5"))
WARMUP_STEPS = int(os.environ.get("SPARK_GRAFT_CRAWL_WARMUP", "1"))
SEED_HOSTS = int(os.environ.get("SPARK_GRAFT_SEED_HOSTS", "200"))
# Big supersteps amortize the fixed per-step coordination cost (job
# setup, stats collect, driver merges — a few s/step on the round-5
# engine; see the `phases` medians this script emits) and give the
# executors real parallel work — the steady-state regime of a cluster
# crawl.  The old defaults (burst 256 / 0.96 s window / 16 steps)
# processed ~28k URLs/step, which measures coordination at ANY core
# count; see BENCH/BASELINE.md round-2/3 workload notes.
WINDOW_MS = int(os.environ.get("SPARK_GRAFT_WINDOW_MS", "4000000"))
BURST_MAX = int(os.environ.get("SPARK_GRAFT_BURST", "1024"))
# The bench measures the 100x-safe engine by default: the URL-seen set
# lives in the durable BUCKETED table (storage-partitioned anti-join, one
# Exchange) rather than the in-memory union chain.  Set =0 to compare.
DURABLE_SEEN = os.environ.get("SPARK_GRAFT_DURABLE_SEEN", "1") not in ("",
                                                                       "0")


def _spark(cores: int):
    from heritrix_spark.session import get_spark

    return get_spark("heritrix-bench", cores=cores,
                     shuffle_partitions=max(cores, 8))


def _fixture_paths(spark, spec):
    """Bench fixture parquet, cached under /tmp across runs."""
    from heritrix_spark.fixtures import gen

    root = f"/tmp/heritrix_bench_fix_{spec.name}_{spec.n_images}"
    images = os.path.join(root, "images.parquet")
    if not os.path.exists(os.path.join(root, "_done")):
        os.makedirs(root, exist_ok=True)
        gen.spark_images_df(spark, spec).write.mode("overwrite").parquet(
            images)
        gen.robots_df(spec).to_parquet(os.path.join(root, "robots.parquet"),
                                       index=False)
        gen.host_config_df(spec).to_parquet(
            os.path.join(root, "host_config.parquet"), index=False)
        open(os.path.join(root, "_done"), "w").write("ok")
    return {"images": images,
            "robots": os.path.join(root, "robots.parquet"),
            "host_config": os.path.join(root, "host_config.parquet")}


BENCH_MODE = os.environ.get("SPARK_GRAFT_BENCH_MODE", "frontier")


def bench_crawl(spark, work_root: str) -> dict:
    """Crawl-scheduler throughput over the Zipf-skewed bench web.

    mode=frontier (default): the north-star shape — the full synthetic URL
    corpus is injected as the seed list (a 10^N-URL frontier) and the
    engine drains it under the politeness/budget law; every superstep is a
    large window + anti-join + payload-join job (real parallel work).
    mode=organic: seeds only the first SEED_HOSTS hosts and grows by link
    discovery (ramp-dominated; small supersteps)."""
    import shutil

    from pyspark.sql import functions as F

    from heritrix_spark import config as C
    from heritrix_spark.fixtures import websim
    from heritrix_spark.operators.extract import url_of_expr
    from heritrix_spark.plans.crawl_job import CrawlJob

    spec = websim.SPECS[CRAWL_SPEC]
    paths = _fixture_paths(spark, spec)
    work = os.path.join(work_root, "crawl_work")
    shutil.rmtree(work, ignore_errors=True)
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        max_steps=CRAWL_STEPS, window_ms=WINDOW_MS,
                        burst_max=BURST_MAX)
    job = CrawlJob(
        spark, spec, cfg,
        images=spark.read.parquet(paths["images"]),
        robots_rules=spark.read.parquet(paths["robots"]),
        host_config=spark.read.parquet(paths["host_config"]),
        work_dir=work, checkpoint_interval=100,
        durable_seen=DURABLE_SEEN)
    if BENCH_MODE == "frontier":
        seed_df = spark.range(spec.n_images).select(
            url_of_expr(F.col("id"), spec.n_hosts).alias("url"),
            F.lit("").alias("hops_path"), F.lit("").alias("via"),
            F.lit(True).alias("is_seed"),
            F.lit(C.MEDIUM).cast("int").alias("directive"),
            F.lit(0).cast("long").alias("earliest_ts"),
            F.lit("").alias("_ord_ck"), F.lit(0).cast("int").alias("_ord_rn"),
            F.col("id").cast("int").alias("_ord_j"))
        job.schedule_seed_frame(seed_df)
    else:
        job.schedule_seeds(websim.seeds(spec, SEED_HOSTS))
    warm = 0
    for _ in range(WARMUP_STEPS):
        if job.done:
            break
        warm += job.superstep()
    job.phase_secs = {}  # report phase medians over MEASURED steps only
    t0 = time.time()
    processed = 0
    steps = 0
    while steps < CRAWL_STEPS - WARMUP_STEPS and not job.done:
        processed += job.superstep()
        steps += 1
    elapsed = time.time() - t0
    import statistics
    out = {
        "crawl_spec": spec.name,
        "crawl_steps_measured": steps,
        "crawl_urls_processed": processed,
        "crawl_sec": round(elapsed, 2),
        "crawl_urls_per_sec": round(processed / elapsed, 1) if elapsed else 0,
        "crawl_durable_seen": DURABLE_SEEN,
        # Per-superstep phase medians (sec) — the round-over-round
        # regression localizer; same marks as SPARK_GRAFT_TRACE.
        "phases": {k: round(statistics.median(v), 3)
                   for k, v in job.phase_secs.items()},
    }
    if DURABLE_SEEN:
        # Assert the storage-partitioned anti-join shape on the measured
        # engine: bucketed seen side, exactly ONE Exchange (candidates).
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cand = (spark.range(5000)
                    .select(F.xxhash64(F.col("id").cast("string"))
                            .alias("url_fp")))
            plan = (cand.join(job.seen, "url_fp", "left_anti")
                    ._jdf.queryExecution().executedPlan().toString())
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        out["seen_anti_join_exchanges"] = plan.count("Exchange")
        out["seen_bucketed"] = "Bucketed: true" in plan
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl-only", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cores)

    out: dict = {
        "metric": "heritrix_spark bench: entry queries + crawl superstep "
                  "throughput",
        "unit": "sec",
        "sf": sf_dir,
        "cores": cores,
    }
    qtimes: dict[str, float] = {}
    total = 0.0

    if not args.crawl_only:
        import __spark_entry__ as entry_mod

        for name, fn in entry_mod.queries().items():
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            qtimes[name] = round(dt, 3)
            total += dt
            _ = n

    crawl = bench_crawl(spark, "/tmp/heritrix_bench_run")
    out.update(crawl)
    total += crawl["crawl_sec"]
    qtimes["crawl_superstep_loop"] = crawl["crawl_sec"]
    out["queries"] = qtimes
    out["value"] = round(total, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
