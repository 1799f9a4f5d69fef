#!/usr/bin/env python
"""Queue-state placement probe: per-step cost vs #queues, pandas vs
dataframe mode (judge round-2 item 4).

Synthesizes an N-host frontier (each host: dns+robots prerequisites +
K real items; ~1/50 of hosts due per superstep via staggered discovery
times) and measures steady-state superstep wall time at several N for
both ``queue_state_mode`` settings.  The claim under test: pandas mode
pays an O(#queues) driver serialize+broadcast+collect every step, so its
per-step time grows with N even when the DUE work per step is constant;
dataframe mode's per-step driver traffic is work-proportional (plus a
1-row clock aggregate), so its per-step time stays ~flat in N.

Emits one JSON line; appends a table to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

STEPS = int(os.environ.get("SPARK_GRAFT_QS_STEPS", "6"))
WARMUP = 2
SIZES = [int(x) for x in os.environ.get(
    "SPARK_GRAFT_QS_SIZES", "2000,20000,100000").split(",")]
K_REAL = 3  # real items per host
WAVES = 50  # discovery staggered into this many waves → ~N/WAVES due/step


def run_mode(spark, mode: str, n_hosts: int) -> dict:
    import shutil

    from pyspark.sql import functions as F

    from heritrix_spark import config as C
    from heritrix_spark.fixtures import websim
    from heritrix_spark.plans.crawl_job import CrawlJob

    spec = websim.SPECS["tiny"]  # images unused: synthetic hosts all 404
    work = f"/tmp/heritrix_qs_{mode}_{n_hosts}"
    shutil.rmtree(work, ignore_errors=True)
    cfg = C.CrawlConfig(queue_state_mode=mode, max_steps=10_000)
    images = spark.createDataFrame([], "image_id string, bytes binary")
    robots = spark.createDataFrame(
        [], "host string, path_prefix string, allow boolean,"
            " rule_order int")
    job = CrawlJob(spark, spec, cfg, images=images, robots_rules=robots,
                   host_config=None, work_dir=work,
                   checkpoint_interval=1000)
    # N hosts × K items; host i's items discovered in wave i%WAVES so each
    # superstep only ~N/WAVES queues are due while ALL N queues exist.
    seed = spark.range(n_hosts * K_REAL).select(
        F.format_string("http://q%07d.test/p/%d",
                        (F.col("id") % n_hosts).cast("int"),
                        (F.col("id") / n_hosts).cast("int")).alias("url"),
        F.lit("").alias("hops_path"), F.lit("").alias("via"),
        F.lit(True).alias("is_seed"),
        F.lit(C.MEDIUM).cast("int").alias("directive"),
        (F.pmod(F.col("id"), F.lit(WAVES)) * 40_000_000).cast("long")
        .alias("earliest_ts"),
        F.lit("").alias("_ord_ck"), F.lit(0).cast("int").alias("_ord_rn"),
        F.col("id").cast("int").alias("_ord_j"))
    job.schedule_seed_frame(seed)
    for _ in range(WARMUP):
        if job.done:
            break
        job.superstep()
    t0 = time.time()
    steps = 0
    processed = 0
    while steps < STEPS and not job.done:
        processed += job.superstep()
        steps += 1
    dt = time.time() - t0
    return {"mode": mode, "n_hosts": n_hosts, "steps": steps,
            "processed": processed,
            "sec_per_step": round(dt / max(steps, 1), 2)}


def main() -> None:
    from heritrix_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("heritrix-qs-bench", cores=cores,
                      shuffle_partitions=max(cores, 8))
    rows = []
    for n in SIZES:
        for mode in ("pandas", "dataframe"):
            r = run_mode(spark, mode, n)
            rows.append(r)
            print(json.dumps(r), flush=True)
    out = {"metric": "queue-state per-step cost vs #queues",
           "unit": "sec/step", "cores": cores, "rows": rows}
    print(json.dumps(out))
    with open(os.path.join(HERE, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n## Queue-state placement: per-step cost vs #queues "
                f"(local[{cores}], ~N/{WAVES} queues due per step)\n\n"
                "| #queues | pandas sec/step | dataframe sec/step |\n"
                "|---|---|---|\n")
        by = {(r["n_hosts"], r["mode"]): r["sec_per_step"] for r in rows}
        for n in SIZES:
            f.write(f"| {n} | {by.get((n, 'pandas'), '-')} "
                    f"| {by.get((n, 'dataframe'), '-')} |\n")
        f.write(
            "\npandas mode re-serializes + broadcasts the full queue "
            "table and collects an O(#queues) clock row-set every step; "
            "dataframe mode's driver traffic is work-proportional "
            "(burst/candidate stats) plus a 1-row clock aggregate, so "
            "its per-step cost stays ~flat as the queue table grows.\n")


if __name__ == "__main__":
    main()
