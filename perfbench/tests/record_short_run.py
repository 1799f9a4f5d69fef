"""Record the short-run event log that test_eventlog.py reads.

    python3 perfbench/tests/record_short_run.py

Runs the engine's 3-host ``tiny`` crawl for two supersteps and a
checkpoint with Spark's event log on, wrapping each call in a span, and
writes ``data/short_run.eventlog.gz`` (the event kinds the parser reads)
and ``data/short_run.spans.json``.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import run as R  # noqa: E402

KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def main() -> None:
    log_dir = R.configure_env(trace=True)
    from heritrix_spark import config as C
    from heritrix_spark.fixtures import gen, websim
    from heritrix_spark.plans.crawl_job import CrawlJob
    from heritrix_spark.session import get_spark

    import eventlog

    spark = get_spark("perfbench-record", cores=R.available_cores())
    spec = websim.SPECS["tiny"]
    paths = gen.write_fixture(spec, os.path.join(R.WORK, "fixtures", "tiny"))
    work = os.path.join(R.WORK, "run", "record")
    shutil.rmtree(work, ignore_errors=True)
    spans = eventlog.SpanRecorder()
    try:
        cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes())
        with spans.span("setup"):
            job = CrawlJob(
                spark, spec, cfg, work_dir=work,
                images=spark.read.parquet(paths["images"]),
                robots_rules=spark.read.parquet(paths["robots"]),
                host_config=spark.read.parquet(paths["host_config"]))
        with spans.span("seed_ingest"):
            job.schedule_seeds(websim.seeds(spec))
        for i in range(2):
            with spans.span(f"superstep.{i}"):
                job.superstep()
        with spans.span("checkpoint"):
            job.checkpoint()
    finally:
        R.stop_spark(spark)
    [name] = os.listdir(log_dir)
    out = os.path.join(HERE, "data")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(log_dir, name), encoding="utf-8") as src, \
            gzip.open(os.path.join(out, "short_run.eventlog.gz"), "wt",
                      encoding="utf-8") as dst:
        dst.writelines(line for line in src
                       if json.loads(line)["Event"] in KEEP)
    with open(os.path.join(out, "short_run.spans.json"), "w",
              encoding="utf-8") as fh:
        json.dump(spans.to_json(), fh, indent=1)


if __name__ == "__main__":
    main()
