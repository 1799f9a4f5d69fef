"""Crawl workloads: drive ``CrawlJob`` through its public calls and check
every event, the resumed step and the final URL-seen set against
``HeritrixSim`` for the same seeds, config and step count.
"""

from __future__ import annotations

import gzip
import hashlib
import inspect
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from heritrix_spark import config as C
from heritrix_spark.fixtures import gen, websim
from heritrix_spark.operators.extract import url_of_expr
from heritrix_spark.oracle import heritrix_sim
from heritrix_spark.oracle.heritrix_sim import HeritrixSim
from heritrix_spark.plans.crawl_job import CrawlJob
from heritrix_spark.plans.warc import export_warc

# Zipf-skewed synthetic web (websim's host law); 5,000 pages on 50 hosts
# keeps a whole run, oracle included, near a minute on a 4-core box.
CORPUS = websim.FixtureSpec("bench-5k", 5_000, 50, False)
SEED_HOSTS = 200  # organic-ramp seeds host indexes below this that have pages
SETUP_REPEATS = 3
# Resumes from the one checkpoint per run; each rolls back the previous
# resumed step's uncommitted logs, as a restart after a crash would.
# organic-ramp's resume is all per-step fixed cost and the noisier one, so
# it is sampled twice; each extra sample costs a whole superstep.
RESUME_REPEATS = {"frontier-drain": 1, "organic-ramp": 2}
MIN_STEPS = 2  # timed supersteps per run, at least
EVENT_COLS = ("crawl_step", "class_key", "url", "canon_url", "kind",
              "directive", "cost", "ordinal", "retries", "status",
              "fetch_start", "fetch_end", "event")
PHASES = ("burst_ck", "cand_unseen_ck", "cand_ck", "stats", "new_rows_ck",
          "frontier_ck", "tail")

# Workload shape: the only CrawlConfig fields a workload sets besides the
# scope.  Every engine mode, and CrawlJob's checkpoint interval (10, which
# no timed loop on a 4-core box reaches), stays at its default.
SHAPES = {
    # Whole corpus as one seed frame, drained in large steps.
    "frontier-drain": {"window_ms": 4_000_000, "burst_max": 1024},
    # Grows from one start page per host by link discovery.
    "organic-ramp": {},
}


@dataclass
class CrawlRun:
    setup_s: list[float] = field(default_factory=list)
    seed_ingest_s: float = 0.0
    step_s: list[float] = field(default_factory=list)
    step_urls: list[int] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)
    checkpoint_s: list[float] = field(default_factory=list)
    checkpoint_files: int = 0
    state_bytes: int = 0
    seen_files: int = 0
    resume_load_s: list[float] = field(default_factory=list)
    resume_step_s: list[float] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)
    warc_export_s: float = 0.0
    attempted: int = 0
    mismatches: list[str] = field(default_factory=list)


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def fixture(spark, root: str) -> dict[str, str]:
    """Corpus tables as parquet, generated once per checkout."""
    out = os.path.join(root, "fixtures", CORPUS.name)
    paths = {t: os.path.join(out, f"{t}.parquet")
             for t in ("images", "robots", "host_config")}
    if os.path.exists(os.path.join(out, "_done")):
        return paths
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gen.spark_images_df(spark, CORPUS).write.parquet(
        os.path.join(tmp, "images.parquet"))
    gen.robots_df(CORPUS).to_parquet(os.path.join(tmp, "robots.parquet"),
                                     index=False)
    gen.host_config_df(CORPUS).to_parquet(
        os.path.join(tmp, "host_config.parquet"), index=False)
    with open(os.path.join(tmp, "_done"), "w", encoding="utf-8") as fh:
        fh.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return paths


def seed_urls(workload: str, seed: int) -> list[str]:
    """The seed list, in order.  frontier-drain: every corpus page in a
    seed-permuted order.  organic-ramp: one seed-chosen non-trap page on
    each of the first SEED_HOSTS hosts, in a seed-permuted order."""
    rng = np.random.default_rng(seed)
    n_hosts = CORPUS.n_hosts
    if workload == "frontier-drain":
        ks = rng.permutation(CORPUS.n_images)
    else:
        pages: dict[int, list[int]] = {}
        for k in range(CORPUS.n_images):
            h = websim.host_index(k, n_hosts)
            if h < SEED_HOSTS and not websim.is_trap(k):
                pages.setdefault(h, []).append(k)
        ks = rng.permutation([int(rng.choice(pages[h]))
                              for h in sorted(pages)])
    return [websim.url_of(int(k), n_hosts) for k in ks]


def _seed_frame(spark, urls: list[str]):
    """Candidate-schema seed frame whose ``_ord_j`` is the list position
    (the order ``schedule_seeds`` gives a list)."""
    ks = [websim.image_id_of_url(u) for u in urls]
    pdf = pd.DataFrame({"k": np.asarray(ks, dtype=np.int64),
                        "pos": np.arange(len(ks), dtype=np.int32)})
    return spark.createDataFrame(pdf).select(
        url_of_expr(F.col("k"), CORPUS.n_hosts).alias("url"),
        F.lit("").alias("hops_path"), F.lit("").alias("via"),
        F.lit(True).alias("is_seed"),
        F.lit(C.MEDIUM).cast("int").alias("directive"),
        F.lit(0).cast("long").alias("earliest_ts"),
        F.lit("").alias("_ord_ck"), F.lit(0).cast("int").alias("_ord_rn"),
        F.col("pos").alias("_ord_j"))


def _sources_hash() -> str:
    h = hashlib.sha256()
    for mod in (heritrix_sim, websim, C, gen):
        h.update(inspect.getsource(mod).encode())
    return h.hexdigest()[:16]


def oracle(workload: str, seed: int, steps: int, urls: list[str],
           cfg: C.CrawlConfig, cache_dir: str) -> tuple[list[tuple], set]:
    """HeritrixSim's sorted event rows and final seen set, cached on the
    workload, seed, step count, config and the oracle's sources."""
    key = hashlib.sha256(json.dumps(
        [workload, seed, steps, repr(cfg), repr(CORPUS), _sources_hash()]
    ).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"sim-{key}.json.gz")
    if not os.path.exists(path):
        sim = HeritrixSim(CORPUS, cfg)
        sim.schedule_seeds(urls)
        sim.run(steps)
        rows = sorted([e["step"]] + [e[k] for k in EVENT_COLS[1:]]
                      for e in sim.fetch_log)
        os.makedirs(cache_dir, exist_ok=True)
        with gzip.open(path + ".tmp", "wt", encoding="utf-8") as fh:
            json.dump({"events": rows, "seen": sorted(sim.seen)}, fh)
        os.replace(path + ".tmp", path)
    with gzip.open(path, "rt", encoding="utf-8") as fh:
        got = json.load(fh)
    return [tuple(r) for r in got["events"]], set(got["seen"])


def _step_mismatches(engine: list[tuple], want: list[tuple]) -> list[str]:
    def by_step(rows):
        out: dict[int, list[tuple]] = {}
        for r in rows:
            out.setdefault(r[0], []).append(r)
        return out

    a, b = by_step(engine), by_step(want)
    return [f"step {s}: engine {len(a.get(s, []))} rows, "
            f"oracle {len(b.get(s, []))} rows, contents differ"
            for s in sorted(set(a) | set(b)) if a.get(s) != b.get(s)]


def run(spark, workload: str, seed: int, seconds: float, root: str,
        spans, trace: bool) -> CrawlRun:
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        **SHAPES[workload])
    paths = fixture(spark, root)
    urls = seed_urls(workload, seed)
    out = CrawlRun()

    # Read once: the timed spans hold the engine calls, not the caller's
    # parquet schema reads.
    with spans.span("inputs.read"):
        tables = dict(images=spark.read.parquet(paths["images"]),
                      robots_rules=spark.read.parquet(paths["robots"]),
                      host_config=spark.read.parquet(paths["host_config"]))

    runs = os.path.join(root, "run")
    shutil.rmtree(runs, ignore_errors=True)
    job = work = None
    for i in range(SETUP_REPEATS):
        work = os.path.join(runs, f"job{i}")
        with spans.span(f"crawl_job.setup.{i}") as sp:
            job = CrawlJob(spark, CORPUS, cfg, work_dir=work, **tables)
        out.setup_s.append(sp.secs)
        out.attempted += 1

    seeds = (_seed_frame(spark, urls) if workload == "frontier-drain"
             else None)
    with spans.span("crawl_job.seed_ingest") as sp:
        if seeds is not None:
            job.schedule_seed_frame(seeds)
        else:
            job.schedule_seeds(urls)
    out.seed_ingest_s = sp.secs
    out.attempted += 1

    # Timed loop: whole supersteps until `seconds` have passed and at least
    # MIN_STEPS ran, ending on a step with no periodic checkpoint so the
    # explicit checkpoint below always has work.
    t0 = time.perf_counter()
    while not job.done:
        with spans.span(f"crawl_job.superstep.{len(out.step_s)}") as sp:
            n = job.superstep()
        out.step_s.append(sp.secs)
        out.step_urls.append(n)
        out.attempted += 1
        if (len(out.step_s) >= MIN_STEPS
                and time.perf_counter() - t0 >= seconds
                and job.step % job.checkpoint_interval != 0):
            break
    out.phases = {p: statistics.median(job.phase_secs.get(p, [0.0]))
                  for p in PHASES}

    before = _tree(work)[0]
    with spans.span("catalog.checkpoint") as sp:
        job.checkpoint()
    out.checkpoint_s.append(sp.secs)
    out.attempted += 1
    files, out.state_bytes = _tree(work)
    out.checkpoint_files = files - before
    out.seen_files = _tree(os.path.join(work, "seen"))[0]

    resumed_urls = []
    for i in range(RESUME_REPEATS[workload]):
        with spans.span(f"catalog.resume.load.{i}") as sp:
            job2 = CrawlJob.resume(spark, CORPUS, cfg, work_dir=work,
                                   **tables)
        out.resume_load_s.append(sp.secs)
        with spans.span(f"catalog.resume.first_step.{i}") as sp:
            resumed_urls.append(job2.superstep())
        out.resume_step_s.append(sp.secs)
        out.attempted += 2
    if len(set(resumed_urls)) != 1:
        out.mismatches.append(f"resumed steps returned {resumed_urls} URLs")

    # The last resumed step's checkpoint is a second checkpoint sample; it
    # also makes that step durable for the check below.
    with spans.span("catalog.checkpoint.resumed") as sp:
        job2.checkpoint()
    out.checkpoint_s.append(sp.secs)
    out.attempted += 1

    # Untimed from here.
    engine = sorted(tuple(r[c] for c in EVENT_COLS)
                    for r in job2.events_df().collect())
    engine_seen = {r["canon_url"] for r in job2.seen.collect()}
    want, want_seen = oracle(workload, seed, job2.step, urls, cfg,
                             os.path.join(root, "cache"))
    print(f"oracle check: {len(engine)} engine / {len(want)} oracle event "
          f"rows over {job2.step} steps, seen set {len(engine_seen)} / "
          f"{len(want_seen)} URLs")
    out.mismatches = _step_mismatches(engine, want)
    if engine_seen != want_seen:
        out.mismatches.append(
            f"seen set: engine {len(engine_seen)}, oracle {len(want_seen)}, "
            f"{len(engine_seen ^ want_seen)} differ")
    if trace:
        m = job2.metrics_df().agg(*[F.sum(c).alias(c) for c in (
            "processed", "succeeded", "failed", "retried",
            "disregarded")]).collect()[0]
        out.counts = {k: int(m[k] or 0) for k in m.asDict()}
        out.counts["admitted"] = job2.scheduled_df().count()
        # plans.warc runs in no timed call; export the fetched table once.
        fetched = job2.fetched_df()
        with spans.span("warc.export") as sp:
            manifest = export_warc(fetched, os.path.join(work, "warc"))
            records = sum(r["n_records"] for r in manifest.collect())
        out.warc_export_s = sp.secs
        out.counts["warc_records"] = records
        out.attempted += 1
        if records != fetched.count():
            out.mismatches.append(f"warc: {records} records, "
                                  f"{fetched.count()} fetched rows")
    return out
