#!/usr/bin/env python3
"""Crawl-frontier benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload frontier-drain --seed 1 \
        --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``frontier-drain`` and
``organic-ramp``.  The run drives ``CrawlJob`` through its public calls
only, checks every event row, the resumed step and the final URL-seen set
against ``HeritrixSim``, and prints every metric by name and unit.  The
last stdout line is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log, also runs the 44 ``__spark_entry__`` queries (checked
against DuckDB), and reports per-layer metrics: the Spark jobs and tasks
that ran inside each of the benchmark's spans around the engine calls.

Everything the run writes (fixtures, oracle caches, work dirs, Spark local
dir, warehouse, event log) goes under ``perfbench/.work``.  The command
exits nonzero on any failed or mismatching operation.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("frontier-drain", "organic-ramp")
ENTRY_SF = 0.01


def available_cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """A quarter of the box's memory, 1-4 GB: the run's inputs are small
    and the box is shared."""
    total_gb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                / 2**30)
    return f"{max(1, min(4, int(total_gb // 4)))}g"


def configure_env(trace: bool) -> str | None:
    """Session settings through the engine's own environment hooks; returns
    the event-log dir when tracing."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_GRAFT_CONF"] = ";".join(f"{k}={v}"
                                              for k, v in conf.items())
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ["TMPDIR"] = tmp
    # Every JVM the run starts, the spark-submit launcher included, keeps
    # its scratch files in the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    # Python workers import heritrix_spark from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return log_dir


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _slope(ys: list[float]) -> float:
    """Least-squares slope of ys against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    return (sum((i - mx) * (y - my) for i, y in enumerate(ys))
            / sum((i - mx) ** 2 for i in range(n)))


def _ref_path(workload: str) -> str:
    return os.path.join(WORK, "cache", f"untraced-{workload}.json")


def _record_untraced(workload: str, secs_per_url: float) -> None:
    path = _ref_path(workload)
    vals = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            vals = json.load(fh)
    vals = (vals + [secs_per_url])[-25:]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(vals, fh)


def _untraced_ref(workload: str) -> float | None:
    path = _ref_path(workload)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return statistics.median(json.load(fh))


def end_to_end(cr) -> dict[str, tuple[float, str, int]]:
    """name → (value, unit, samples)."""
    return {
        "crawl_urls_per_s": (sum(cr.step_urls) / sum(cr.step_s), "URLs/s",
                             len(cr.step_s)),
        "step_s_p50": (statistics.median(cr.step_s), "s", len(cr.step_s)),
        "seed_ingest_s": (cr.seed_ingest_s, "s", 1),
        "checkpoint_s": (statistics.median(cr.checkpoint_s), "s",
                         len(cr.checkpoint_s)),
        "resume_s": (statistics.median(
            a + b for a, b in zip(cr.resume_load_s, cr.resume_step_s)), "s",
            len(cr.resume_load_s)),
        "state_mb": (cr.state_bytes / 1e6, "MB", 1),
        "setup_s": (statistics.median(cr.setup_s), "s", len(cr.setup_s)),
    }


def per_layer(cr, stats, other, log, entry_secs, cores, overhead,
              ops_failed_frac, rss_mb) -> dict[str, tuple[float, str, int]]:
    out: dict[str, tuple[float, str, int]] = {}

    def put(name, value, unit, n=1):
        out[name] = (float(value), unit, n)

    steps = [stats[f"crawl_job.superstep.{i}"] for i in range(len(cr.step_s))]
    n = len(steps)

    p = "crawl_job.superstep."
    put(p + "wall_s", statistics.median([s.wall_s for s in steps]), "s", n)
    put(p + "urls", statistics.median(cr.step_urls), "URLs", n)
    for k, unit in (("jobs", "count"), ("tasks", "count"),
                    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"),
                    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                    ("max_task_s", "s"), ("driver_gap_s", "s")):
        put(p + k, statistics.median([getattr(s, k) for s in steps]), unit, n)
    put(p + "core_util", statistics.median([s.core_util(cores) for s in steps]),
        "fraction", n)
    put(p + "wall_s_slope", _slope([s.wall_s for s in steps]), "s/step", n)
    put(p + "driver_gap_s_slope", _slope([s.driver_gap_s for s in steps]),
        "s/step", n)
    for ph, v in cr.phases.items():
        put(f"crawl_job.phase.{ph}_s", v, "s", n)

    seed = stats["crawl_job.seed_ingest"]
    for k, unit in (("jobs", "count"), ("tasks", "count"),
                    ("exec_run_s", "s"), ("shuffle_write_mb", "MB"),
                    ("driver_gap_s", "s")):
        put("crawl_job.seed_ingest." + k, getattr(seed, k), unit)

    ck = stats["catalog.checkpoint"]
    put("catalog.checkpoint.exec_run_s", ck.exec_run_s, "s")
    put("catalog.checkpoint.driver_gap_s", ck.driver_gap_s, "s")
    put("catalog.checkpoint.bytes_written_mb", ck.bytes_written_mb, "MB")
    put("catalog.checkpoint.files_written", cr.checkpoint_files, "count")
    put("catalog.resume.load_s", statistics.median(cr.resume_load_s), "s",
        len(cr.resume_load_s))
    put("catalog.resume.first_step_s", statistics.median(cr.resume_step_s),
        "s", len(cr.resume_step_s))
    put("catalog.seen_files", cr.seen_files, "count")
    put("catalog.seen_files_per_step", cr.seen_files / n, "count", n)

    c = cr.counts
    for k in ("succeeded", "failed", "retried", "disregarded"):
        put("fetch." + k, c[k], "count")
    put("fetch.success_frac", c["succeeded"] / max(1, c["processed"]),
        "fraction")
    put("uniq.admitted", c["admitted"], "count")
    put("uniq.admit_per_success", c["admitted"] / max(1, c["succeeded"]),
        "fraction")
    put("warc.export_s", cr.warc_export_s, "s")
    put("warc.records", c["warc_records"], "count")

    import entry  # noqa: PLC0415 — needs the checkout on sys.path
    for q, secs in entry_secs.items():
        put(f"entry.{q}_s", secs, "s")
    put("entry_total_s", sum(entry_secs.values()), "s", len(entry_secs))
    for layer in entry.LAYERS:
        qs = [stats[f"entry.{q}"] for q in entry_secs
              if entry.LAYER_OF.get(q, "spark_sql") == layer]
        put(f"entry.{layer}.wall_s", sum(s.wall_s for s in qs), "s", len(qs))
        put(f"entry.{layer}.exec_run_s", sum(s.exec_run_s for s in qs), "s",
            len(qs))
        put(f"entry.{layer}.driver_gap_s", sum(s.driver_gap_s for s in qs),
            "s", len(qs))

    put("driver.py_rss_mb", rss_mb, "MB")
    put("spark.session_start_s", stats["spark.session_start"].wall_s, "s")
    put("spark.task_failures", log.task_failures, "count")
    put("spark.stage_retries", log.stage_retries, "count")
    put("trace.unattributed_jobs", other.jobs, "count")
    put("trace.overhead_frac", overhead, "fraction")
    put("ops_failed_frac", ops_failed_frac, "fraction")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    log_dir = configure_env(trace)
    sys.path[:0] = [ROOT, HERE]
    from heritrix_spark.session import get_spark  # noqa: PLC0415

    import crawl  # noqa: PLC0415
    import eventlog  # noqa: PLC0415

    cores = available_cores()
    spans = eventlog.SpanRecorder()
    with spans.span("spark.session_start"):
        spark = get_spark("perfbench", cores=cores)
    entry_secs: dict[str, float] = {}
    entry_bad: dict[str, str] = {}
    try:
        cr = crawl.run(spark, args.workload, args.seed, args.seconds, WORK,
                       spans, trace)
        if trace:
            import entry  # noqa: PLC0415
            import entry_inputs  # noqa: PLC0415

            timed = entry_inputs.write(os.path.join(WORK, "inputs"),
                                       args.seed, ENTRY_SF)
            entry_secs, frames, entry_bad = entry.run_timed(spark, timed,
                                                            spans)
    finally:
        stop_spark(spark)

    attempted = cr.attempted
    failed = len(cr.mismatches)
    if trace:
        h = hashlib.sha256(f"{args.seed}:{ENTRY_SF}".encode())
        for src in (os.path.join(ROOT, "__spark_entry__.py"),
                    os.path.join(HERE, "entry_inputs.py")):
            with open(src, "rb") as fh:
                h.update(fh.read())
        oracle = entry.oracle_frames(
            timed, os.path.join(WORK, "cache", "duck-" + h.hexdigest()[:24]))
        entry_bad.update(entry.check(frames, oracle))
        attempted += len(entry_secs)
        failed += len(entry_bad)
    for msg in cr.mismatches + [f"entry {k}: {v}"
                                for k, v in entry_bad.items()]:
        print(f"MISMATCH {msg}", file=sys.stderr)

    secs_per_url = sum(cr.step_s) / sum(cr.step_urls)
    if trace:
        [app_log] = os.listdir(log_dir)
        log = eventlog.read(os.path.join(log_dir, app_log))
        stats, other = eventlog.attribute(log, spans.spans)
        with open(os.path.join(log_dir, "spans.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(spans.to_json(), fh)
        ref = _untraced_ref(args.workload)
        if ref is None:
            print("trace.overhead_frac: no untraced run of this workload "
                  "in this checkout yet; reported as 0", file=sys.stderr)
        overhead = secs_per_url / ref - 1 if ref else 0.0
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        metrics = per_layer(cr, stats, other, log, entry_secs, cores,
                            overhead, failed / attempted, rss_mb)
    else:
        if not failed:
            _record_untraced(args.workload, secs_per_url)
        metrics = end_to_end(cr)

    for name, (value, unit, n) in metrics.items():
        print(f"{name} = {value:.6g} {unit} (n={n})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
