"""Entry suite: every ``__spark_entry__.queries()`` query, fully
materialized and checked against its DuckDB ``oracle_sql()``.

Each timed query is collected to the driver (``toPandas``), so every
operator in its plan runs; a ``count()`` would let Spark prune the plan to
a bare scan.  The collected frame is what the DuckDB comparison reads.
"""

from __future__ import annotations

import glob
import os
import time

import duckdb
import pandas as pd

import __spark_entry__ as E
from tools.check_correctness import TABLES, compare

# Engine layer each entry query exercises (the highest layer it imports:
# plans > pipeline > operators > functions).  Queries that call no engine
# module run Spark SQL only.
LAYER_OF = {
    "frontier_schedule": "operators", "seen_anti_join": "operators",
    "budget_sums": "spark_sql", "priority_topk": "spark_sql",
    "host_dim_join": "spark_sql", "politeness_window": "spark_sql",
    "running_expenditure": "spark_sql", "set_except": "spark_sql",
    "quota_enforcer": "spark_sql", "sessionize": "spark_sql",
    "hop_type_counts": "spark_sql", "first_arrival_dedup": "operators",
    "queue_assign_surt": "operators", "quota_bytes_window": "spark_sql",
    "extract_html": "operators", "extract_css": "operators",
    "extract_js": "operators", "extract_xml": "operators",
    "extract_uri": "operators", "extract_implied": "operators",
    "revisit_schedule": "plans", "canonicalize": "functions",
    "surt": "functions", "class_key": "functions",
    "host_settings": "spark_sql", "cost_policies": "functions",
    "hop_path_ops": "functions", "scope_fold": "operators",
    "postfetch_gates": "operators", "robots_match": "operators",
    "dedup_exact": "pipeline", "dedup_drop": "pipeline",
    "minhash_signatures": "pipeline", "lsh_pairs": "pipeline",
    "ngram_jaccard": "pipeline", "simhash": "pipeline",
    "ngram_fingerprint": "pipeline", "token_stats": "pipeline",
    "lang_id": "pipeline", "audio_probe": "pipeline",
    "video_frame_sample": "pipeline", "knn_brute": "pipeline",
    "embedding_neardup": "pipeline", "label_centroids_topk": "pipeline",
}
LAYERS = ("functions", "operators", "pipeline", "plans", "spark_sql")


def run_timed(spark, sf_dir: str, spans) -> tuple[dict[str, float],
                                                  dict[str, pd.DataFrame],
                                                  dict[str, str]]:
    """Time every query to a full collect.  Returns seconds per query, the
    collected frames, and the error text of every query that raised."""
    secs: dict[str, float] = {}
    frames: dict[str, pd.DataFrame] = {}
    errors: dict[str, str] = {}
    for name, fn in E.queries().items():
        t0 = time.perf_counter()
        try:
            with spans.span(f"entry.{name}"):
                frames[name] = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            errors[name] = f"{type(exc).__name__}: {exc}"
        secs[name] = time.perf_counter() - t0
    return secs, frames, errors


def _duck(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def oracle_frames(sf_dir: str, cache_dir: str) -> dict[str, pd.DataFrame]:
    """DuckDB results of every ``oracle_sql()`` query, cached as parquet in
    ``cache_dir`` (keyed by the caller on the inputs and sources)."""
    done = os.path.join(cache_dir, "_done")
    if not os.path.exists(done):
        os.makedirs(cache_dir, exist_ok=True)
        for name, sql in E.oracle_sql().items():
            _duck(sf_dir, sql).to_parquet(
                os.path.join(cache_dir, f"{name}.parquet"), index=False)
        with open(done, "w", encoding="utf-8") as fh:
            fh.write("ok\n")
    # Always compare against the parquet copy, so a cached run and a fresh
    # one see identical frames.
    return {os.path.basename(p)[:-len(".parquet")]: pd.read_parquet(p)
            for p in glob.glob(os.path.join(cache_dir, "*.parquet"))}


def check(frames: dict[str, pd.DataFrame],
          oracle: dict[str, pd.DataFrame]) -> dict[str, str]:
    """Mismatch text per query whose collected frame differs from DuckDB
    (a query with no oracle SQL is a mismatch: the suite claims one)."""
    bad: dict[str, str] = {}
    for name, got in frames.items():
        want = oracle.get(name)
        err = ("no oracle_sql() entry" if want is None
               else compare(got, want))
        if err is not None:
            bad[name] = err
    return bad
