#!/usr/bin/env python
"""Build-time job audit over every registered query.

Builds each query's DataFrame under its own Spark job group and runs no
action, then counts the jobs the group started. A lazy query starts 0:
its work runs when the caller's action runs. A query that collects,
counts or caches while it is built starts jobs at build time, and that
work falls outside the caller's action (it cannot be timed, retried or
attributed there, and a streaming pipeline repeats it per micro-batch).

Every table of ``sf_dir`` is read once before the audit, so a table's
first schema read is not charged to the query that happens to read it
first.

Usage: python tools/eager_audit.py [sf_dir] [query-prefix ...]
(sf_dir defaults to ``session.DEFAULT_SF_DIR``, the sf0.001 tables.)
Prints each audited query's build-time job count and the total. Exit
code = number of queries that start jobs at build time and are not in
ALLOWED, plus the number of ALLOWED queries that start none.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CLUSTERS = (
    "dedup.duplicate_clusters: iterative min-label propagation, one "
    "count and checkpoint per round until no label changes"
)
_TRAIN = "similarity.train_centroids: one count and one bounded sample collect"
_FIXTURE = "spark.read.parquet of a test fixture: a schema-read job per build"

#: name -> why the query may start Spark jobs while it is built. Each
#: entry is work that ROADMAP direction 2 has not yet moved into the
#: plan, or an iterative algorithm that keeps its driver loop.
ALLOWED: dict[str, str] = {
    "analytics_rfm": "rfm_segments: quintile thresholds collected as literals",
    "basket_rules": "basket_rules: distinct order count for support",
    "bpe_merges": "train_bpe_distributed: one driver round per merge",
    "decontam_bloom": "bloom_build: filter bits collected and broadcast",
    "dedup_cluster_exact": _CLUSTERS,
    "dedup_clusters": _CLUSTERS,
    "dedup_keep_best": _CLUSTERS,
    "extract_html_fixture": _FIXTURE,
    "fuzzy_fs_clusters": _CLUSTERS,
    "langid_fixture_predict": _FIXTURE + "; langid profile scalars collected",
    "langid_predict": "langid._profile_scalars: profile totals collected",
    "langid_score": "langid._profile_scalars: profile totals collected",
    "mm_audio_fingerprint": _FIXTURE,
    "mm_audio_neardup": _FIXTURE,
    "mm_image_clusters": _FIXTURE + "; " + _CLUSTERS,
    "mm_image_dhash": _FIXTURE,
    "mm_image_neardup": _FIXTURE,
    "mm_image_neardup_phash": _FIXTURE,
    "mm_image_phash": _FIXTURE,
    "mojibake_fixture": _FIXTURE,
    "sim_embedding_drift": "embedding_drift: both frame sizes counted",
    "sim_ivf_topk": _TRAIN,
    "sim_ivfpq_topk": _TRAIN + "; query vector read with first()",
    "sim_kmeans_clusters": _TRAIN + "; k from a distinct label count",
    "sim_pq_topk": _TRAIN + "; query vector read with first()",
    "sim_semantic_dedup": _TRAIN,
    "text_collocations": "collocations: pair total collected",
    "text_cooccurrence_pmi": "cooccurrence_pmi: pair total collected",
    "text_nfc_fixture": _FIXTURE,
}


def warm_tables(spark, sf_dir: str) -> None:
    """Read every table once, so its schema read is not audited."""
    from event_pipeline_spark.session import read_table

    for fname in sorted(os.listdir(sf_dir)):
        name, _ = os.path.splitext(fname)
        try:
            read_table(spark, sf_dir, name)
        except FileNotFoundError:
            continue


def build_jobs(spark, name: str, fn, sf_dir: str) -> int:
    """Spark jobs started while ``fn`` builds its DataFrame."""
    sc = spark.sparkContext
    group = f"eager-audit-{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, sf_dir)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)


def audit(spark, sf_dir: str, prefixes=()) -> dict[str, int]:
    """{query: build-time job count} for every registered query whose
    name starts with one of ``prefixes`` (all queries when empty)."""
    from event_pipeline_spark.registry import all_queries

    warm_tables(spark, sf_dir)
    return {
        name: build_jobs(spark, name, fn, sf_dir)
        for name, fn in sorted(all_queries().items())
        if not prefixes or name.startswith(tuple(prefixes))
    }


def unexplained(counts: dict[str, int]) -> list[str]:
    return [n for n, jobs in counts.items() if jobs and n not in ALLOWED]


def stale(counts: dict[str, int]) -> list[str]:
    """Allowed queries that were audited and started no job: their
    allowance is no longer needed."""
    return [n for n in ALLOWED if counts.get(n) == 0]


def main() -> int:
    from event_pipeline_spark.session import DEFAULT_SF_DIR, get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    counts = audit(get_session("eager_audit"), sf_dir, sys.argv[2:])
    for name, jobs in counts.items():
        if jobs and name not in ALLOWED:
            tag = "BAD "
        elif jobs:
            tag = "allw"
        elif name in ALLOWED:
            tag = "stal"  # allowed but now lazy: drop the entry
        else:
            tag = "ok  "
        print(f"[{tag}] {name}: {jobs}")
    eager = {n: j for n, j in counts.items() if j}
    print(
        f"\n{sum(eager.values())} build-time jobs in {len(eager)} of "
        f"{len(counts)} queries"
    )
    bad, unneeded = unexplained(counts), stale(counts)
    print(f"{len(bad)} eager queries not in ALLOWED")
    print(f"{len(unneeded)} allowances no longer needed")
    return len(bad) + len(unneeded)


if __name__ == "__main__":
    raise SystemExit(main())
