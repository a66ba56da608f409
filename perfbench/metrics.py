"""Metric names and units. Every run reports every metric of its kind;
a per-layer metric of a layer the workload never enters reads 0."""

from __future__ import annotations

# queries of the curate workload (queries.QUERIES), in run order.
# curation_pipeline composes the Gopher quality filter, exact dedup,
# domain cap, split and packing in one plan; the approximate tiers
# (minhash and embedding-LSH dedup, LSH top-k) run inside their
# *_recall companions, beside the exact tier each is measured against
# (ngram Jaccard, exact cosine pairs, brute-force top-k), and report
# integer recall against queries.RECALL_FLOORS_BP.
RECALL_QUERIES = (
    "ann_lsh_recall",
    "dedup_minhash_recall",
    "dedup_embedding_lsh_recall",
)
CURATE_QUERIES = (
    "curation_pipeline",
    "pii_scrub",
    *RECALL_QUERIES,
)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "step_ms_p50": "ms",
}

PER_LAYER = {
    # engine.crawl: CrawlStats.per_round sums, state_dir walk
    "crawl.rounds": "count",
    "crawl.urls": "count",
    "crawl.plan_ms": "ms",
    "crawl.seen_commit_ms": "ms",
    "crawl.filters_ms": "ms",
    "crawl.frontier_wait_ms": "ms",
    "crawl.sinks_wait_ms": "ms",
    "crawl.round_ms_p50": "ms",
    "crawl.resume_s": "s",
    "crawl.state_files": "count",
    "crawl.state_bytes": "bytes",
    "crawl.state_bytes_per_url": "bytes",
    # Spark scheduler: status tracker, per measured operation
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_round": "count",
    "spark.launch_s": "s",
    # operators.fetch: the benchmark fetcher's own counters
    "fetch.calls": "count",
    "fetch.rows": "count",
    "fetch.busy_ms": "ms",
    "fetch.refetch_ratio": "ratio",
    # largest crawl round replayed through each layer's public function
    "politeness.dequeue_ms": "ms",
    "ranking.rank_ms": "ms",
    "fetch.fetch_parse_ms": "ms",
    "urls.normalize_ms": "ms",
    "ranking.first_wins_ms": "ms",
    "seen.bloom_build_ms": "ms",
    "seen.anti_join_ms": "ms",
    "seen.maybe_frac": "ratio",
    "seen.new_frac": "ratio",
    "replay.round_rows": "count",
    # plan-build time of the layer functions engine.crawl calls
    "politeness.plan_ms": "ms",
    "ranking.plan_ms": "ms",
    "seen.plan_ms": "ms",
    "fetch.plan_ms": "ms",
    # engine.compare + functions.html, each call materialized on its own
    "compare.baseline_ms": "ms",
    "compare.observe_ms": "ms",
    "compare.score_ms": "ms",
    "compare.rules_ms": "ms",
    "compare.upsert_ms": "ms",
    "compare.scored_rows": "count",
    "compare.changed_frac": "ratio",
    # queries / operators.dedup / similarity / lsh_plan / functions.text
    **{f"curate.{q}_ms": "ms" for q in CURATE_QUERIES},
    "lsh_plan.ms": "ms",
    **{f"curate.{q[:-len('_recall')]}_recall": "ratio" for q in RECALL_QUERIES},
    # the whole process tree: the benchmark, its JVM and Python workers
    "mem.peak_rss_mb": "MB",
    # the traced run itself
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

# counts that must repeat exactly for a given seed
EXACT_COUNTS = (
    "crawl.rounds",
    "crawl.urls",
    "fetch.rows",
    "fetch.refetch_ratio",
    "replay.round_rows",
    "compare.scored_rows",
    "compare.changed_frac",
    *(f"curate.{q[:-len('_recall')]}_recall" for q in RECALL_QUERIES),
)
