"""crawl_bulk: a CrawlEngine crawl through the production fetch seam,
killed after its first round and resumed by a fresh engine.

Input: the reference-parity web (`fixtures.webgraph`, every failure
mode, www alias, SPA page) on HOSTS hosts, one site per host starting
at a seeded page (`inputs.START_PAGES`), served by the benchmark's own
fetcher. Engine A runs round 1 (the seeds) and is dropped; engine B is
built from nothing but the durable snapshots and resumes to ROUNDS, so
round 2 (the next BFS layer: SPA links, json/png pages, 404, 500, 429
and the www alias) runs after the kill. Check: per site, visit order
and seen set equal `oracle.bfs.crawl_oracle` cut at the same depth,
every visited URL has the expected fetch status, and every visit was
fetched exactly once (fetch rows / visits == 1).
"""

from __future__ import annotations

import os
import time

import pandas as pd

from perfbench.harness import cores, dir_usage, materialize, median
from perfbench.inputs import crawl_sites, web_config

# round 1 carries HOSTS rows, round 2 about 2.6 x HOSTS
HOSTS = 1024
PAGES_PER_HOST = 24  # > 20: the generator's failure modes are on
KILL_AFTER = 1  # engine A's max_rounds
ROUNDS = 2  # engine B resumes to this cap

# engine.crawl imports these layer functions by name; traced runs wrap
# them there to time plan building per layer
PLAN_HOOKS = {
    "dequeue_batch": "politeness",
    "with_global_rank": "ranking",
    "first_wins": "ranking",
    "anti_join_seen": "seen",
}


class CrawlBulk:
    """The workload this module describes: setup, op, check."""

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.runs: list[dict] = []

    # -- set-up ------------------------------------------------------------
    def prepare(self, spark) -> None:
        """Generate the web once, before anything is timed: the
        fetcher's page table (a file the Python workers load) and the
        pages the reference crawl of the check reads."""
        from web_crawler_spark.fixtures.webgraph import generate_pages

        from perfbench.fetcher import write_table

        self.web = generate_pages(web_config(HOSTS, PAGES_PER_HOST, self.seed))
        self.table = os.path.join(self.work, "pages.pkl")
        write_table(self.web, self.table)

    def setup(self, spark) -> None:
        from web_crawler_spark.fixtures.webgraph import generate_pages

        self.spark = spark
        self.sites = spark.createDataFrame(crawl_sites(HOSTS, self.seed))
        # the fetch seam ignores the pages table; the engine needs its schema
        self.pages = spark.createDataFrame(
            generate_pages(web_config(1, 1, self.seed))
        )
        self.sites.count()

    def warmup(self) -> None:
        """None: a fetch-seam round costs as much as the measured ones,
        so every run measures the same first (cold) crawl."""

    # -- the measured operation ----------------------------------------------
    def _engine(self, state: str, max_rounds: int, fetch_dir: str):
        from web_crawler_spark.engine import CrawlConfig, CrawlEngine

        from perfbench.fetcher import make_fetcher

        return CrawlEngine(
            self.spark,
            self.pages,
            self.sites,
            config=CrawlConfig(state_dir=state, max_rounds=max_rounds),
            fetcher=make_fetcher(self.table, fetch_dir),
        )

    def op(self, i: int) -> dict:
        from perfbench.fetcher import read_stats

        state = os.path.join(self.work, f"crawl{i}")
        fetch_dir = os.path.join(self.work, f"fetch{i}")
        os.makedirs(fetch_dir)
        t0 = time.perf_counter()
        with self.tracer.span("crawl.run"):
            a = self._engine(state, KILL_AFTER, fetch_dir).run(fresh=True)
        t1 = time.perf_counter()
        eng = self._engine(state, ROUNDS, fetch_dir)
        with self.tracer.span("crawl.resume"):
            b = eng.resume()
        t2 = time.perf_counter()

        per_round = a.per_round + b.per_round
        visits = b.total_visits
        files, size = dir_usage(state)
        fetch = read_stats(fetch_dir)
        self.runs.append(
            {"visits": visits, "fetch_rows": fetch["rows"], "state": state,
             "per_round": per_round}
        )

        def total(key: str) -> float:
            return sum(r[key] for r in per_round)

        return {
            "wall_s": t2 - t0,
            "items": visits,
            "steps_ms": [r["ms_round"] for r in per_round],
            "layer": {
                "crawl.rounds": len(per_round),
                "crawl.plan_ms": total("ms_plan"),
                "crawl.seen_commit_ms": total("ms_seen_commit"),
                "crawl.filters_ms": total("ms_filters"),
                "crawl.frontier_wait_ms": total("ms_frontier_wait"),
                "crawl.sinks_wait_ms": total("ms_sinks_wait"),
                "crawl.round_ms_p50": median([r["ms_round"] for r in per_round]),
                "crawl.resume_s": (t2 - t1) - sum(r["ms_round"] for r in b.per_round) / 1e3,
                "crawl.state_files": files,
                "crawl.state_bytes": size,
                "crawl.state_bytes_per_url": size / max(visits, 1),
                "crawl.urls": visits,
                "fetch.calls": fetch["calls"],
                "fetch.rows": fetch["rows"],
                "fetch.busy_ms": fetch["busy_ms"],
                "fetch.refetch_ratio": fetch["rows"] / max(visits, 1),
            },
        }

    # -- output check (outside the timed region) -----------------------------
    def check(self) -> tuple[int, int]:
        expected = expected_crawl(
            self.web, crawl_sites(HOSTS, self.seed), ROUNDS, cores()
        )
        attempted = failed = 0
        for run in self.runs:
            # round=<r> directories hold whole snapshots, not hive partitions
            log = pd.read_parquet(
                os.path.join(run["state"], "fetch_log"), partitioning=None,
                columns=["siteid", "url_key", "visit_ord", "status_code"],
            )
            seen = pd.read_parquet(
                os.path.join(run["state"], "seen"), partitioning=None,
                columns=["siteid", "url_key"],
            )
            n, bad = crawl_failures(expected, log, seen, run["fetch_rows"])
            attempted += n
            failed += bad
        return attempted, failed

    # -- traced run only -----------------------------------------------------
    def hooks(self):
        """Wrap the layer functions engine.crawl calls: each call's
        time (plan building; the functions are lazy) becomes a
        `<layer>.plan` span."""
        import web_crawler_spark.engine.crawl as crawl_mod
        import web_crawler_spark.operators.fetch as fetch_mod

        saved = []

        def wrap(mod, name, layer):
            fn = getattr(mod, name)

            def timed(*a, **kw):
                with self.tracer.span(f"{layer}.plan"):
                    return fn(*a, **kw)

            saved.append((mod, name, fn))
            setattr(mod, name, timed)

        for name, layer in PLAN_HOOKS.items():
            wrap(crawl_mod, name, layer)
        wrap(fetch_mod, "fetch_parse_with_callback", "fetch")

        def restore():
            for mod, name, fn in saved:
                setattr(mod, name, fn)

        return restore

    def extra(self) -> dict[str, float]:
        """Replay the largest round from its frontier snapshot through
        each layer's public function, each materialized on its own."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from web_crawler_spark.engine import CrawlConfig
        from web_crawler_spark.functions.html import outlink_spans_col
        from web_crawler_spark.functions.urls import (
            classify_block_col,
            normalize_url_udf,
            registrable_host_col,
        )
        from web_crawler_spark.operators.fetch import fetch_parse_with_callback
        from web_crawler_spark.operators.politeness import dequeue_batch
        from web_crawler_spark.operators.ranking import first_wins, with_global_rank
        from web_crawler_spark.operators.seen import BroadcastBloom, anti_join_seen

        from perfbench.fetcher import make_fetcher

        run = self.runs[-1]
        big = max(run["per_round"], key=lambda r: r["visited"])["round"]
        frontier_dir = os.path.join(run["state"], "frontier", f"round={big - 1}")
        defaults = CrawlConfig(state_dir=run["state"])
        fetch_dir = os.path.join(self.work, "fetch_replay")
        os.makedirs(fetch_dir)
        spark, tr, out = self.spark, self.tracer, {}
        keep = []

        def timed(name: str, df, persist: bool = True):
            if persist:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                keep.append(df)
            t0 = time.perf_counter()
            with tr.span(name):
                materialize(df)
            out[f"{name}_ms"] = (time.perf_counter() - t0) * 1e3
            return df

        frontier = spark.read.parquet(frontier_dir)
        batch, _ = dequeue_batch(frontier, defaults.max_per_host_round)
        batch = timed("politeness.dequeue", batch)
        ranked = timed(
            "ranking.rank",
            with_global_rank(batch, ["depth", "parent_ord", "link_idx", "url_key"],
                             out="visit_ord"),
        )
        fetched = timed(
            "fetch.fetch_parse",
            fetch_parse_with_callback(
                ranked,
                make_fetcher(self.table, fetch_dir),
                defaults.num_host_buckets,
            ),
        )
        links = (
            fetched.select(
                "siteid",
                F.col("url_key").alias("parent_key"),
                F.col("visit_ord").alias("parent_ord"),
                (F.col("depth") + 1).alias("depth"),
                F.posexplode(
                    outlink_spans_col(F.col("spans"), registrable_host_col(F.col("url_key")))
                ).alias("link_idx", "span"),
            )
            .withColumn("u", F.col("span.media_ref"))
            .drop("span")
            .filter(classify_block_col(F.col("u")).isNull())
        )
        normalized = timed(
            "urls.normalize", links.withColumn("url_key", normalize_url_udf(F.col("u")))
        )
        cands = timed(
            "ranking.first_wins",
            first_wins(normalized, ["siteid", "url_key"], ["depth", "parent_ord", "link_idx"]),
        )
        # the seen set as the round found it: the deltas of earlier rounds
        seen_dir = os.path.join(run["state"], "seen")
        seen = (
            spark.read.option("basePath", seen_dir)
            .parquet(*[os.path.join(seen_dir, f"round={r}") for r in range(big)])
            .select("siteid", "url_key")
        )
        t0 = time.perf_counter()
        with tr.span("seen.bloom_build"):
            bloom = BroadcastBloom.empty(defaults.bloom_expected, defaults.bloom_fpp)
            bloom.add_keys(seen, "url_key")
        out["seen.bloom_build_ms"] = (time.perf_counter() - t0) * 1e3
        new = timed("seen.anti_join", anti_join_seen(cands, seen, ["siteid", "url_key"], bloom))

        n_cands = cands.count()
        maybe = cands.select(*BroadcastBloom.hash_cols("url_key")).filter(
            bloom.maybe_seen_udf()(F.col("_bh1"), F.col("_bh2"))
        ).count()
        out["seen.maybe_frac"] = maybe / max(n_cands, 1)
        out["seen.new_frac"] = new.count() / max(n_cands, 1)
        out["replay.round_rows"] = float(batch.count())
        for df in keep:
            df.unpersist()
        return out


# the page table the oracle workers read (set before they fork)
_ORACLE_PAGES: dict = {}


def _site_oracle(task: tuple[int, str, int]):
    """(siteid, visit order, seen set, fetch status by url) of one site."""
    from web_crawler_spark.oracle.bfs import MAX_RETRIES_429, crawl_oracle
    from web_crawler_spark.oracle.semantics import normalize_fetch_url

    siteid, url, rounds = task
    pages = _ORACLE_PAGES

    def status(u: str) -> int:
        p = pages.get(u)
        if p is None:
            return 404  # the benchmark fetcher's answer for unknown URLs
        return 429 if p.first_attempts_429 > MAX_RETRIES_429 else p.status_code

    res = crawl_oracle(pages, normalize_fetch_url(url), max_depth=rounds)
    order = [u for u, d, _ in res.visit_order if d < rounds]
    return siteid, order, res.seen, {u: status(u) for u in order}


def expected_crawl(pages: pd.DataFrame, sites: pd.DataFrame, rounds: int,
                   workers: int = 1):
    """siteid -> (visit order, seen set, fetch status by url) from the
    pure-Python reference crawl of `pages` (a `fixtures.webgraph`
    frame) from each enabled site of `sites`, cut after `rounds` BFS
    layers (the engine's round is a depth layer without a politeness
    cap). `workers` > 1 runs the sites in that many forked processes
    and waits for them to exit."""
    import multiprocessing

    from web_crawler_spark.fixtures.webgraph import pages_as_oracle_dict

    _ORACLE_PAGES.clear()
    _ORACLE_PAGES.update(pages_as_oracle_dict(pages))
    tasks = [(s.siteid, s.url, rounds) for s in sites.itertuples() if s.enabled]
    if workers <= 1:
        results = map(_site_oracle, tasks)
    else:
        pool = multiprocessing.get_context("fork").Pool(workers)
        try:
            results = pool.map(_site_oracle, tasks, chunksize=32)
        finally:
            pool.close()
            pool.join()
    return {sid: (order, seen, status) for sid, order, seen, status in results}


def crawl_failures(expected, log, seen, fetch_rows: int) -> tuple[int, int]:
    """(attempted, failed) URLs of one crawl. `log` holds the fetch log
    (siteid, url_key, visit_ord, status_code), `seen` the seen set
    (siteid, url_key). A URL fails when its fetch status differs from
    the reference; every URL fails when any site's visit order or seen
    set differs, or when a visit was fetched other than exactly once."""
    attempted = sum(len(order) for order, _, _ in expected.values())
    log = log.sort_values("visit_ord")
    got_order = log.groupby("siteid")["url_key"].apply(list).to_dict()
    got_seen = seen.groupby("siteid")["url_key"].apply(set).to_dict()
    same = (
        fetch_rows == len(log)
        and set(got_order) == set(expected)
        and all(
            got_order[k] == order and got_seen.get(k) == seen_set
            for k, (order, seen_set, _) in expected.items()
        )
    )
    if not same:
        return attempted, attempted
    return attempted, sum(
        expected[r.siteid][2].get(r.url_key) != r.status_code
        for r in log.itertuples()
    )
