"""monitor_compare: BASELINE then COMPARE over a generated site.

Input: `fixtures.webgraph` pages in the `fixtures.bigweb` shape (all
200 text/html, seeded), and the same pages after a seeded change mix (inputs.MIX): most unchanged, some
text edits, some script-only injections, some defacements. One
operation is the defacement-monitoring cycle, each step written out:
build_baselines -> observe_pages -> compare_observations ->
detect_rules -> baseline_upsert of the changed pages. Check: each
page's changed flag and severity match its mutation, every changed
page's score equals `oracle.scoring.defacement_percentage`, and the
upsert updates exactly the changed pages.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from perfbench.inputs import monitor_web_config as web_config, observe_batches

# pages_per_host <= 20 keeps the generator's fetch-failure modes off;
# with the SPA shell pages dropped every page is a 200 text/html
# content page (the bigweb shape)
HOSTS = 60
PAGES_PER_HOST = 20
STEPS = ("baseline", "observe", "score", "rules", "upsert")
# detect_rules severity by mutation: a script-only injection is the
# script_src_change rule; a text edit keeps the tag sequence
# (content_change); a defacement changes it (dom_change)
RULE_SEVERITY = {"same": "NONE", "script": "HIGH", "text": "MEDIUM", "deface": "MEDIUM"}


def band(score: float) -> str:
    """compare_utils severity bands (functions.html.severity_col)."""
    if score < 5:
        return "LOW"
    if score < 20:
        return "MEDIUM"
    if score < 50:
        return "HIGH"
    return "CRITICAL"


class MonitorCompare:
    """The workload this module describes: setup, op, check."""

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.outputs: list[str] = []
        self.inputs = os.path.join(work, "inputs")

    def prepare(self, spark) -> None:
        """Write the baseline pages and their mutated observations."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from web_crawler_spark.fixtures.webgraph import generate_pages

        pages = generate_pages(web_config(HOSTS, PAGES_PER_HOST, self.seed))
        pages = pages[pages["rendered_html"].isna()]  # drop the SPA shell pages
        base = pd.DataFrame(
            {
                "siteid": pages["host"].str.extract(r"^host(\d+)\.")[0].astype("int32") + 1,
                "url_key": pages["url"],
                "html": pages["html"],
            }
        )
        obs = next(observe_batches(self.seed)(iter([base])))
        self.n_pages = len(base)
        for name, df in (("baseline_pages", base), ("observed_pages", obs)):
            os.makedirs(os.path.join(self.inputs, name))
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False),
                os.path.join(self.inputs, name, "part-0.parquet"),
            )

    def setup(self, spark) -> None:
        """Both page sets cached in the session."""
        self.spark = spark
        self.base_pages = spark.read.parquet(
            os.path.join(self.inputs, "baseline_pages")
        ).cache()
        self.obs_pages = (
            spark.read.parquet(os.path.join(self.inputs, "observed_pages"))
            .drop("kind")
            .cache()
        )
        self.base_pages.count()
        self.obs_pages.count()

    def warmup(self) -> None:
        """One untimed full cycle: a cold cycle costs twice a warm one
        (JIT, code generation, worker start). After a warm-up over a
        few sites the first timed cycle was still slower than the
        next, so the warm-up runs on the same pages as the timed
        cycles."""
        self._cycle("warmup")

    def _cycle(self, tag: str) -> tuple[str, list[float]]:
        from pyspark.sql import functions as F

        from web_crawler_spark.engine.compare import (
            baseline_upsert,
            build_baselines,
            compare_observations,
            detect_rules,
            observe_pages,
        )

        spark, tr = self.spark, self.tracer
        out = os.path.join(self.work, f"out-{tag}")
        base_pages, obs_pages = self.base_pages, self.obs_pages
        keys = ["siteid", "url_key"]
        steps: list[float] = []

        def step(name: str, df, table: str):
            t0 = time.perf_counter()
            with tr.span(f"compare.{name}"):
                df.write.parquet(os.path.join(out, table))
            steps.append((time.perf_counter() - t0) * 1e3)
            return spark.read.parquet(os.path.join(out, table))

        baselines = step("baseline", build_baselines(base_pages), "baselines")
        observed = step("observe", observe_pages(obs_pages), "observed")
        scored = step("score", compare_observations(observed, baselines), "compare")
        step("rules", detect_rules(observed, baselines), "rules")
        changed = observed.join(scored.filter(F.col("changed")).select(*keys), keys, "left_semi")
        merged, actions = baseline_upsert(baselines, changed)
        t0 = time.perf_counter()
        with tr.span("compare.upsert"):
            merged.write.parquet(os.path.join(out, "merged"))
            actions.write.parquet(os.path.join(out, "actions"))
        steps.append((time.perf_counter() - t0) * 1e3)
        return out, steps

    def op(self, i: int) -> dict:
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        out, steps = self._cycle(str(i))
        wall = time.perf_counter() - t0
        self.outputs.append(out)
        pages = self.n_pages
        changed = pq.read_table(os.path.join(out, "compare"), columns=["changed"])
        n_changed = sum(changed.column("changed").to_pylist())
        return {
            "wall_s": wall,
            "items": pages,
            # the five steps differ too much for a median over them to
            # be steady: the step is the cycle's mean step time
            "steps_ms": [wall * 1e3 / len(STEPS)],
            "layer": {
                **{f"compare.{s}_ms": ms for s, ms in zip(STEPS, steps)},
                "compare.scored_rows": n_changed,
                "compare.changed_frac": n_changed / pages,
            },
        }

    def check(self) -> tuple[int, int]:
        keys = ["siteid", "url_key"]
        base = pd.read_parquet(os.path.join(self.inputs, "baseline_pages"))
        want = expected_monitor(
            base, pd.read_parquet(os.path.join(self.inputs, "observed_pages"))
        )
        attempted = failed = 0
        for out in self.outputs:
            got = pd.read_parquet(
                os.path.join(out, "compare"),
                columns=keys + ["changed", "defacement_score", "severity"],
            ).merge(
                pd.read_parquet(os.path.join(out, "rules"), columns=keys + ["severity"]),
                on=keys, suffixes=("", "_rule"),
            )
            actions = dict(
                pd.read_parquet(os.path.join(out, "actions")).itertuples(index=False)
            )
            merged = pd.read_parquet(os.path.join(out, "merged"), columns=keys)
            attempted += len(want)
            failed += monitor_failures(want, got, actions, len(merged))
        return attempted, failed


def expected_monitor(base, obs):
    """Per page: changed flag, score (`oracle.scoring`), severity band
    and detect_rules severity implied by the page's seeded mutation."""
    from web_crawler_spark.oracle.scoring import defacement_percentage

    want = base.merge(obs, on=["siteid", "url_key"], suffixes=("_base", "_obs"))
    changed = want["kind"].isin(["text", "deface"])
    want["changed"] = changed
    want["score"] = 0.0
    want.loc[changed, "score"] = [
        defacement_percentage(b, o)
        for b, o in zip(want.loc[changed, "html_base"], want.loc[changed, "html_obs"])
    ]
    want["severity"] = [band(s) if c else "NONE" for s, c in zip(want["score"], changed)]
    want["rule_severity"] = want["kind"].map(RULE_SEVERITY)
    return want[["siteid", "url_key", "changed", "score", "severity", "rule_severity"]]


def monitor_failures(want, got, actions: dict, n_merged: int) -> int:
    """Pages whose compare or rule output differs from `want`; every
    page fails when a page is missing or the upsert did not update
    exactly the changed pages."""
    if not (
        len(got) == len(want)
        and actions == {"updated": int(want["changed"].sum())}
        and n_merged == len(want)
    ):
        return len(want)
    m = want.merge(got, on=["siteid", "url_key"], how="left", suffixes=("", "_got"))
    bad = (
        (m["changed"] != m["changed_got"])
        | ((m["score"] - m["defacement_score"]).abs() > 1e-9)
        | (m["severity"] != m["severity_got"])
        | (m["rule_severity"] != m["severity_rule"])
    )
    return int(bad.sum())
