"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/tests -q -m 'not slow'   # fast checks
    python3 -m pytest perfbench/tests -q -m slow         # full traced runs

The fast tests need no Spark session: seeded inputs repeat, metric
names are well formed and match BENCHMARK.json, and every output check
rejects a deliberately corrupted result.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, metrics  # noqa: E402
from perfbench.wl_crawl import (  # noqa: E402
    PAGES_PER_HOST,
    ROUNDS,
    crawl_failures,
    expected_crawl,
)
from perfbench.wl_curate import canon_rows  # noqa: E402
from perfbench.wl_monitor import band, expected_monitor, monitor_failures  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# -- seeded inputs ------------------------------------------------------------


def test_same_seed_same_inputs():
    from web_crawler_spark.fixtures.webgraph import generate_pages

    for seed in (1, 7):
        pd.testing.assert_frame_equal(
            generate_pages(inputs.web_config(3, 24, seed)),
            generate_pages(inputs.web_config(3, 24, seed)),
        )
        urls = [f"https://host0.example.test/p{j}" for j in range(200)]
        assert [inputs.mutation(seed, u) for u in urls] == [
            inputs.mutation(seed, u) for u in urls
        ]
    assert [inputs.mutation(1, u) for u in urls] != [inputs.mutation(2, u) for u in urls]


def test_change_mix_covers_every_mutation():
    kinds = {inputs.mutation(3, f"https://h/p{j}") for j in range(2000)}
    assert kinds == {"same", "text", "script", "deface"}


def test_curate_corpus_is_the_calibration_corpus():
    import pyarrow.parquet as pq

    from perfbench.wl_curate import CORPUS, N_DOCS, N_VECS

    assert pq.read_metadata(os.path.join(CORPUS, "documents.parquet")).num_rows == N_DOCS
    assert pq.read_metadata(os.path.join(CORPUS, "embeddings.parquet")).num_rows == N_VECS


# -- metric names and BENCHMARK.json ------------------------------------------


def test_metric_names():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert set(metrics.EXACT_COUNTS) <= set(metrics.PER_LAYER)
    assert len(metrics.PER_LAYER) <= 128


def test_benchmark_json_matches_code():
    from perfbench.run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


# -- output checks reject corrupted results -------------------------------------


@pytest.fixture(scope="module")
def crawl_truth():
    """A correct crawl result built from the reference itself, on the
    workload's own web, start pages and depth (fewer hosts)."""
    from web_crawler_spark.fixtures.webgraph import generate_pages

    pages = generate_pages(inputs.web_config(48, PAGES_PER_HOST, 4))
    expected = expected_crawl(pages, inputs.crawl_sites(48, 4), ROUNDS)
    log, seen, ord_ = [], [], 0
    for sid, (order, seen_set, status) in expected.items():
        for u in order:
            ord_ += 1
            log.append({"siteid": sid, "url_key": u, "visit_ord": ord_,
                        "status_code": status[u]})
        seen += [{"siteid": sid, "url_key": u} for u in seen_set]
    return expected, pd.DataFrame(log), pd.DataFrame(seen)


def test_crawl_check_accepts_reference(crawl_truth):
    expected, log, seen = crawl_truth
    attempted, failed = crawl_failures(expected, log, seen, len(log))
    assert attempted == len(log) > 10 and failed == 0


def test_crawl_check_is_not_vacuous(crawl_truth):
    """At the workload's depth the reference visits every fetch outcome
    of the generator, most of it in the round after the kill."""
    expected, log, _ = crawl_truth
    assert {200, 404, 429, 500} <= set(log["status_code"])
    paths = {u.split(".test", 1)[1] for u in log["url_key"]}
    # SPA page, application/json, image/png, 429 once then 200
    assert {"/p3", "/p5", "/p7", "/p22"} <= paths
    assert log["url_key"].str.startswith("https://www.").any()
    assert sum(len(order) > 1 for order, _, _ in expected.values()) > len(expected) / 2


@pytest.mark.parametrize("pair", [(0, 1), (1, 2)])  # across the kill; within round 2
def test_crawl_check_rejects_swapped_visits(crawl_truth, pair):
    expected, log, seen = crawl_truth
    bad = log.copy()
    i, j = bad.index[pair[0]], bad.index[pair[1]]
    assert bad.loc[i, "siteid"] == bad.loc[j, "siteid"]
    bad.loc[[i, j], "visit_ord"] = bad.loc[[j, i], "visit_ord"].to_numpy()
    assert crawl_failures(expected, bad, seen, len(log)) == (len(log), len(log))


def test_crawl_check_rejects_seen_set_and_refetch(crawl_truth):
    expected, log, seen = crawl_truth
    assert crawl_failures(expected, log, seen.iloc[1:], len(log))[1] == len(log)
    assert crawl_failures(expected, log, seen, len(log) + 1)[1] == len(log)


def test_crawl_check_counts_wrong_status(crawl_truth):
    expected, log, seen = crawl_truth
    bad = log.copy()
    bad.loc[bad.index[0], "status_code"] = 500
    assert crawl_failures(expected, bad, seen, len(log))[1] == 1


@pytest.fixture(scope="module")
def monitor_truth():
    from web_crawler_spark.fixtures.webgraph import generate_pages

    pages = generate_pages(inputs.web_config(2, 60, 3))
    base = pd.DataFrame({"siteid": 1, "url_key": pages["url"], "html": pages["html"]})
    run = inputs.observe_batches(3)
    obs = next(run(iter([base])))
    want = expected_monitor(base, obs)
    got = want.rename(columns={"score": "defacement_score"}).assign(
        severity_rule=want["rule_severity"]
    )[["siteid", "url_key", "changed", "defacement_score", "severity", "severity_rule"]]
    actions = {"updated": int(want["changed"].sum())}
    return want, got, actions


def test_monitor_check_accepts_expected(monitor_truth):
    want, got, actions = monitor_truth
    assert want["changed"].any() and not want["changed"].all()
    assert monitor_failures(want, got, actions, len(want)) == 0


def test_monitor_check_rejects_flipped_flag(monitor_truth):
    want, got, actions = monitor_truth
    bad = got.copy()
    bad.loc[bad.index[0], "changed"] = not bad.loc[bad.index[0], "changed"]
    assert monitor_failures(want, bad, actions, len(want)) == 1


def test_monitor_check_rejects_wrong_score_and_upsert(monitor_truth):
    want, got, actions = monitor_truth
    bad = got.copy()
    i = bad.index[bad["changed"]][0]
    bad.loc[i, "defacement_score"] += 0.5
    assert monitor_failures(want, bad, actions, len(want)) == 1
    assert monitor_failures(want, got, {"updated": 1, "created": 1}, len(want)) == len(want)


def test_severity_bands():
    assert [band(s) for s in (0, 4.99, 5, 19.9, 20, 49.9, 50, 100)] == [
        "LOW", "LOW", "MEDIUM", "MEDIUM", "HIGH", "HIGH", "CRITICAL", "CRITICAL"
    ]


def test_curate_canon_detects_corruption():
    rows = [{"doc_id": 1, "score": 0.25, "tags": [1, 2]}, {"doc_id": 2, "score": 0.5, "tags": []}]
    same = [dict(reversed(list(r.items()))) for r in reversed(rows)]
    assert canon_rows(rows) == canon_rows(same)
    assert canon_rows(rows) != canon_rows([rows[0], {**rows[1], "score": 0.5000001}])
    assert canon_rows(rows) != canon_rows(rows[:1])


# -- whole runs (slow) ---------------------------------------------------------


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["crawl_bulk", "monitor_compare"])
def test_same_seed_same_counts(workload):
    a, b = _run(workload, 11, 1), _run(workload, 11, 1)
    assert a["correct"] and b["correct"]
    for name in metrics.EXACT_COUNTS:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name


def test_missing_program_fails(tmp_path):
    """Without the package beside it the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_bulk", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and '"correct"' not in out.stdout
