"""The benchmark's crawl fetcher: a `FetchFn` (operators/fetch.py
contract) that serves the seeded synthetic web from inside executor
tasks and answers unknown URLs with 404.

`write_table` stores the generated web's responses, keyed by URL, in a
file before the timed region; the closure carries only its path. Each
Python worker process loads the table once, on its first call, and
appends one line per call (rows, busy time) to
`<stats_dir>/<pid>.jsonl`, which the benchmark reads back to count
fetch calls, rows and busy time.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd

COLS = [
    "status_code", "content_type", "html", "rendered_html",
    "first_attempts_429", "response_time_ms", "content_length",
]

# page tables already loaded in this worker process, by path
_TABLES: dict[str, pd.DataFrame] = {}


def write_table(pages: pd.DataFrame, path: str) -> None:
    """The fetcher's table of `pages` (a `fixtures.webgraph` frame)."""
    pages.set_index("url")[COLS].to_pickle(path)


def _table(path: str) -> pd.DataFrame:
    if path not in _TABLES:
        _TABLES[path] = pd.read_pickle(path)
    return _TABLES[path]


def make_fetcher(table_path: str, stats_dir: str):
    def fetch(req: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        table = _table(table_path)
        keys = req["url_key"]
        known = keys.isin(table.index)
        res = table.loc[keys[known]].reset_index(drop=True)
        res.insert(0, "url_key", keys[known].to_numpy())
        missing = pd.DataFrame(
            {
                "url_key": keys[~known].to_numpy(),
                "status_code": 404,
                "content_type": "text/html",
                "html": None,
                "rendered_html": None,
                "first_attempts_429": 0,
                "response_time_ms": 10,
                "content_length": 0,
            }
        )
        out = pd.concat([res, missing], ignore_index=True)
        busy_ms = (time.perf_counter() - t0) * 1e3
        with open(os.path.join(stats_dir, f"{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps({"rows": len(req), "busy_ms": busy_ms}) + "\n")
        return out

    return fetch


def read_stats(stats_dir: str) -> dict[str, float]:
    """Fetch calls, rows and busy time summed over every worker."""
    calls = rows = 0
    busy = 0.0
    for name in os.listdir(stats_dir):
        with open(os.path.join(stats_dir, name)) as f:
            for line in f:
                r = json.loads(line)
                calls += 1
                rows += r["rows"]
                busy += r["busy_ms"]
    return {"calls": calls, "rows": rows, "busy_ms": busy}
