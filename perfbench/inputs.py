"""Seeded input generators. The same seed gives the same inputs; the
program only ever sees what these functions produce."""

from __future__ import annotations

import zlib

import pandas as pd


# ---------------------------------------------------------------------------
# crawl: the reference-parity web (every failure mode, www alias, SPA page)
# ---------------------------------------------------------------------------


def web_config(hosts: int, pages_per_host: int, seed: int):
    from web_crawler_spark.fixtures.webgraph import WebGraphConfig

    return WebGraphConfig(hosts=hosts, pages_per_host=pages_per_host, seed=seed)


def monitor_web_config(hosts: int, pages_per_host: int, seed: int):
    """The same generator without the www-alias mirror."""
    from web_crawler_spark.fixtures.webgraph import WebGraphConfig

    return WebGraphConfig(
        hosts=hosts, pages_per_host=pages_per_host, seed=seed, www_alias_host0=False
    )


# Start page of a site, by crc32(seed|host) % len. On a 24-page host
# (pages link to 2j+1, 2j+2, (7j+3) % 24 and /) the first two BFS layers
# from these pages reach every fetch outcome of the generator:
START_PAGES = (
    "/",  # p1, p2, p3 (SPA shell, links only in rendered_html)
    "/p2",  # p5 (application/json), p6, p17
    "/p3",  # the SPA page itself; p7 (image/png), p8, /
    "/p6",  # p13 (500), p14, p21 (429 three times: fails)
    "/p10",  # p21, p22 (429 once, then 200), p1
    "/p11",  # 404
    "/p99",  # not generated: the benchmark fetcher answers 404
)
# host 0 starts at p1, whose www-alias link is admitted in the next layer
HOST0_START = "/p1"


def crawl_sites(hosts: int, seed: int) -> pd.DataFrame:
    """One enabled site per host, seed URLs at a seeded start page in
    the three raw spellings the reference accepts, plus one disabled
    site."""
    rows = []
    for h in range(hosts):
        host = f"host{h}.example.test"
        path = HOST0_START if h == 0 else START_PAGES[
            zlib.crc32(f"{seed}|{host}".encode()) % len(START_PAGES)
        ]
        raw = [f"https://{host}{path}", f"{host}{path}", f"http://{host}{path}"][h % 3]
        rows.append({"siteid": h + 1, "custid": 100 + h, "url": raw, "enabled": True})
    rows.append(
        {"siteid": hosts + 1, "custid": 99, "url": "https://disabled.example.test",
         "enabled": False}
    )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# monitor: a seeded change mix over a generated site
# ---------------------------------------------------------------------------

# mutation kind by crc32(seed|url) % 100
MIX = (("same", 84), ("text", 92), ("script", 96), ("deface", 100))
INJECTED = '<script src="https://cdn.injected.test/x.js"></script>'


def mutation(seed: int, url: str) -> str:
    v = zlib.crc32(f"{seed}|{url}".encode()) % 100
    return next(kind for kind, upper in MIX if v < upper)


def mutate(html: str, kind: str, seed: int) -> str:
    """The observed page for a baseline page under one mutation kind."""
    if kind == "text":  # one visible line rewritten
        return html.replace("<h1>Page ", f"<h1>Revised ({seed}) page ", 1)
    if kind == "script":  # invisible to the semantic hash
        return html.replace("</head>", INJECTED + "</head>", 1)
    if kind == "deface":  # body replaced, head kept
        head = html.split("<body>", 1)[0]
        return head + f"<body><h1>Defaced {seed}</h1><p>owned</p></body></html>"
    return html


def observe_batches(seed: int):
    """mapInPandas body: baseline page rows -> observed rows + kind."""

    def run(batches):
        for pdf in batches:
            kinds = [mutation(seed, u) for u in pdf["url_key"]]
            out = pdf.copy()
            out["html"] = [mutate(h, k, seed) for h, k in zip(pdf["html"], kinds)]
            out["kind"] = kinds
            yield out

    return run
