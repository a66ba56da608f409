"""curate_sf01: the curation, dedup and ANN queries of `queries.QUERIES`
over a fixed corpus: the deterministic sf0.01 documents (500) and
embeddings (500 x 64) tables in data/sf0.01, the corpus the program's
recall floors were calibrated on. The seed is unused.

One operation is one pass over metrics.CURATE_QUERIES, each query's
result written to parquet. Check: every query with a DuckDB oracle in
`queries.ORACLES` matches it row for row, and each `*_recall`
companion (approximate tier beside exact tier) meets its
`RECALL_FLOORS_BP` floor.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from perfbench.metrics import CURATE_QUERIES, RECALL_QUERIES

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
N_DOCS = 500
N_VECS = 500


def _canon(v):
    """A value in a form both engines render identically."""
    from decimal import Decimal

    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    return v


def canon_rows(rows: list[dict]) -> list[str]:
    """Order-insensitive, column-order-insensitive row rendering."""
    return sorted(repr(sorted((k, _canon(v)) for k, v in r.items())) for r in rows)


class CurateSf01:
    """The workload this module describes: setup, op, check."""

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.outputs: list[str] = []
        self._setups = 0

    def setup(self, spark) -> None:
        from web_crawler_spark import queries
        from web_crawler_spark.operators.lsh_plan import plan_minhash, plan_sign_lsh

        self.spark = spark
        # a fresh copy per set-up: the planner caches are keyed by its path
        self.sf = os.path.join(self.work, f"corpus{self._setups}")
        self._setups += 1
        shutil.copytree(CORPUS, self.sf)
        # LSH planner sizing, timed for lsh_plan.ms; the queries reuse the
        # measured backgrounds (cached by corpus path)
        t0 = time.perf_counter()
        j_bg = queries.measured_jaccard_bg(self.sf)
        cos_bg = queries.measured_cosine_bg(self.sf)
        plan_minhash(N_DOCS, j_bg=j_bg, **queries.MINHASH_CALIB)
        plan_sign_lsh(N_VECS, cos_bg=cos_bg, **queries.EMB_LSH_CALIB)
        plan_sign_lsh(N_VECS, cos_bg=cos_bg, **queries.ANN_LSH_CALIB)
        self.lsh_plan_ms = (time.perf_counter() - t0) * 1e3

    def warmup(self) -> None:
        """None: the first pass in a fresh JVM is the measured one."""

    def op(self, i: int) -> dict:
        from web_crawler_spark.queries import QUERIES

        out = os.path.join(self.work, f"out{i}")
        steps = []
        t0 = time.perf_counter()
        for q in CURATE_QUERIES:
            t = time.perf_counter()
            with self.tracer.span(f"curate.{q}"):
                QUERIES[q](self.spark, self.sf).write.parquet(os.path.join(out, q))
            steps.append((time.perf_counter() - t) * 1e3)
        wall = time.perf_counter() - t0
        self.outputs.append(out)
        return {
            "wall_s": wall,
            "items": N_DOCS + N_VECS,
            # the queries differ too much for a median over them to be
            # steady: the step is the pass's mean query time
            "steps_ms": [wall * 1e3 / len(CURATE_QUERIES)],
            "layer": {f"curate.{q}_ms": ms for q, ms in zip(CURATE_QUERIES, steps)},
        }

    def _recall(self, out: str) -> dict[str, dict]:
        import pyarrow.parquet as pq

        return {
            q: pq.read_table(os.path.join(out, q)).to_pylist()[0] for q in RECALL_QUERIES
        }

    def extra(self) -> dict[str, float]:
        out = {"lsh_plan.ms": self.lsh_plan_ms}
        for q, row in self._recall(self.outputs[-1]).items():
            out[f"curate.{q[: -len('_recall')]}_recall"] = row["recall_bp"] / 1e4
        return out

    def check(self) -> tuple[int, int]:
        import duckdb
        import pyarrow.parquet as pq

        from web_crawler_spark.queries import ORACLES

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
            )
        oracled = [q for q in CURATE_QUERIES if q in ORACLES]
        want = {q: canon_rows(con.execute(ORACLES[q]).arrow().to_pylist()) for q in oracled}
        con.close()
        bad = []
        attempted = 0
        for out in self.outputs:
            for q in oracled:
                attempted += 1
                if canon_rows(pq.read_table(os.path.join(out, q)).to_pylist()) != want[q]:
                    bad.append(q)
            for q, row in self._recall(out).items():
                attempted += 1
                if not row["meets_floor"]:
                    bad.append(f"{q} (recall {row['recall_bp']} bp < {row['floor_bp']} bp)")
        if bad:
            print("curate_sf01 failed:", ", ".join(bad), file=sys.stderr)
        return attempted, len(bad)
