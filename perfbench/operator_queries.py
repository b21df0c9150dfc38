"""Workload `operator_queries`: a fixed pass over oracled `queries()`
entries of the operator and KG-query library, on tables generated from
the benchmark seed.

One op is one query with its result written to the `noop` sink; one pass
runs every query in `QUERIES` once. The shared kNN and relational-triple
builds that the queries compose over are made in set-up. Once per
invocation, before timing, every query's output is compared with its
DuckDB twin from `oracle_sql()`.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__ as entry
from tools.check_oracle import compare

from tables import build_tables, write_tables

# simkit's chain, the size-dispatched *_auto graph operators over the
# shared kNN graph, and KG traversals over the relational triples. Only
# queries with a DuckDB twin, and few enough that a run (set-up, checked
# warm-up pass, timed pass) fits the benchmark's time budget: dbscan's
# twin or setsim_pairs alone would outweigh the rest of the pass, and
# kg_khop took 21-26% of a pass, too near MAX_QUERY_SHARE.
QUERIES = [
    "pairwise_euclidean", "eps_graph", "connected_components_eps",
    "pagerank_knn", "kcore_knn", "ktruss_knn", "communities_knn", "mis_knn",
    "matching_knn", "hits_knn", "random_walks_knn",
    "kg_two_hop", "kg_bgp",
]
# small tables: the pass measures per-query job overhead and the local
# vs distributed dispatch of the *_auto operators, which is what this
# workload exists to watch
N_CUSTOMERS = 1_000
N_EMBEDDINGS = 300
MAX_QUERY_SHARE = 0.25  # no single query may dominate the pass
# untimed noop passes after the checked one. A pass's CPU time falls from
# ~19 s to ~11 s over its first four passes in a session at local[4], most
# of it JIT compilation; a timed pass on that slope made cpu_s spread
# 13-33% (IQR / median) between runs.
WARM_PASSES = 2
TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "embeddings"]


class OperatorQueries:
    units_per_op = len(QUERIES)

    def __init__(self, spark, work: str, seed: int, tracing: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.queries = entry.queries()
        self.bad: set[str] = set()
        self.passes: list[dict[str, float]] = []

    def setup(self) -> None:
        """Generate the tables and make the shared builds."""
        self.sf_dir = os.path.join(self.work, "tables")
        write_tables(self.sf_dir, build_tables(self.seed, N_CUSTOMERS, N_EMBEDDINGS))
        entry._knn_topk(self.spark, self.sf_dir)
        entry._kg_rel(self.spark, self.sf_dir)

    def warmup(self) -> list[str]:
        """One untimed pass that collects every result and compares it
        with its DuckDB twin, which runs meanwhile in a second thread,
        then `WARM_PASSES` untimed passes as timed ones run them."""
        with ThreadPoolExecutor(1) as pool:
            wants = pool.submit(self._oracle_results)
            got = {}
            for name in QUERIES:
                try:
                    got[name] = self.queries[name](self.spark, self.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 — a failed query is a result
                    got[name] = e
            wants = wants.result()
        issues = []
        for name in QUERIES:
            failed = [x for x in (got[name], wants[name]) if isinstance(x, Exception)]
            if failed:
                problems = [f"{type(e).__name__}: {e}" for e in failed]
            else:
                problems = compare(got[name], wants[name])
            if problems:
                self.bad.add(name)
                issues.append(f"{name} vs oracle: " + " | ".join(problems)[:500])
        for _ in range(WARM_PASSES):
            issues += self.run_op().values()
        self.passes.clear()
        return issues

    def _oracle_results(self) -> dict:
        oracles = entry.oracle_sql()
        with duckdb.connect() as con:
            con.sql("SET threads = 2")  # leave the Spark pass most cores
            for t in TABLE_NAMES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            out = {}
            for name in QUERIES:
                try:
                    out[name] = con.sql(oracles[name]).df()
                except duckdb.Error as e:
                    out[name] = e
            return out

    def _run(self, name: str) -> None:
        self.queries[name](self.spark, self.sf_dir).write.format("noop").mode(
            "overwrite").save()

    def run_op(self) -> dict[str, str]:
        times, errors = {}, {}
        for name in QUERIES:
            t0 = time.perf_counter()
            try:
                self._run(name)
            except Exception as e:  # noqa: BLE001 — a failed query is a result
                errors[name] = f"{name}: {type(e).__name__}: {e}"[:500]
            times[name] = time.perf_counter() - t0
        self.passes.append(times)
        return errors

    def check_op(self, errors: dict[str, str]) -> tuple[int, int, list[str]]:
        """A query fails in a pass if it raised there or if its output
        did not match its DuckDB twin."""
        return len(QUERIES), len(self.bad | set(errors)), list(errors.values())

    def quality(self) -> tuple[float, float]:
        ok = 1.0 - len(self.bad) / len(QUERIES)
        return ok, ok

    def regime(self) -> tuple[dict, list[str]]:
        share = {q: statistics.median(p[q] / sum(p.values()) for p in self.passes)
                 for q in QUERIES}
        top = max(share, key=share.get)
        issues = []
        if share[top] > MAX_QUERY_SHARE:
            issues.append(f"{top} takes {share[top]:.0%} of the pass")
        return {"queries.max_share": share[top]}, issues

    def trace(self, tracer, untraced_wall_s: float) -> tuple[dict, list[str]]:
        out = {}
        t0 = time.perf_counter()
        for name in QUERIES:
            with tracer.span(f"queries.{name}") as span:
                self._run(name)
            out[f"queries.{name}.wall_s"] = span["wall_s"]
            out[f"queries.{name}.jobs"] = float(span["jobs"])
        out["queries.trace_overhead_s"] = time.perf_counter() - t0 - untraced_wall_s
        return out, []
