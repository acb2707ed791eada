"""The ``query_mix`` workload: one client in a closed loop over the ten
headline registry queries.  It exercises ``relational.*`` and Spark SQL
planning only — no crawl layer — so a crawl-side change must predict
no change here."""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random

# the sf0.01 tables of the repository's conformance gate, committed with
# the benchmark so a run reads nothing outside its checkout
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")

HEADLINE = (
    "pricing_summary", "broadcast_part_revenue", "outer_customer_orders",
    "window_rank_orders", "session_windows", "search_tfidf",
    "lsh_near_dup_pairs", "simhash", "cosine_topk", "ann_lsh_pairs",
)
def cores(nproc: int) -> int:
    """Spark threads for the queries: half the machine.  The queries are
    planning- and scheduling-bound on these tables; on 4 cores local[2]
    ran them faster than local[4], and with the spare cores for the
    driver, JIT and GC threads their latencies moved less with the
    host's load."""
    return max(1, nproc // 2)


# --seconds buys one round of the ten queries per ROUND_S (a round takes
# ~6-8 s on 4 cores); a fixed round count keeps the sample mix equal
# across runs
ROUND_S = 7.0


def rounds(seed: int):
    """Endless query orders: every round runs all ten queries, in an
    order drawn from the workload seed."""
    rng = random.Random(seed)
    while True:
        order = list(HEADLINE)
        rng.shuffle(order)
        yield order


def execute(spark, data_dir: str, name: str):
    """Run one query to completion and return its rows (the timed
    operation: plan, execute, collect)."""
    from commentsearchengine_spark.relational.registry import QUERIES

    return QUERIES[name][0](spark, data_dir).toPandas()


def warm_up(spark, data_dir: str, workers: int) -> None:
    """Run each query once, ``workers`` at a time, then a whole round in
    turn, before anything is timed: the parallel pass pays the first-run
    costs (code generation, Python worker start), the sequential round
    the rest of the JIT's warm-up (the first sequential round after
    parallel passes ran ~25% slower than the next)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=workers) as pool:
        for f in [pool.submit(execute, spark, data_dir, q) for q in HEADLINE]:
            f.result()
    for q in HEADLINE:
        execute(spark, data_dir, q)


def run_round(spark, data_dir: str, order, tracer, results: dict) -> None:
    for name in order:
        with tracer.span(f"query.{name}"):
            pdf = execute(spark, data_dir, name)
        results.setdefault(name, []).append(pdf)


def measure(spark, data_dir: str, seed: int, seconds: float, tracer) -> dict:
    """One whole round per ``ROUND_S`` of ``seconds`` (at least one).
    Returns query name -> list of result frames."""
    results: dict = {}
    gen = rounds(seed)
    for _ in range(max(1, round(seconds / ROUND_S))):
        run_round(spark, data_dir, next(gen), tracer, results)
    return results


@functools.lru_cache(maxsize=None)
def data_digest(data_dir: str) -> str:
    """sha256 over the table files' names and bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected(data_dir: str, cache_dir: str) -> dict[str, tuple]:
    """DuckDB's rows for every query, normalized the way the conformance
    tool compares them.  Each query's answer is cached under a hash of
    its DuckDB SQL and the table files, so a changed query or table is
    recomputed, never compared against a stale answer."""
    from commentsearchengine_spark.relational.registry import QUERIES
    from tools.check_conformance import TABLES, normalize_df

    out, con = {}, None
    for q in HEADLINE:
        sql = QUERIES[q][1]
        key = hashlib.sha256(
            (sql + data_digest(data_dir)).encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"duckdb-{q}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            out[q] = (cols, [tuple(r) for r in rows])
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data_dir}/{t}.parquet')")
        out[q] = normalize_df(con.execute(sql).fetchdf())
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out[q], f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


def check(results: dict, want: dict) -> dict[str, bool]:
    """Every timed execution's rows must equal DuckDB's for the query."""
    from tools.check_conformance import normalize_df

    return {f"{name}#{i}": normalize_df(pdf) == want[name]
            for name, frames in results.items()
            for i, pdf in enumerate(frames)}
