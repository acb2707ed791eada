"""Output checks for crawl workloads.

Order-sensitive digests of ``crawl_log``, ``seen``, ``lineage``,
``frontier`` and the effective host tokens, computed the same way from
the engine's catalog and from the sequential oracle
(``oracle/seqcrawl.py``), plus cheap invariants on the catalog alone.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os

DIGESTED = ("crawl_log", "seen", "lineage", "frontier", "tokens")


def digest(rows) -> str:
    """sha256 over the rows in the order given (callers sort by a key
    that is unique per row, so equal tables give equal digests)."""
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(tuple(row)).encode())
        h.update(b"\n")
    return h.hexdigest()


def engine_tables(spark, root: str) -> dict[str, list[tuple]]:
    """The digested tables, read from the catalog's current snapshot,
    in the canonical row order."""
    import commentsearchengine_spark.schemas as S
    from commentsearchengine_spark.operators import admission
    from commentsearchengine_spark.sources.icelite import Catalog

    cat = Catalog(root)
    snap = cat.load_snapshot()

    def rows(table, ddl, cols):
        return [tuple(r) for r in
                cat.scan(spark, table, schema_ddl=ddl).select(*cols).collect()]

    tokens = admission.effective_tokens(
        cat.scan(spark, "hosts", schema_ddl=S.HOSTS), snap.wave)
    return {
        "crawl_log": sorted(
            rows("crawl_log", S.CRAWL_LOG,
                 ["wave", "host", "rank_in_host", "canon_url", "global_seq"]),
            key=lambda r: r[4]),
        "seen": sorted(rows("seen", S.SEEN,
                            ["canon_url", "url_hash", "first_wave"])),
        "lineage": sorted(rows("lineage", S.LINEAGE,
                               ["wave", "bucket", "fetched", "queued",
                                "deduped", "robots_blocked",
                                "politeness_deferred"])),
        "frontier": sorted(rows("frontier", S.FRONTIER,
                                ["canon_url", "host", "url_hash", "priority",
                                 "depth", "disc_wave", "disc_seq",
                                 "parent_hash"])),
        "tokens": sorted((r["host"], r["tokens"]) for r in
                         tokens.select("host", "tokens").collect()),
    }


def oracle_tables(o) -> dict[str, list[tuple]]:
    return {
        "crawl_log": sorted(o.crawl_log, key=lambda r: r[4]),
        "seen": sorted((u, h, w) for u, (h, w) in o.seen.items()),
        "lineage": sorted(o.lineage),
        "frontier": sorted(
            (u, e.host, e.url_hash, e.priority, e.depth, e.disc_wave,
             e.disc_seq, e.parent_hash) for u, e in o.frontier.items()),
        "tokens": sorted(o.tokens.items()),
    }


def run_oracle_fast(cfg):
    """Run the sequential oracle on ``cfg``'s crawl definition.  Page
    payloads are not digested, so their synthesis is skipped, and the
    per-host robots rules and host hashes — pure functions the oracle
    recomputes for every link — are memoized for the duration of the
    run.  Neither changes any digested table."""
    import oracle.seqcrawl as oc
    from commentsearchengine_spark.fixtures import synth

    saved = (oc.payload_for, oc.hash_str, synth.robots_rules)
    oc.payload_for = lambda *_: {}
    oc.hash_str = functools.lru_cache(maxsize=None)(saved[1])
    synth.robots_rules = functools.lru_cache(maxsize=None)(saved[2])
    try:
        return oc.run_oracle(cfg.n_seeds, cfg.n_waves, cfg.n_buckets,
                             cfg.n_hosts, seed_spread_hosts=cfg.seed_spread_hosts,
                             budget_scale=cfg.budget_scale)
    finally:
        oc.payload_for, oc.hash_str, synth.robots_rules = saved


def oracle_source_digest() -> str:
    """sha256 over the source of the oracle and of every package module
    it imports, so that cached digests expire when any of them changes."""
    import oracle.seqcrawl as oc
    from commentsearchengine_spark import config
    from commentsearchengine_spark.fixtures import synth
    from commentsearchengine_spark.functions import imagecodec, mmh3, urlnorm

    h = hashlib.sha256()
    for mod in (oc, config, synth, imagecodec, mmh3, urlnorm):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected_digests(cfg, cache_dir: str) -> dict[str, str]:
    """Oracle digests for ``cfg``, computed once per crawl definition and
    oracle source and kept in ``cache_dir`` (the oracle is far slower
    than the engine)."""
    path = os.path.join(cache_dir, f"oracle-{cfg.config_hash()}-"
                                   f"w{cfg.n_waves}-"
                                   f"{oracle_source_digest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    tables = oracle_tables(run_oracle_fast(cfg))
    out = {k: digest(v) for k, v in tables.items()}
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def invariants(tables: dict[str, list[tuple]], admitted: int) -> dict[str, bool]:
    """Checks that need no oracle: crawl order is the dense sequence
    1..N, ``seen`` is exactly the crawled URL set, and nothing crawled is
    still queued."""
    seqs = [r[4] for r in tables["crawl_log"]]
    crawled = {r[3] for r in tables["crawl_log"]}
    seen = {r[0] for r in tables["seen"]}
    return {
        "global_seq_dense": seqs == list(range(1, admitted + 1)),
        "seen_equals_crawled": seen == crawled and len(seen) == len(seqs),
        "seen_disjoint_frontier": not (seen & {r[0] for r in
                                               tables["frontier"]}),
    }


def pages_sample_ok(spark, root: str, stride: int = 97) -> tuple[int, int]:
    """Re-derive every ``stride``-th fetched page's payload with the
    reference ``payload_for`` and compare it to the stored row.  Returns
    (rows checked, rows that differ)."""
    import commentsearchengine_spark.schemas as S
    from pyspark.sql import functions as F

    from commentsearchengine_spark.functions.imagecodec import payload_for
    from commentsearchengine_spark.functions.mmh3 import murmur64
    from commentsearchengine_spark.sources.icelite import Catalog

    rows = (Catalog(root).scan(spark, "pages", schema_ddl=S.PAGES)
            .filter(F.col("fetched_seq") % stride == 1).collect())
    bad = 0
    for r in rows:
        want = payload_for(murmur64(r["canon_url"]), r["host"], r["wave"])
        got = {k: r[k] for k in want}
        got["bytes"] = bytes(got["bytes"])
        bad += got != want
    return len(rows), bad
