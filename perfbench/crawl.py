"""The ``crawl_deep`` workload: small waves over a frontier far
larger than one wave's admission, with seen-table compaction running
between waves.  In this regime the per-wave constant dominates —
admission, catalog commits and scans, bloom rewrite, hosts
carry-forward, speculative admission, compaction — not the fetch."""

from __future__ import annotations

import random
import statistics
import time

import catalog_stats
import digests

WAVES = 3            # wave 1 warms the JVM; waves 2..3 are timed
COMPACT_AFTER = 2    # seen compaction runs between waves 2 and 3
HOSTS = 300          # host universe (seeds spread over all of it)
SEEDS_PER_HOST = 40  # frontier ~10x one wave's admission
BAND = 0.02          # the workload seed moves both sizes within +-2%
PASSES = 5           # repetitions of each single-thread kernel probe


def definition(seed: int):
    """The crawl the workload seed picks: seed count and host universe
    from a narrow band, so every seed has the same shape."""
    from commentsearchengine_spark.config import EngineConfig

    rng = random.Random(seed)
    hosts = round(HOSTS * (1 + rng.uniform(-BAND, BAND)))
    seeds = round(hosts * SEEDS_PER_HOST * (1 + rng.uniform(-BAND, BAND)))
    return EngineConfig(
        n_seeds=seeds, n_waves=WAVES, n_buckets=64, n_hosts=hosts,
        bloom_shards=8, seed_spread_hosts=hosts, budget_scale=2.0,
        # compaction after wave 2: each wave appends nproc seen files
        # and compaction needs >= 8 (``check`` fails the run otherwise)
        seen_compact_every=COMPACT_AFTER)


def run(spark, root: str, cfg, tracer, sampler) -> dict:
    """Run the crawl and rebuild its timeline from the manifests.
    Returns the timed window, its URL count and the wave intervals."""
    from commentsearchengine_spark.plans.wave import run_crawl

    sampler.watch_catalog(root)
    with tracer.span("plans.wave.run_crawl") as sp:
        run_crawl(spark, root, cfg)
    snaps = catalog_stats.load_all(root)
    commits = catalog_stats.wave_commits(snaps)
    prev = sp["start"]
    for w, s in sorted(commits.items()):
        tracer.add("bootstrap" if w == 0 else f"wave {w}", prev,
                   s.created_at, sp["id"])
        prev = s.created_at
    for s in snaps:
        if catalog_stats.is_maintenance(s):
            tracer.add("plans.maintenance.compact_table",
                       commits[s.wave].created_at, s.created_at, sp["id"])
    first, last = commits[1], commits[max(commits)]
    return {
        "snaps": snaps,
        "crawl_start": sp["start"],
        "window": (first.created_at, last.created_at),
        "urls": last.state["global_seq"] - first.state["global_seq"],
        "urls_total": last.state["global_seq"],
        "intervals": catalog_stats.wave_intervals(snaps),
    }


def check(spark, root: str, cfg, res: dict, cache_dir: str, tracer) -> dict:
    """Digests vs the oracle, invariants and a payload sample.  The
    oracle runs on a thread while Spark reads the catalog."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        expected = pool.submit(digests.expected_digests, cfg, cache_dir)
        pages = pool.submit(digests.pages_sample_ok, spark, root)
        with tracer.span("check.engine_digests"):
            tables = digests.engine_tables(spark, root)
        with tracer.span("check.oracle_and_pages"):
            want, (n, bad) = expected.result(), pages.result()
    out = digests.invariants(tables, res["urls_total"])
    out["pages_sample"] = n > 0 and bad == 0
    # the workload's shape: without the compaction its cost leaves the
    # timed waves and the maintenance metrics read 0
    out["compaction_ran"] = catalog_stats.compacted_between(
        res["snaps"], COMPACT_AFTER, COMPACT_AFTER + 1)
    for k in digests.DIGESTED:
        out[f"digest.{k}"] = digests.digest(tables[k]) == want[k]
    return out


def observed_metrics(res: dict, sizes: dict[str, int]) -> dict:
    """Per-layer metrics the catalog already records (manifests) plus
    what the sampler saw on disk."""
    snaps = res["snaps"]
    out = catalog_stats.wave_layer_metrics(snaps)
    out.update(catalog_stats.storage_metrics(snaps, sizes, res["urls_total"]))
    out.update(catalog_stats.maintenance_metrics(snaps, sizes))
    out["wave.bootstrap_s"] = (catalog_stats.wave_commits(snaps)[0].created_at
                               - res["crawl_start"])
    return out


def _timed(tracer, name: str, fn):
    with tracer.span(name) as sp:
        fn()
    return sp["end"] - sp["start"]


def probes(spark, root: str, cfg, tracer) -> dict:
    """Layer probes on the finished catalog, timed from outside through
    each module's public functions."""
    import numpy as np
    from pyspark.sql import functions as F

    import commentsearchengine_spark.schemas as S
    from commentsearchengine_spark.fixtures import synth
    from commentsearchengine_spark.functions import imagecodec as ic
    from commentsearchengine_spark.operators import admission, bloom
    from commentsearchengine_spark.operators.fetch import fetch_pages
    from commentsearchengine_spark.sources.icelite import Catalog

    cat = Catalog(root)
    snap = cat.load_snapshot()
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    out = {}

    # imagecodec + outlink synthesis: single thread, us per URL over a
    # fixed hash sample (the same sample on every run); the median of
    # PASSES passes, so one-off costs (first calls, a preempted slice)
    # do not land in the figure
    uh = np.random.default_rng(7).integers(-2**63, 2**63 - 1, 400,
                                           dtype=np.int64)
    passes = []
    with tracer.span("functions.imagecodec"):
        for _ in range(PASSES):
            t = {"synth": 0.0, "encode": 0.0, "decode": 0.0, "phash": 0.0}
            for h in uh.tolist():
                w, hh = ic.dims_for(h)
                fmt = ic.fmt_for(h)
                t0 = time.perf_counter()
                arr = ic.synth_pixels(h, w, hh)
                t1 = time.perf_counter()
                data = ic.encode(arr, fmt)
                t2 = time.perf_counter()
                stored = ic.decode(data, fmt, w, hh)
                t3 = time.perf_counter()
                ic.phash64(stored)
                t4 = time.perf_counter()
                for k, dt in zip(t, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                    t[k] += dt
            passes.append(t)
    for k in passes[0]:
        out[f"imagecodec.{k}_us"] = statistics.median(
            p[k] for p in passes) / len(uh) * 1e6
    outlinks = []
    with tracer.span("fixtures.synth.outlinks_canon_batch"):
        for _ in range(PASSES):
            t0 = time.perf_counter()
            synth.outlinks_canon_batch(uh, cfg.n_hosts)
            outlinks.append(time.perf_counter() - t0)
    out["synth.outlinks_canon_us"] = statistics.median(outlinks) / len(uh) * 1e6

    # fetch: the final wave's admitted rows through fetch_pages again
    last = (cat.scan(spark, "pages", schema_ddl=S.PAGES + ", depth int, "
                     "parent_url_hash long")
            .filter(F.col("wave") == snap.wave)
            .select("canon_url", "host", F.col("parent_url_hash")
                    .alias("url_hash"), "depth",
                    F.col("fetched_seq").alias("global_seq"))).cache()
    n_last = last.count()
    secs = _timed(tracer, "operators.fetch.fetch_pages", lambda: noop(
        fetch_pages(last, snap.wave, cfg.n_hosts)))
    last.unpersist()
    out["fetch.urls_per_s"] = n_last / secs

    # admission: rank the final frontier against the final budgets
    hosts = admission.effective_tokens(
        cat.scan(spark, "hosts", schema_ddl=S.HOSTS), snap.wave)
    out["admission.admit_pruned_s"] = _timed(
        tracer, "operators.admission.admit_pruned", lambda: admission
        .assign_global_seq(admission.admit_pruned(
            spark, cat, hosts, S.FRONTIER,
            head_factor=cfg.admission_head_factor),
            snap.state["global_seq"]).count())

    # bloom: rebuild the filter from every discovered key, then probe
    # the catalog's own filter with keys known to be absent
    nbits = int(snap.state["bloom_nbits"])
    keys = (cat.scan(spark, "seen", schema_ddl=S.SEEN).select("url_hash")
            .unionByName(cat.scan(spark, "frontier", schema_ddl=S.FRONTIER)
                         .select("url_hash")))
    out["bloom.build_s"] = _timed(
        tracer, "operators.bloom.build_shards", lambda: bloom.build_shards(
            keys, spark.createDataFrame([], S.BLOOM_SHARDS), cfg,
            nbits=nbits).collect())
    absent = (spark.range(100_000)
              .select(F.xxhash64(F.col("id"), F.lit("absent"))
                      .alias("url_hash"))
              .join(keys, "url_hash", "left_anti").cache())
    n_absent = absent.count()
    shards = cat.scan(spark, "bloom_shards", schema_ddl=S.BLOOM_SHARDS)
    with tracer.span("operators.bloom.probe") as sp:
        maybe = (bloom.probe(absent, shards, cfg, nbits=nbits)
                 .filter("maybe_seen").count())
    absent.unpersist()
    out["bloom.probe_s"] = sp["end"] - sp["start"]
    out["bloom.fpr_measured"] = maybe / n_absent

    # icelite: full-column read cost of the biggest tables
    for t, ddl in (("seen", S.SEEN), ("frontier", S.FRONTIER),
                   ("crawl_log", S.CRAWL_LOG)):
        out[f"icelite.scan_s.{t}"] = _timed(
            tracer, f"sources.icelite.scan.{t}",
            lambda t=t, ddl=ddl: noop(cat.scan(spark, t, schema_ddl=ddl)))
    return out
