"""Self-test of the benchmark's own parsers on a tiny crawl: catalog
accounting from manifests, order-sensitive digests against the oracle,
the Spark event-log reduction, and the metric list in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

import copy
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import catalog_stats  # noqa: E402
import digests  # noqa: E402
import env  # noqa: E402
import eventlog  # noqa: E402
import metrics  # noqa: E402


@pytest.fixture(scope="module")
def crawled():
    """A 4-wave crawl small enough for seconds, with a compaction after
    wave 2 and the event log on."""
    from commentsearchengine_spark.config import EngineConfig
    from commentsearchengine_spark.plans.wave import run_crawl

    work = env.WorkDir("selftest")
    sampler = env.Sampler()
    sampler.start()
    spark = env.start_spark(work, event_log=True)
    cfg = EngineConfig(n_seeds=40, n_waves=4, n_buckets=16, n_hosts=40,
                       bloom_shards=4, seed_spread_hosts=40,
                       budget_scale=2.0, seen_compact_every=2)
    root = os.path.join(work.path, "catalog")
    sampler.watch_catalog(root)
    t0 = time.time()
    run_crawl(spark, root, cfg)
    t1 = time.time()
    tables = digests.engine_tables(spark, root)
    pages = digests.pages_sample_ok(spark, root, stride=7)
    env.stop_spark(spark)
    sampler.stop()
    yield {"cfg": cfg, "root": root, "tables": tables, "pages": pages,
           "window": (t0, t1), "sizes": sampler.files(), "work": work,
           "peak_kb": sampler.peak_kb}
    work.close()


def test_digests_match_oracle(crawled):
    want = digests.oracle_tables(digests.run_oracle_fast(crawled["cfg"]))
    for k in digests.DIGESTED:
        assert digests.digest(crawled["tables"][k]) == digests.digest(want[k]), k


def test_stored_pages_match_reference_payloads(crawled):
    checked, bad = crawled["pages"]
    assert checked > 0 and bad == 0


def test_digest_is_order_and_content_sensitive(crawled):
    log = crawled["tables"]["crawl_log"]
    assert len(log) >= 2
    d = digests.digest(log)
    assert digests.digest(log[::-1]) != d
    changed = [log[0][:4] + (log[0][4] + 1,)] + log[1:]
    assert digests.digest(changed) != d


def test_invariants_hold_and_catch_breaks(crawled):
    t = crawled["tables"]
    n = len(t["crawl_log"])
    assert all(digests.invariants(t, n).values())
    assert not digests.invariants(t, n + 1)["global_seq_dense"]
    leaked = dict(t, frontier=t["frontier"] + [(t["seen"][0][0],)])
    assert not digests.invariants(leaked, n)["seen_disjoint_frontier"]


def test_manifest_accounting(crawled):
    snaps = catalog_stats.load_all(crawled["root"])
    commits = catalog_stats.wave_commits(snaps)
    assert sorted(commits) == [0, 1, 2, 3, 4]
    assert any(catalog_stats.is_maintenance(s) for s in snaps)
    iv = catalog_stats.wave_intervals(snaps)
    assert len(iv) == 3 and all(x > 0 for x in iv)

    sizes = crawled["sizes"]
    urls = commits[4].state["global_seq"]
    st = catalog_stats.storage_metrics(snaps, sizes, urls)
    for t in ("pages", "seen", "frontier", "hosts", "crawl_log"):
        assert st[f"icelite.live_bytes.{t}"] > 0, t
        assert st[f"icelite.bytes_written.{t}"] >= st[f"icelite.live_bytes.{t}"]
    # compaction superseded seen files: written must exceed live
    assert st["icelite.bytes_written.seen"] > st["icelite.live_bytes.seen"]
    assert st["icelite.written_bytes_per_url"] > st["icelite.live_bytes_per_url"]
    mt = catalog_stats.maintenance_metrics(snaps, sizes)
    assert mt["maintenance.compact_s"] > 0
    assert mt["maintenance.bytes_rewritten"] > 0
    wl = catalog_stats.wave_layer_metrics(snaps)
    assert wl["wave.fetch_write_s"] > 0 and wl["wave.write_s.hosts"] > 0


def test_shape_and_recorded_keys_checks(crawled):
    snaps = catalog_stats.load_all(crawled["root"])
    assert catalog_stats.compacted_between(snaps, 2, 3)
    assert not catalog_stats.compacted_between(snaps, 1, 2)
    assert all(catalog_stats.recorded(snaps).values())
    # a phase one timed wave stops recording fails its check
    broken = copy.deepcopy(snaps)
    wave3 = catalog_stats.wave_commits(broken)[3]
    del wave3.metrics["phases"]["admit"]
    rec = catalog_stats.recorded(broken)
    assert [k for k, ok in rec.items() if not ok] == ["recorded.phases.admit"]


def test_event_log_reduction(crawled):
    start, end = crawled["window"]
    m = eventlog.reduce(crawled["work"].sub("eventlog"), start, end, 4)
    assert m["spark.jobs_per_op"] > 1
    assert m["spark.executor_run_s"] > 0 and m["spark.executor_cpu_s"] > 0
    # fetch and bloom run Python UDFs: the boundary must be visible
    assert m["spark.python_bytes_sent"] > 0
    assert m["spark.python_bytes_returned"] > 0
    assert m["spark.python_run_s"] > 0
    assert m["spark.task_skew"] >= 1.0
    empty = eventlog.reduce(crawled["work"].sub("eventlog"), 0.0, 1.0, 1)
    assert empty["spark.jobs_per_op"] == 0 and empty["spark.executor_run_s"] == 0


def test_sampler_saw_the_tree(crawled):
    # the driver JVM alone is far above 100 MB
    assert crawled["peak_kb"] > 100 * 1024


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == metrics.PER_LAYER
    import run
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
