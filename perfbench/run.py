"""The repository's benchmark.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 15 --trace 0

Runs one workload on local Spark (``crawl_deep`` on ``local[nproc]``,
``query_mix`` on ``local[nproc/2]``) from this single process, checks
the program's outputs, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).  Exits 0
only when every check passed.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def crawl_deep(args, work, sampler, tracer) -> tuple[dict, dict, dict, dict]:
    import catalog_stats
    import crawl
    import env
    import eventlog
    import metrics

    cfg = crawl.definition(args.seed)
    root = work.sub("catalog")
    t0 = time.time()
    with tracer.span("setup.spark_session"):
        spark = env.start_spark(work, event_log=bool(args.trace))
    try:
        info = env.run_info(spark)
        res = crawl.run(spark, root, cfg, tracer, sampler)
        # read before the checks: the oracle and the collected tables
        # are the benchmark's own work, not the program's
        peak_kb = sampler.sample_peak_kb()
        start, end = res["window"]
        checks = crawl.check(spark, root, cfg, res, work.cache, tracer)
        layer = {}
        if args.trace:
            checks.update(catalog_stats.recorded(res["snaps"]))
            with tracer.span("probes"):
                layer.update(crawl.probes(spark, root, cfg, tracer))
    finally:
        env.stop_spark(spark)
    e2e = metrics.end_to_end(start - t0, res["urls"], end - start,
                             res["intervals"], peak_kb)
    if args.trace:
        layer.update(crawl.observed_metrics(res, sampler.files()))
        layer.update(eventlog.reduce(work.sub("eventlog"), start, end,
                                     len(res["intervals"])))
    info["definition"] = {k: getattr(cfg, k) for k in (
        "n_seeds", "n_waves", "n_hosts", "budget_scale",
        "seen_compact_every")}
    return e2e, layer, checks, {"info": info, "attempted": cfg.n_waves,
                                "window": [start, end],
                                "op_seconds": res["intervals"]}


def query_mix(args, work, sampler, tracer) -> tuple[dict, dict, dict, dict]:
    import env
    import eventlog
    import metrics
    import queries

    data = queries.DATA
    cores = queries.cores(env.nproc())
    t0 = time.time()
    with tracer.span("setup.spark_session"):
        spark = env.start_spark(work, event_log=bool(args.trace),
                                cores=cores)
    try:
        info = env.run_info(spark)
        info["spark_cores"] = cores
        with tracer.span("setup.warm_up"):
            queries.warm_up(spark, data, cores)
        start = time.time()
        results = queries.measure(spark, data, args.seed, args.seconds,
                                  tracer)
        end = time.time()
        peak_kb = sampler.sample_peak_kb()
    finally:
        env.stop_spark(spark)
    with tracer.span("check.duckdb"):
        checks = queries.check(results, queries.expected(data, work.cache))
    timed = [s for s in tracer.spans
             if s["name"].startswith("query.") and s["start"] >= start]
    secs = [s["end"] - s["start"] for s in timed]
    per_query = {q: statistics.median(s["end"] - s["start"] for s in timed
                                      if s["name"] == f"query.{q}")
                 for q in queries.HEADLINE}
    # the tail over the queries' medians: one burst of host steal in a
    # run moves a single execution, not a query's median
    e2e = metrics.end_to_end(start - t0, len(secs), end - start, secs,
                             peak_kb, tail=list(per_query.values()))
    layer = {}
    if args.trace:
        for q, sec in per_query.items():
            layer[f"query.{q}_s"] = sec
        layer.update(eventlog.reduce(work.sub("eventlog"), start, end,
                                     len(secs)))
    return e2e, layer, checks, {"info": info, "attempted": len(secs),
                                "window": [start, end],
                                "op_seconds": secs}


WORKLOADS = {"crawl_deep": crawl_deep, "query_mix": query_mix}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import commentsearchengine_spark  # noqa: F401
        import oracle.seqcrawl  # noqa: F401
        import tools.check_conformance  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import env
    import metrics
    from spans import Tracer

    work = env.WorkDir(args.workload)
    sampler = env.Sampler()
    sampler.start()
    tracer = Tracer()
    try:
        e2e, layer, checks, record = WORKLOADS[args.workload](
            args, work, sampler, tracer)
    finally:
        sampler.stop()
        work.close()
    start, end = record["window"]
    layer["env.steal_pct"] = env.steal_pct(sampler.cpu, start, end)
    if args.trace:
        layer["trace.op_s_p50"] = e2e["op_s_p50"]
        layer["trace.throughput_per_s"] = e2e["throughput_per_s"]
    failed = [k for k, ok in checks.items() if not ok]
    attempted = record["attempted"] + len(checks)
    spec = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics.render(layer if args.trace else e2e, spec),
    }
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    env.write_json(
        os.path.join(work.runs, f"{args.workload}-seed{args.seed}-"
                                f"trace{args.trace}-{stamp}.json"),
        {**record, "workload": args.workload, "seed": args.seed,
         "seconds": args.seconds, "trace": args.trace, "e2e": e2e,
         "layer": layer, "failed_checks": failed,
         "spans": tracer.spans if args.trace else []})
    for k in failed:
        print(f"perfbench: check failed: {k}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
