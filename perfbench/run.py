"""Crawl-engine benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload frontier_backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``frontier_backlog``,
``analytics_mix`` (see ``perfbench/METRICS.md``).
``--trace 0`` prints the end-to-end metrics listed in ``BENCHMARK.json``;
``--trace 1`` adds a traced window and replay probes and prints the
per-layer metrics instead. Everything the run writes goes under
``.perfbench_tmp/`` (deleted at exit) and, for traced runs, the span
dump under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("frontier_backlog", "analytics_mix")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def _named_metrics(workload: str, e2e: dict, extra: dict) -> dict:
    """The workload's metrics under their design names (METRICS.md); the
    generic end-to-end names map onto them one to one."""
    out = {"setup_s": [e2e["setup_s"], "s"], "peak_rss_mb": [e2e["peak_rss_mb"], "MB"],
           "failed_share": [extra["failed_share"], "share"]}
    if workload == "analytics_mix":
        out["analytics_pass_s"] = [e2e["pass_s"], "s"]
    else:
        out.update({
            "crawl_pages_per_s": [e2e["output_rows_per_s"], "1/s"],
            "frontier_urls_per_s": [e2e["input_rows_per_s"], "1/s"],
            "round_s_p50": [e2e["pass_s"], "s"],
            "state_bytes_per_url": [extra["state_bytes_per_url"], "B"],
        })
    return {"workload": workload, "metrics": out}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import web_scraper_spark.frontier.engine  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2
    e2e_specs, layer_specs = _metric_specs()

    from perfbench import common
    from perfbench.tracing import Tracer

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        # the Python workers import the engine from this checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
    )
    tempfile.tempdir = None
    tracer = Tracer() if args.trace else None
    try:
        t_start = time.perf_counter()
        spark, start_s = common.start_session(tmp, cores)
        if tracer is not None:
            tracer.add("session.start", t_start, t_start + start_s, None)
        try:
            if args.workload == "analytics_mix":
                from perfbench.analytics import run_analytics_mix as run
            else:
                from perfbench.crawl import run_frontier_backlog as run
            res = run(spark, tmp, args.seed, args.seconds, tracer)
            rss = common.peak_rss_mb()
        finally:
            common.stop_session(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print(f"perfbench: session {start_s:.2f}s, inputs {res['setup_s']:.2f}s, "
          f"warm-up {res['warmup_s']:.2f}s, "
          f"ops {res['attempted']}, timed {[round(w, 2) for w in res['op_walls']]}, "
          f"wall {time.perf_counter() - t_start:.1f}s", file=sys.stderr)
    e2e = dict(res["e2e"])
    e2e["setup_s"] = start_s + res["setup_s"] + res["warmup_s"]
    e2e["peak_rss_mb"] = rss
    failed_share = res["failed"] / max(res["attempted"], 1)
    for problem in res["problems"]:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    print(json.dumps(_named_metrics(
        args.workload, e2e,
        {"failed_share": failed_share, "state_bytes_per_url": res.get("state_bytes_per_url", 0.0)},
    )))

    if tracer is None:
        values = e2e
        specs = e2e_specs
    else:
        values = {
            "session.start_s": start_s,
            "session.warmup_s": res["warmup_s"],
            "trace.overhead_s": res["traced_pass_s"] - e2e["pass_s"],
            "trace.overhead_share": (res["traced_pass_s"] - e2e["pass_s"]) / e2e["pass_s"],
            "trace.spans": len(tracer.spans),
            "peak_rss_mb": rss,
            **res["layers"],
        }
        specs = layer_specs
        tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"
        ))
    # a layer the workload does not reach did no work: it reads 0
    metrics = {s["name"]: {"value": values.get(s["name"], 0), "unit": s["unit"]} for s in specs}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
