"""Benchmark of record for go_htmldate_spark.

    python3 perfbench/run.py --workload warc_extract --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads: warc_extract, crawl (README.md
says what each stresses). `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones. The last line of standard
output is the result object; the lines before it record the pinned
settings and the sample counts. `--corrupt` alters one golden date (or,
for crawl, one oracle fetch-list entry) before the check, to show that
the check fires.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from common import (
    EXIT_NO_CDOM,
    EXIT_NO_PACKAGE,
    JobCounter,
    RssSampler,
    Steal,
    WorkDir,
    gc_seconds,
    median,
    pin_environment,
    stop_session,
    versions,
    wait_descendants,
)

SETUP_REPS = 3          # setup_s is the median of this many input builds
MIN_WARMUP = 3          # warm-up passes before the steadiness test
MAX_WARMUP = 4
STEADY = 0.10           # two consecutive warm-up passes within 10%
MIN_PASSES = 4          # a timed section has at least this many passes


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["warc_extract", "crawl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def timed_builds(wl) -> list[float]:
    walls = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.build()
        walls.append(time.perf_counter() - t)
    return walls


def run_section(wl, seconds: float, counter=None):
    """Whole passes back to back until `seconds` have passed (at least
    MIN_PASSES). Returns (docs, section wall, pass walls, per-pass
    (jobs, tasks))."""
    docs, walls, jobs = 0, [], []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        docs += wl.pass_once(keep=True)
        walls.append(time.perf_counter() - t)
        if counter is not None:
            jobs.append(counter.take())
        if time.perf_counter() - t0 >= seconds and len(walls) >= MIN_PASSES:
            return docs, time.perf_counter() - t0, walls, jobs


def warm_up(wl) -> list[float]:
    walls = []
    while len(walls) < MAX_WARMUP:
        t = time.perf_counter()
        wl.pass_once(keep=False)
        walls.append(time.perf_counter() - t)
        if len(walls) >= MIN_WARMUP and abs(walls[-1] - walls[-2]) <= STEADY * walls[-2]:
            break
    return walls


def run_passes(spark, wl, args, session_s, cores):
    import layers
    from workloads import BLOOM_BITS, BLOOM_PARTITIONS, sample_pages

    builds = timed_builds(wl)
    warm_walls = warm_up(wl)
    gc0, steal = gc_seconds(spark), Steal()
    docs, wall, walls, _ = run_section(wl, args.seconds)
    gc_s, steal = gc_seconds(spark) - gc0, steal.frac()
    e2e = {
        "setup_s": (session_s + median(builds), "s"),
        "docs_per_s": (docs / wall, "docs/s"),
        "round_p50_s": (median(walls), "s"),
    }
    detail = {"passes": len(walls), "docs": docs, "section_s": wall,
              "builds_s": builds, "warmup_s": warm_walls, "pass_s": walls,
              "steal_frac": steal}
    if not args.trace:
        return e2e, detail, None

    counter = JobCounter(spark)
    t_docs, t_wall, t_walls, t_jobs = run_section(wl, args.seconds, counter)
    rows = t_docs // len(t_walls)
    per = {}
    drv, kernel_us = layers.driver_layers(sample_pages(wl.pages, 30), wl.opts)
    per.update(drv)
    per.update(layers.extract_layers(
        t_walls, [j for j, _ in t_jobs], [t for _, t in t_jobs], rows,
        layers.native_rows(wl.input_df(), wl.opts), kernel_us, cores,
    ))
    per.update(layers.warc_layers(spark, wl.glob, wl.shard_files()))
    per["sources.warc_write_s"] = (median(wl.layer_times["warc_write"]), "s")
    per.update(no_scheduler_layers())
    seen, new = layers.split_hashes(wl.pages.select("url"))
    per.update(layers.bloom_layers(seen, new, BLOOM_PARTITIONS, BLOOM_BITS))
    per.update(layers.canonical_layer(wl.pages.select("url")))
    per.update(common_layers(session_s, wl, gc_s, len(warm_walls), steal,
                             t_docs / t_wall, docs / wall))
    detail["traced_passes"] = len(t_walls)
    return e2e, detail, per


MEASURED_ROUNDS = range(1, 3)


def no_scheduler_layers() -> dict:
    out = {"scheduler.init_s": (0.0, "s"), "scheduler.fetch_yield": (0.0, "frac"),
           "scheduler.crossing_round": (0, "count"),
           "scheduler.compactions": (0, "count")}
    for r in MEASURED_ROUNDS:
        out[f"scheduler.round_s.{r}"] = (0.0, "s")
        out[f"scheduler.jobs.{r}"] = (0, "count")
        out[f"scheduler.state_bytes.{r}"] = (0, "bytes")
        out[f"scheduler.frontier.{r}"] = (0, "count")
        out[f"scheduler.seen_chain_len.{r}"] = (0, "count")
    return out


def common_layers(session_s, wl, gc_s, warm, steal, traced_rate, rate) -> dict:
    return {
        "host.steal_frac": (steal, "frac"),
        "session.start_s": (session_s, "s"),
        "sources.synth_s": (median(wl.layer_times["synth"]), "s"),
        "jvm.gc_s": (gc_s, "s"),
        "warmup.passes": (warm, "count"),
        "trace.overhead_frac": (1.0 - traced_rate / rate, "frac"),
    }


def crawl_section(wl, counter=None):
    """Round 0 untimed, then the measured rounds. Returns (fetched docs,
    section wall, round walls, per-round (jobs, tasks), seconds spent in
    the trace calls)."""
    wl.round_once()
    if counter is not None:
        counter.take()
    docs, walls, jobs, trace_s = 0, [], [], 0.0
    t0 = time.perf_counter()
    for _ in MEASURED_ROUNDS:
        m = wl.round_once()
        docs += m["n_fetched"]
        walls.append(m["wall_s"])
        if counter is not None:
            t = time.perf_counter()
            jobs.append(counter.take())
            trace_s += time.perf_counter() - t
    return docs, time.perf_counter() - t0, walls, jobs, trace_s


def run_crawl(spark, wl, args, session_s, cores):
    import layers
    from workloads import BLOOM_BITS, BLOOM_PARTITIONS, sample_pages
    from go_htmldate_spark.options import Options

    builds = timed_builds(wl)
    counter = JobCounter(spark) if args.trace else None
    gc0, steal = gc_seconds(spark), Steal()
    docs, wall, walls, jobs, trace_s = crawl_section(wl, counter)
    gc_s, steal = gc_seconds(spark) - gc0, steal.frac()
    e2e = {
        "setup_s": (session_s + median(builds), "s"),
        "docs_per_s": (docs / wall, "docs/s"),
        "round_p50_s": (median(walls), "s"),
    }
    ms = wl.manifests
    detail = {"rounds": len(walls), "docs": docs, "section_s": wall,
              "builds_s": builds, "round_walls": [m["wall_s"] for m in ms],
              "scheduled": [m["n_scheduled"] for m in ms],
              "seen": [m["n_seen"] for m in ms],
              "seen_chain": [m["seen_chain"] for m in ms],
              "steal_frac": steal}
    if not args.trace:
        return e2e, detail, None

    per = {}
    per["scheduler.init_s"] = (median(wl.layer_times["scheduler_init"]), "s")
    sched_n = sum(ms[r]["n_scheduled"] for r in MEASURED_ROUNDS)
    per["scheduler.fetch_yield"] = (docs / max(1, sched_n), "frac")
    per["scheduler.crossing_round"] = (wl.crossing_round(), "count")
    per["scheduler.compactions"] = (sum(
        1 for r in MEASURED_ROUNDS if ms[r]["seen_chain"] == [f"round_{r}/seen_compact"]
    ), "count")
    for i, r in enumerate(MEASURED_ROUNDS):
        per[f"scheduler.round_s.{r}"] = (walls[i], "s")
        per[f"scheduler.jobs.{r}"] = (jobs[i][0], "count")
        per[f"scheduler.state_bytes.{r}"] = (wl.state_bytes(r), "bytes")
        per[f"scheduler.frontier.{r}"] = (ms[r]["n_frontier"], "count")
        per[f"scheduler.seen_chain_len.{r}"] = (len(ms[r]["seen_chain"]), "count")

    # the extraction layer as the crawl calls it, on the crawl's corpus
    opts = Options(skip_extensive_search=True)
    ex_counter = JobCounter(spark)
    ex_walls, ex_jobs, rows = [], [], 0
    for _ in range(2):
        t = time.perf_counter()
        rows = wl.extract_pass(opts)
        ex_walls.append(time.perf_counter() - t)
        ex_jobs.append(ex_counter.take())
    drv, kernel_us = layers.driver_layers(sample_pages(wl.pages, 30), opts)
    per.update(drv)
    per.update(layers.extract_layers(
        ex_walls, [j for j, _ in ex_jobs], [t for _, t in ex_jobs], rows,
        layers.native_rows(wl.pages, opts), kernel_us, cores,
    ))
    per.update(layers.no_warc_layers())
    per["sources.warc_write_s"] = (0.0, "s")
    per.update(layers.bloom_layers(
        wl.sched.seen, wl.unseen_hashes(), BLOOM_PARTITIONS, BLOOM_BITS
    ))
    per.update(layers.canonical_layer(wl.outlink_urls()))
    # a second crawl to compare against would run warmer than the first,
    # so here the overhead is the timed section's share spent tracing
    per.update(common_layers(session_s, wl, gc_s, 1, steal,
                             1.0 - trace_s / wall, 1.0))
    return e2e, detail, per


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "go_htmldate_spark", "__init__.py")):
        print(f"no go_htmldate_spark package under {root}", file=sys.stderr)
        return EXIT_NO_PACKAGE
    sys.path.insert(0, root)
    with WorkDir(root, args.workload) as work:
        settings = pin_environment(root, work)
        from go_htmldate_spark.dom import cnative, parser

        if cnative.get() is None or parser._CDOM is None:
            print("dom.cnative did not load; refusing to time the "
                  "pure-Python DOM", file=sys.stderr)
            return EXIT_NO_CDOM
        from go_htmldate_spark.session import get_spark

        import workloads

        rss = RssSampler().start()
        t = time.perf_counter()
        spark = get_spark()
        session_s = time.perf_counter() - t
        try:
            spark.sparkContext.setLogLevel("ERROR")
            settings.update(versions(spark))
            print("settings " + json.dumps(settings), flush=True)
            wl = {
                "warc_extract": workloads.WarcExtractWorkload,
                "crawl": workloads.CrawlWorkload,
            }[args.workload](spark, work, args.seed)
            runner = run_crawl if args.workload == "crawl" else run_passes
            e2e, detail, per = runner(spark, wl, args, session_s, settings["cores"])
            peak_mb = rss.stop()
            t = time.perf_counter()
            attempted, failed = wl.check(args.corrupt)
            detail["check_s"] = time.perf_counter() - t
        finally:
            rss.stop()
            stop_session(spark)
            wait_descendants()
    e2e["peak_rss_mb"] = (peak_mb, "MB")
    print("detail " + json.dumps(detail), flush=True)
    metrics = per if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
