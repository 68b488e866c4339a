"""Per-layer measurements for the traced run. Every figure is timed from
here, around calls into one layer of the package; nothing inside the
package is instrumented.

Driver-side timings are single-threaded, on a sample of the workload's
own pages: they are the serial baseline the Spark figures are read
against.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from go_htmldate_spark.cascade import from_html
from go_htmldate_spark.dom.parser import parse_html, release_tree
from go_htmldate_spark.functions.native import url_date
from go_htmldate_spark.functions.timeparse import find_time
from go_htmldate_spark.operators.extract import sniff_decode
from go_htmldate_spark.plans.bloom import build_blooms, probe_blooms
from go_htmldate_spark.plans.canonical import canonicalize_url, url_hash
from go_htmldate_spark.sources.pages import STAGES
from go_htmldate_spark.sources.warc import read_warc

from common import median

REPEAT = 3  # best-of-N per page damps scheduler jitter on the driver


def _best_us(fn, *args) -> float:
    best = float("inf")
    out = None
    for _ in range(REPEAT):
        t = time.perf_counter()
        out = fn(*args)
        best = min(best, time.perf_counter() - t)
    return best * 1e6, out


def driver_layers(sample, opts) -> tuple[dict, float]:
    """cascade.from_html_us.<stage>, dom.parse_us, functions.find_time_us
    and extract.sniff_us as medians over the sample; also returns the
    mean kernel time of the pages the engine-side fast path leaves to
    the kernel (every stage but `url`)."""
    opts = opts.with_defaults()
    per_stage: dict[str, list[float]] = {s: [] for s in STAGES}
    parse, sniff, ftime = [], [], []
    for stage, url, raw in sample:
        us, html = _best_us(sniff_decode, raw)
        sniff.append(us)
        us, res = _best_us(from_html, html, opts.with_url(url))
        per_stage[stage].append(us)

        def parse_once(h=html):
            release_tree(parse_html(h))

        parse.append(_best_us(parse_once)[0])
        if res.src_string:
            ftime.append(_best_us(find_time, res.src_string)[0])
    out = {
        f"cascade.from_html_us.{s}": (median(v) if v else 0.0, "us")
        for s, v in per_stage.items()
    }
    out["dom.parse_us"] = (median(parse), "us")
    out["functions.find_time_us"] = (median(ftime) if ftime else 0.0, "us")
    out["extract.sniff_us"] = (median(sniff), "us")
    kernel = [us for s, v in per_stage.items() if s != "url" for us in v]
    return out, sum(kernel) / len(kernel)


def native_rows(df, opts) -> int:
    """Rows the engine-side url_date fast path resolves without the
    kernel."""
    opts = opts.with_defaults()
    return df.filter(
        url_date(F.col("url"), opts.min_date, opts.max_date).isNotNull()
    ).count()


def extract_layers(pass_walls, jobs, tasks, rows, native, kernel_us, cores) -> dict:
    pass_s = median(pass_walls)
    udf_rows = rows - native
    return {
        "extract.pass_s": (pass_s, "s"),
        "extract.udf_rows": (udf_rows, "count"),
        "extract.native_frac": (native / rows, "frac"),
        "extract.kernel_share": (udf_rows * kernel_us * 1e-6 / (cores * pass_s), "frac"),
        "extract.jobs": (median(jobs), "count"),
        "extract.tasks": (median(tasks), "count"),
    }


def warc_layers(spark, pattern: str, files: list[str]) -> dict:
    """A read-only pass: records parsed and payload bytes, no
    extraction. Median of two passes."""
    walls, n = [], 0
    for _ in range(2):
        t = time.perf_counter()
        row = read_warc(spark, pattern).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("payload")).alias("b")
        ).head()
        walls.append(time.perf_counter() - t)
        n = int(row["n"])
    read_s = median(walls)
    mb = sum(os.path.getsize(f) for f in files) / 1e6
    return {
        "warc.read_s": (read_s, "s"),
        "warc.mb_per_s": (mb / read_s, "MB/s"),
        "warc.records": (n, "count"),
        "warc.files": (len(files), "count"),
    }


def no_warc_layers() -> dict:
    return {
        "warc.read_s": (0.0, "s"),
        "warc.mb_per_s": (0.0, "MB/s"),
        "warc.records": (0, "count"),
        "warc.files": (0, "count"),
    }


def bloom_layers(seen, known_new, n_partitions: int, m_bits: int) -> dict:
    """Build a filter from `seen` (url_hash), probe it with hashes known
    to be new: build and probe walls and the false-positive rate."""
    t = time.perf_counter()
    state = build_blooms(seen, n_partitions, m_bits).cache()
    state.count()
    build_s = time.perf_counter() - t
    t = time.perf_counter()
    row = probe_blooms(known_new, state, n_partitions, m_bits).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("maybe_seen").cast("long")).alias("fp"),
    ).head()
    probe_s = time.perf_counter() - t
    state.unpersist()
    return {
        "bloom.build_s": (build_s, "s"),
        "bloom.probe_s": (probe_s, "s"),
        "bloom.fp_rate": (int(row["fp"] or 0) / max(1, int(row["n"])), "frac"),
    }


def split_hashes(urls):
    """url_hash of the canonical urls, split in two disjoint halves:
    (seen, known_new). The split re-hashes, so both halves cover every
    filter partition (those are chosen by pmod of url_hash itself)."""
    h = urls.select(url_hash(canonicalize_url(F.col("url"))).alias("url_hash"))
    half = F.pmod(F.xxhash64("url_hash"), F.lit(2))
    return h.filter(half == 0), h.filter(half == 1)


def canonical_layer(urls) -> dict:
    """Wall of canonicalize_url over a url column (xor-ing the hashes
    forces every row through the expression)."""
    t = time.perf_counter()
    urls.select(F.bit_xor(F.xxhash64(canonicalize_url(F.col("url"))))).head()
    return {"canonical.s": (time.perf_counter() - t, "s")}
