"""The two workloads. Each builds its inputs from the seed, runs whole
passes (or whole crawl rounds) as its timed units, and checks every
result it produced against the corpus's golden dates or the
single-threaded crawl oracle.

Closed loop throughout: a pass or round starts when the previous one
has returned its results to the driver.
"""

from __future__ import annotations

import glob
import os
import random
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from go_htmldate_spark.operators.extract import extract_dates
from go_htmldate_spark.options import Options
from go_htmldate_spark.plans.canonical import canonicalize_url, canonicalize_url_py, url_hash
from go_htmldate_spark.plans.oracle import OracleScheduler
from go_htmldate_spark.plans.scheduler import CrawlConfig, CrawlScheduler
from go_htmldate_spark.sources.pages import synth_pages
from go_htmldate_spark.sources.warc import read_warc, warc_to_pages, write_warc_shards


def skip_mode_golden(stage_col, expected_col):
    """Golden date when the extensive search is skipped: the copyright
    year is found only by the extensive search, so those pages carry no
    date; every other stage keeps the corpus's `expected_date`."""
    return F.when(stage_col == "copyright", F.lit("")).otherwise(expected_col)


def sample_pages(pages, per_stage: int):
    """The first `per_stage` pages (by url) of each planted stage, for the
    driver-side layer timings, as (stage, url, html bytes)."""
    w = Window.partitionBy("planted_stage").orderBy("url")
    rows = (
        pages.withColumn("_n", F.row_number().over(w))
        .filter(F.col("_n") <= per_stage)
        .select("planted_stage", "url", "html")
        .collect()
    )
    return [(r["planted_stage"], r["url"], bytes(r["html"])) for r in rows]


class LayerTimes:
    """Walls of named set-up steps, one entry per build."""

    def __init__(self) -> None:
        self.layer_times: dict[str, list[float]] = {}

    def _time_layer(self, key: str, fn):
        t = time.perf_counter()
        out = fn()
        self.layer_times.setdefault(key, []).append(time.perf_counter() - t)
        return out


class WarcExtractWorkload(LayerTimes):
    """Gzip WARC shards written once at set-up from a uniform mix of the
    ten planted stages. Each pass reads, parses and extracts them in
    original-date and time mode with the extensive search on, so the
    WARC reader, charset sniffing, the DOM, find_time and the
    extensive search all sit on the timed path."""

    name = "warc_extract"
    opts = Options(use_original_date=True, extract_time=True)
    n_pages = 16_000
    n_shards = 8

    def __init__(self, spark, work, seed: int) -> None:
        super().__init__()
        self.spark = spark
        self.seed = seed
        self.dir = work.sub("data", "warc")
        self.glob = os.path.join(self.dir, "*.warc.gz")
        self.pages = None          # cached corpus with its golden column
        self.results = []          # pandas (url, date) per timed pass

    def build(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()

        def synth():
            pages = synth_pages(self.spark, self.n_pages, seed=self.seed).select(
                "url", "html", "planted_stage", "expected_date_original"
            ).cache()
            pages.count()
            return pages

        self.pages = self._time_layer("synth", synth)
        self._time_layer("warc_write", lambda: write_warc_shards(
            self.pages.withColumn("warc_ts", F.lit("2024-06-01 00:00:00")),
            self.dir, n_shards=self.n_shards,
        ))

    def input_df(self):
        return warc_to_pages(read_warc(self.spark, self.glob))

    def pass_once(self, keep: bool) -> int:
        """One pass over every shard; returns the documents completed and
        keeps their (url, date) rows for the check."""
        pdf = extract_dates(self.input_df(), self.opts).select("url", "date").toPandas()
        if keep:
            self.results.append(pdf)
        return len(pdf)

    def check(self, corrupt: bool) -> tuple[int, int]:
        """Every document of every timed pass against the golden date; a
        golden url a pass did not return counts as failed too."""
        pdf = self.pages.select("url", "expected_date_original").toPandas()
        gold = dict(zip(pdf["url"], pdf["expected_date_original"]))
        if corrupt:
            url = min(gold)
            gold[url] = "1900-01-01" if gold[url] != "1900-01-01" else ""
        attempted = failed = 0
        for pdf in self.results:
            got = dict(zip(pdf["url"], pdf["date"]))
            attempted += max(len(gold), len(pdf))
            failed += sum(1 for u, d in gold.items() if got.get(u) != d)
            failed += len(pdf) - len(got)           # duplicated rows
            failed += sum(1 for u in got if u not in gold)
        return attempted, failed

    def shard_files(self) -> list[str]:
        return sorted(glob.glob(self.glob))


# -- crawl ------------------------------------------------------------------

RULES = [("/posts/article-1", False), ("/posts/article-12", True)]
# URL-seen filter size of the crawl; the traced warc_extract run builds
# its filter at the same size
BLOOM_PARTITIONS = 4
BLOOM_BITS = 1 << 18


class CrawlWorkload(LayerTimes):
    """A fixed crawl over a heavy-tail corpus (about 30% of pages on
    site0) through every scheduler gate: robots rules and crawl delays,
    per-host budgets, a domain blocklist, a per-IP cap and aging.

    Round 0 runs untimed; rounds 1 and 2 are timed. The bloom
    pre-filter threshold sits between the seen-set sizes after rounds 0
    and 1, and the seen chain compacts when it grows past two segments,
    so round 1 crosses the threshold (a full filter rebuild from the
    seen chain) and round 2 probes the filter and compacts the chain."""

    name = "crawl"
    n_pages = 20_000
    n_hosts = 600
    n_seeds = 6_000
    seen_compact_every = 2

    def __init__(self, spark, work, seed: int) -> None:
        super().__init__()
        self.spark = spark
        self.work = work
        self.seed = seed
        self.pages = None
        self.sched = None
        self.manifests: list[dict] = []
        self.extra_results: list = []
        self.n_states = 0
        rng = random.Random(seed)
        hosts = [f"site{h}.example.org" for h in range(self.n_hosts)]
        self.robots = {
            h: (RULES, 15.0 if i % 10 == 1 else None)
            for i, h in enumerate(hosts) if i % 5 == 1
        }
        self.budgets = {
            h: float(4 + rng.randrange(7))
            for i, h in enumerate(hosts) if i % 11 != 0
        }
        self.budgets["site0.example.org"] = 40.0   # the heavy host
        self.blocked = sorted(rng.sample(hosts[1:], 10))
        self.ip_map = {h: f"10.0.{i % 4}.1" for i, h in enumerate(hosts) if i % 13 == 2}
        self.ip_budget = 12
        self.aging = 0.25
        self.seed_urls = None

    def config(self, bloom_min_seen: int) -> CrawlConfig:
        return CrawlConfig(
            n_bloom_partitions=BLOOM_PARTITIONS,
            bloom_bits=BLOOM_BITS,
            bloom_min_seen=bloom_min_seen,
            salt_threshold=500,
            n_salts=4,
            seen_buckets=4,
            seen_compact_every=self.seen_compact_every,
            ip_budget=self.ip_budget,
            aging=self.aging,
        )

    def _tables(self):
        s = self.spark
        robots = s.createDataFrame(
            [(h, [{"path_prefix": p, "allow": a} for p, a in rules], d)
             for h, (rules, d) in sorted(self.robots.items())],
            "host string, rules array<struct<path_prefix:string, allow:boolean>>,"
            " crawl_delay double",
        )
        budgets = s.createDataFrame(
            sorted(self.budgets.items()), "host string, politeness_budget double"
        )
        blocklist = s.createDataFrame([(d,) for d in self.blocked], "domain string")
        host_ip = s.createDataFrame(sorted(self.ip_map.items()), "host string, ip string")
        return robots, budgets, blocklist, host_ip

    def build(self) -> None:
        """Corpus (cached, url_canon precomputed), gate tables, a fresh
        state dir, and the scheduler initialised from the seeds."""
        if self.pages is not None:
            self.pages.unpersist()

        def synth():
            pages = synth_pages(
                self.spark, self.n_pages, seed=self.seed,
                n_hosts=self.n_hosts, heavy_host_share=30,
            ).select(
                "url", "html", "outlinks", "planted_stage",
                skip_mode_golden(F.col("planted_stage"), F.col("expected_date"))
                .alias("golden"),
            )
            pages = pages.withColumn(
                "url_canon", canonicalize_url(F.col("url"))
            ).cache()
            pages.count()
            return pages

        self.pages = self._time_layer("synth", synth)
        self._time_layer("scheduler_init", self._init_scheduler)

    def _init_scheduler(self) -> None:
        if self.seed_urls is None:
            urls = sorted(self.pages.select("url").toPandas()["url"])
            picks = random.Random(self.seed).sample(urls, self.n_seeds)
            self.seed_urls = [(u, 1.0 + (i % 3) * 0.5) for i, u in enumerate(picks)]
        self.n_states += 1
        self.state_dir = self.work.sub("data", f"crawl_state_{self.n_states}")
        robots, budgets, blocklist, host_ip = self._tables()
        # no pre-filter until round_once pins the threshold after round 0
        self.sched = CrawlScheduler(
            self.spark, self.pages, robots, budgets, self.state_dir,
            self.config(1 << 62), blocklist=blocklist, host_ip=host_ip,
        )
        self.sched.init_from_seeds(self.spark.createDataFrame(
            self.seed_urls, "url string, priority double"
        ))
        self.manifests = []

    def round_once(self) -> dict:
        t = time.perf_counter()
        m = self.sched.run_round()
        m["wall_s"] = time.perf_counter() - t
        self.manifests.append(m)
        if len(self.manifests) == 1:
            # the seen set crosses the pre-filter threshold in round 1:
            # its full rebuild and the probing round after it are timed
            self.threshold = m["n_seen"] + 1
            self.sched.config = self.config(self.threshold)
        return m

    def crossing_round(self) -> int:
        """The round whose seen set first reached the threshold (it
        rebuilt the filter from the whole seen chain)."""
        return next(
            r for r, m in enumerate(self.manifests) if m["n_seen"] >= self.threshold
        )

    def extract_pass(self, opts) -> int:
        """The crawl's extraction configuration over its whole corpus,
        outside the scheduler; rows are checked like fetched pages."""
        pdf = extract_dates(self.pages.select("url", "html"), opts) \
            .select("url", "date").toPandas()
        self.extra_results.append(pdf)
        return len(pdf)

    def unseen_hashes(self):
        """url_hash of every corpus page the crawl has not seen."""
        return self.pages.select(
            url_hash(F.col("url_canon")).alias("url_hash")
        ).join(self.sched.seen, "url_hash", "left_anti")

    def outlink_urls(self):
        return self.pages.select(F.explode("outlinks").alias("url"))

    def _fetched(self, r: int) -> tuple[list[str], dict[str, str]]:
        """Round r's fetch list in (priority desc, url asc) order, and
        the extracted date of each fetched url."""
        pdf = (
            self.spark.read.parquet(f"{self.state_dir}/round_{r}/fetched")
            .orderBy(F.desc("priority"), F.asc("url"))
            .toPandas()
        )
        return list(pdf["url"]), dict(zip(pdf["url"], pdf["date"]))

    def oracle(self, n_rounds: int) -> OracleScheduler:
        pdf = self.pages.select("url_canon", "golden", "outlinks").toPandas()
        pages = {
            u: (g, list(o))
            for u, g, o in zip(pdf["url_canon"], pdf["golden"], pdf["outlinks"])
        }
        orc = OracleScheduler(
            pages=pages,
            robots={h: rules for h, (rules, _) in self.robots.items()},
            budgets=dict(self.budgets),
            delays={h: d for h, (_, d) in self.robots.items() if d is not None},
            blocked_domains=set(self.blocked),
            ip_map=dict(self.ip_map),
            ip_budget=self.ip_budget,
            aging=self.aging,
        )
        orc.init_from_seeds(self.seed_urls)
        orc.run(n_rounds)
        return orc

    def check(self, corrupt: bool) -> tuple[int, int]:
        """Each round's fetch list (priority desc, url asc) position by
        position against the oracle, each fetched page's date against the
        golden date, and the final URL-seen set as one operation. Pages
        extracted outside the scheduler are checked against the golden
        date."""
        orc = self.oracle(len(self.manifests))
        if corrupt:
            log = orc.fetch_log[1]
            log[0], log[-1] = log[-1], log[0]
        gold = {u: g for u, (g, _) in orc.pages.items()}
        attempted = failed = 0
        for r, want in enumerate(orc.fetch_log):
            urls, dates = self._fetched(r)
            n = max(len(urls), len(want), 1)
            attempted += n
            for i in range(n):
                u = urls[i] if i < len(urls) else None
                w = want[i] if i < len(want) else None
                if u is None or u != w or dates[u] != gold.get(u):
                    failed += 1
        # the scheduler keeps xxhash64 of each seen url
        want_seen = {
            r[0] for r in self.spark.createDataFrame(
                [(u,) for u in orc.seen], "url string"
            ).select(F.xxhash64("url")).collect()
        }
        attempted += 1
        failed += {r[0] for r in self.sched.seen.collect()} != want_seen
        for pdf in self.extra_results:
            attempted += max(len(pdf), len(gold))
            got = dict(zip(pdf["url"], pdf["date"]))
            failed += sum(1 for u, d in got.items() if d != gold.get(canonicalize_url_py(u)))
            failed += max(0, len(gold) - len(got))
        return attempted, failed

    def state_bytes(self, r: int) -> int:
        base = os.path.join(self.state_dir, f"round_{r}")
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(base) for f in fs
        )
