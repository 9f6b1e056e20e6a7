"""The workloads, each driven through the program's public entry points:
``Crawl`` for ``crawl_loop`` and ``run_wave`` for ``frontier_schedule``.

A workload has five phases. ``prepare`` makes or finds the cached
inputs (untimed); ``warm_up`` runs once, untimed, before the set-ups;
``setup`` builds the state a timed repetition starts from (part of
``setup_s``); ``rep`` is one timed repetition; ``verify`` checks a
repetition's outputs against pandas oracles, untimed. Layer functions are looked up on their modules
at call time, so the traced run's wrappers see every call.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
import settings
import tweetf0rm_spark.wave as wave
from tweetf0rm_spark.crawl import HEALTH_DDL, Crawl, CrawlConfig
from tweetf0rm_spark.operators.priority import priority_col
from tweetf0rm_spark.operators.seenset import DEFAULT_P, build_seen_blobs

#: the columns of the pages table ``run_wave`` joins for html
PAGES_DDL = "url string, warc_ts timestamp, html binary, lang string"
#: lineage table schema, as ``Crawl.init`` commits it
LINEAGE_DDL = ("registered_domain string, candidates long, deduped long, "
               "blocked long, deferred long, fetched long, wave int")


def _read_pd(path: str, columns=None) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


class Workload:
    name = ""
    #: waves in one timed pass
    waves_per_rep = 1

    def __init__(self, root: str, seed: int, work: str):
        self.root, self.seed, self.work = root, seed, work
        self.ref: dict = {}  # digest of the first, checked pass

    def warm_up(self, spark) -> None:
        """Untimed work run once, before the set-ups."""

    def rep_result(self, wall, urls, pages, digest, waves=None) -> dict:
        return {"wall": wall, "urls": urls, "pages": pages, "digest": digest,
                "wave_walls": waves or [wall]}

    def set_reference(self, digest) -> list[str]:
        """Adopt ``digest`` as this run's reference output and check it
        against the one the first run at this seed recorded beside the
        cached inputs."""
        self.ref["digest"] = digest
        path = os.path.join(self.inp, f"digest-{self.name}.json")
        mine = json.dumps(digest)
        if not os.path.exists(path):
            tmp = f"{path}.tmp-{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(mine)
            os.replace(tmp, path)
            return []
        with open(path) as f:
            first = f.read()
        if first != mine:
            return [f"{self.name}: output digest {mine} differs from an "
                    f"earlier run at this seed ({first})"]
        return []

    def verify(self, res: dict) -> list[str]:
        if res["digest"] != self.ref.get("digest"):
            return [f"{self.name}: output digest {res['digest']} differs "
                    f"from the first pass {self.ref.get('digest')}"]
        return []


# ------------------------------------------------------------ schedule
class FrontierSchedule(Workload):
    name = "frontier_schedule"

    def prepare(self, start_session) -> None:
        self.inp = inputs.ensure_frontier(start_session, self.root, self.seed,
                                          settings.FRONTIER)

    def setup(self, spark) -> None:
        rd = lambda n: spark.read.parquet(os.path.join(self.inp, f"{n}.parquet"))
        self.spark = spark
        self.frontier = rd("frontier_raw")
        self.seen = rd("seen")
        self.robots = rd("robots_rules")
        self.budget = rd("politeness_budget")
        self.pages = spark.createDataFrame([], PAGES_DDL)
        blob_path = os.path.join(self.work, "seen_blobs.parquet")
        build_seen_blobs(self.seen, p=DEFAULT_P).write.mode("overwrite") \
            .parquet(blob_path)
        self.blobs = spark.read.parquet(blob_path)

    def warm_up(self, spark) -> None:
        """An untimed set-up and pass, so the Python workers and the JIT
        are ready before the timed set-ups and the first timed pass.
        Input generation (a first run at a seed) also warms the JVM; after
        a whole pass that no longer shows in either."""
        self.setup(spark)
        self.fetch_batch(self.frontier).toPandas()

    def fetch_batch(self, frontier):
        """``run_wave``'s fetch batch: canonicalize, dedupe within and
        against the seen set (bloom pre-check + exact confirm), robots,
        politeness, global fetch order and the crawl-delay slots. The
        pages table is empty; the batch does not read it."""
        r = wave.run_wave(self.spark, frontier, self.seen, self.pages,
                          self.robots, self.budget, seen_blobs=self.blobs)
        return r.fetch_batch.select("url", "registered_domain", "fetch_order")

    def rep(self, spark) -> dict:
        """The sink collects the batch's three columns (~25k rows) to the
        driver; they are digested and checked after the clock stops."""
        t0 = time.perf_counter()
        got = self.fetch_batch(self.frontier).toPandas()
        wall = time.perf_counter() - t0
        got = got.sort_values("fetch_order", kind="mergesort")
        digest = checks.digest(got["fetch_order"], got["url"],
                               got["registered_domain"])
        res = self.rep_result(wall, settings.FRONTIER["n_rows"], len(got), digest)
        res["frame"] = got
        return res

    def verify(self, res: dict) -> list[str]:
        """The first pass is checked in full; later ones must reproduce
        its output digest."""
        got = res.pop("frame")
        if "digest" in self.ref:
            return super().verify(res)
        problems = self.set_reference(res["digest"])
        expected = _read_pd(os.path.join(self.inp, "expected.parquet"))
        seen = set(_read_pd(os.path.join(self.inp, "seen.parquet"), ["url"])["url"])
        rules = checks.rules_by_host(_read_pd(os.path.join(self.inp, "robots_rules.parquet")))
        bud = _read_pd(os.path.join(self.inp, "politeness_budget.parquet"))
        budget = dict(zip(bud["registered_domain"], bud["max_per_wave"]))
        what = self.name
        problems += (
            checks.check_unique(got["url"], what)
            + checks.check_not_seen(got["url"], seen, what)
            + checks.check_budget(got["registered_domain"], budget, what)
            + checks.check_robots(got["url"], rules, what)
            + checks.check_permutation(got["fetch_order"], what)
            + checks.check_schedule(
                got, checks.expected_schedule(expected, seen, rules, budget), what)
        )
        return problems


# --------------------------------------------------------------- crawl
class CrawlLoop(Workload):
    """``Crawl.step()`` repeated on a crawl in progress.

    Each set-up commits snapshot 0 of a crawl that resumes from earlier
    work (``inputs.ensure_corpus``): a non-empty seen set with its bloom
    blobs, a queued frontier in which some urls are already seen, and a
    retry ledger whose urls sit in the frontier as ``RETRY`` rows. It then
    compacts the seen set (``Crawl.compact``), so every timed wave dedupes
    against a bucketed compacted part and a blob chain, re-attempts
    failed fetches, and, with ``max_seen_parts`` 1, compacts again after
    its commit."""

    name = "crawl_loop"
    waves_per_rep = settings.CRAWL["waves"]

    def prepare(self, start_session) -> None:
        params = {k: settings.CRAWL[k] for k in
                  ("n_pages", "n_domains", "n_seeds", "seen_share", "retries")}
        self.inp = inputs.ensure_corpus(self.root, self.name, self.seed, params)
        corpus = _read_pd(os.path.join(self.inp, "pages.parquet"), ["url", "text"])
        self.corpus_text = dict(zip(corpus["url"], corpus["text"]))
        self.rules = checks.rules_by_host(
            _read_pd(os.path.join(self.inp, "robots_rules.parquet")))
        bud = _read_pd(os.path.join(self.inp, "politeness_budget.parquet"))
        self.budget_map = dict(zip(bud["registered_domain"], bud["max_per_wave"]))
        self.stores: list[str] = []
        self.n_store = 0

    def crawl(self, spark, store_root: str) -> Crawl:
        rd = lambda n: spark.read.parquet(os.path.join(self.inp, f"{n}.parquet"))
        return Crawl(spark, store_root, rd("pages"), rd("robots_rules"),
                     rd("politeness_budget"),
                     CrawlConfig(max_seen_parts=settings.CRAWL["max_seen_parts"]))

    def start_state(self, spark) -> str:
        """Commit the resumed crawl's snapshot 0 into a new store and
        compact its seen set; return the store root."""
        self.n_store += 1
        root = os.path.join(self.work, f"store-{self.n_store}")
        c = self.crawl(spark, root)
        rd = lambda n: spark.read.parquet(os.path.join(self.inp, f"{n}.parquet"))

        # canonicalize the three url lists once; each committed table
        # reads the stored result
        lists = ("resume_frontier", "resume_retry", "resume_seen")
        raw = rd(lists[0]).withColumn("list", F.lit(lists[0]))
        for name in lists[1:]:
            raw = raw.unionByName(rd(name).withColumn("list", F.lit(name)))
        canon = wave.canonicalized(raw).localCheckpoint(eager=True)
        pick = lambda name: canon.filter(F.col("list") == name).drop("list")

        def frontier_rows(name, state):
            return (pick(name)
                    .withColumn("depth", F.lit(1))
                    .withColumn("priority", priority_col(1.0, F.col("depth"), 0.0))
                    .withColumn("state", F.lit(state))
                    .withColumn("wave", F.lit(0))
                    .select(*wave.FRONTIER_COLS))

        queued = wave.dedupe_within(frontier_rows("resume_frontier", "QUEUED"))
        retry = frontier_rows("resume_retry", "RETRY")
        seen = pick("resume_seen").select("url", "url_hash")
        c.store.commit(0, {
            "frontier": queued.unionByName(retry),
            "seen_delta": seen,
            "seen_blobs": build_seen_blobs(seen, p=c.cfg.p, wave=0),
            "lineage": spark.createDataFrame([], LINEAGE_DDL),
            "failed": retry.withColumn("retries", F.lit(1)).select(
                "url", "url_hash", "host", "registered_domain", "depth",
                "priority", "retries"),
            "health": spark.createDataFrame([], HEALTH_DDL),
        }, meta={"wave": 0, "p": c.cfg.p})
        c.compact(buckets=c.cfg.compact_buckets)
        return root

    def setup(self, spark) -> None:
        self.stores.append(self.start_state(spark))

    def rep(self, spark) -> dict:
        """Timed waves on a store a set-up prepared (or, once those are
        used up, one prepared here before the clock starts)."""
        store = self.stores.pop() if self.stores else self.start_state(spark)
        c = self.crawl(spark, store)
        walls, stats = [], []
        t0 = time.perf_counter()
        for _ in range(self.waves_per_rep):
            tw = time.perf_counter()
            stats.append(c.step())
            walls.append(time.perf_counter() - tw)
        wall = time.perf_counter() - t0
        res = self.rep_result(wall, 0, 0, None, walls)
        res["store"] = store
        res["compacted"] = [bool(s["compacted"]) for s in stats]
        self._drop_compacted_tables(spark)
        return res

    @staticmethod
    def _drop_compacted_tables(spark) -> None:
        for t in spark.catalog.listTables():
            if t.name.startswith("seen_compacted_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    def verify(self, res: dict) -> list[str]:
        """Read each wave's snapshot back with pyarrow and check it, then
        fill in the pass's counts and digests."""
        store = res.pop("store")
        tbl = lambda name, s, cols=None: _read_pd(
            os.path.join(store, name, f"snap={s}"), cols)
        problems: list[str] = []
        seen = set(tbl("seen_delta", 0, ["url"])["url"])
        trace, urls, pages = [], 0, 0
        for w in range(self.waves_per_rep):
            snap, what = w + 1, f"{self.name} wave {w}"
            retry_ok = set(tbl("failed", w, ["url"])["url"])
            log = tbl("fetch_log", snap, ["url", "registered_domain", "fetch_order"])
            problems += (
                checks.check_unique(log["url"], what)
                + checks.check_not_seen(log["url"], seen, what, retry_ok)
                + checks.check_budget(log["registered_domain"], self.budget_map, what)
                + checks.check_robots(log["url"], self.rules, what)
                + checks.check_permutation(log["fetch_order"], what)
            )
            fetched = tbl("pages_delta", snap, ["url", "url_hash", "text", "html"])
            sample = fetched[fetched["url_hash"] % 8 == 0]
            problems += checks.check_text(
                sample["url"], sample["text"],
                [None if h is None else bytes(h) for h in sample["html"]],
                self.corpus_text, what)
            if not res["compacted"][w]:
                problems.append(f"{what}: the seen set was not compacted after the wave")
            seen |= set(tbl("seen_delta", snap, ["url"])["url"])
            log = log.sort_values("fetch_order")
            trace += [(w, o, u) for o, u in zip(log["fetch_order"], log["url"])]
            urls += int(tbl("lineage", snap, ["candidates"])["candidates"].sum())
            pages += len(log)
        res["urls"], res["pages"] = urls, pages
        res["store_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(store) for f in files)
        res["digest"] = (checks.digest(trace), checks.digest(sorted(seen)))
        shutil.rmtree(store, ignore_errors=True)
        if "digest" not in self.ref:
            problems += self.set_reference(res["digest"])
        return problems + super().verify(res)


WORKLOADS = {w.name: w for w in (CrawlLoop, FrontierSchedule)}
