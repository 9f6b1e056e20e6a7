"""Seed-driven workload inputs, generated with ``tweetf0rm_spark.datagen``
and cached on disk.

Generation is not part of any timed figure. Inputs are cached per
(workload, seed, sizes, generator and benchmark source), so a second run
at the same seed reads the same files (and checks its output against the
digest the first run recorded there), and a change to the generator or
to the checks regenerates them.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tweetf0rm_spark import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
_DELAYS = [0.0, 0.5, 1.0, 5.0]


@contextlib.contextmanager
def datagen_seed(seed: int):
    """Run ``datagen`` with its hash seed set to ``seed``.

    ``datagen.h`` mixes a keyword ``seed`` (default ``datagen.SEED``)
    into every value, and ``gen_frontier_df`` reads ``datagen.SEED``;
    the corpus generators do not take a seed argument, so the benchmark
    swaps the default for the duration of one generation call."""
    old_seed, old_kw = datagen.SEED, datagen.h.__kwdefaults__
    datagen.SEED, datagen.h.__kwdefaults__ = seed, {"seed": seed}
    try:
        yield
    finally:
        datagen.SEED, datagen.h.__kwdefaults__ = old_seed, old_kw


def _source_digest() -> str:
    import tweetf0rm_spark.extract as extract_mod

    md = hashlib.sha256()
    for path in (datagen.__file__, extract_mod.__file__,
                 *(os.path.join(HERE, f) for f in ("inputs.py", "workloads.py",
                                                    "checks.py"))):
        with open(path, "rb") as f:
            md.update(f.read())
    return md.hexdigest()[:16]


def cache_dir(root: str, workload: str, seed: int, params: dict) -> str:
    key = json.dumps([workload, seed, params, _source_digest()], sort_keys=True)
    tag = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(root, "cache", f"{workload}-s{seed}-{tag}")


def _publish(tmp: str, final: str) -> None:
    """Atomically move a finished input directory into place."""
    try:
        os.replace(tmp, final)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)


#: host of the corpus's dead links (``gen_corpus``: urls not in pages)
DEAD_HOST = "void.site9999.example"


def _write_urls(path: str, urls) -> None:
    pq.write_table(pa.table({"url": pa.array(list(urls), pa.string())}), path)


def ensure_corpus(root: str, workload: str, seed: int, params: dict) -> str:
    """``write_corpus`` inputs for ``crawl_loop``, plus the crawl it
    resumes, as three url lists:

    - ``resume_seen``: urls fetched before, the seeds and one in
      ``seen_share`` of the corpus pages, plus the retry urls below;
    - ``resume_frontier``: the raw outlinks of those pages, queued (some
      point at pages already seen, ~2% are non-canonical variants, ~3%
      are dead links);
    - ``resume_retry``: ``retries`` of those outlinks that are dead
      links, whose first fetch failed.
    """
    final = cache_dir(root, workload, seed, params)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    with datagen_seed(seed):
        datagen.write_corpus(tmp, n_pages=params["n_pages"],
                             n_domains=params["n_domains"],
                             n_seeds=params["n_seeds"])
        col = lambda name, c: pq.read_table(
            os.path.join(tmp, f"{name}.parquet"), columns=[c]).column(c).to_pylist()
        prev = set(col("seeds", "url")) | {
            u for u in col("pages", "url")
            if datagen.h("prev", u, seed=seed) % params["seen_share"] == 0}
        links = pq.read_table(os.path.join(tmp, "outlinks.parquet"),
                              columns=["src_url", "dst_url"]).to_pandas()
        queued = set(links["dst_url"][links["src_url"].isin(prev)])
        dead = sorted((u for u in queued if u.split("/")[2] == DEAD_HOST),
                      key=lambda u: datagen.h("retry", u, seed=seed))
        retry = dead[:params["retries"]]
    _write_urls(os.path.join(tmp, "resume_seen.parquet"), sorted(prev | set(retry)))
    _write_urls(os.path.join(tmp, "resume_frontier.parquet"),
                sorted(queued - set(retry)))
    _write_urls(os.path.join(tmp, "resume_retry.parquet"), retry)
    _publish(tmp, final)
    return final


def ensure_frontier(start_session, root: str, seed: int, params: dict) -> str:
    """Raw frontier, seen set and side tables for ``frontier_schedule``.

    ``gen_frontier_df`` yields canonical URLs over Zipf hot domains; the
    benchmark stores them as a raw ``QUEUED`` frontier, each rewritten
    into one non-canonical variant whose
    canonical form is the original URL: upper-case scheme and host,
    a fragment, tracker parameters, or (2%) a ``%``-escaped path that
    only the ``canon_url_pandas`` route normalises. ``expected`` keeps
    the canonical rows for the output checks; the program never reads it.
    ``start_session()`` is called for a Spark session only when the
    inputs are not cached yet.
    """
    from pyspark.sql import functions as F

    final = cache_dir(root, "frontier_schedule", seed, params)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    spark = start_session()
    with datagen_seed(seed):
        base = datagen.gen_frontier_df(
            spark, params["n_rows"], n_domains=params["n_domains"],
            n_partitions=8,
        )
    url, host = F.col("url"), F.col("host")
    path = F.regexp_extract(url, r"^https://[^/]+(/.*)$", 1)
    v = F.pmod(F.xxhash64(url, F.lit(seed)), F.lit(100))
    raw_url = (
        F.when(v < 25, F.concat(F.lit("HTTPS://"), F.upper(host), path))
        .when(v < 50, F.concat(url, F.lit("#frag-"), v.cast("string")))
        .when(v < 75, F.concat(url, F.lit("?utm_source=feed&fbclid="),
                               v.cast("string")))
        .when(v < 77, F.concat(F.lit("https://"), host,
                               F.regexp_replace(path, "^/p/", "/%70/")))
        .otherwise(url)
    )
    # a frontier table as the crawl stores it; the identity columns stay
    # null because run_wave recomputes them from the canonical url
    base.select(
        raw_url.alias("url"), F.lit(None).cast("long").alias("url_hash"),
        F.lit(None).cast("string").alias("host"),
        F.lit(None).cast("string").alias("registered_domain"), "depth",
        "priority", F.lit("QUEUED").alias("state"), F.lit(0).alias("wave"),
    ).write.parquet(os.path.join(tmp, "frontier_raw.parquet"))
    base.select("url", "url_hash", "host", "registered_domain", "depth",
                "priority").write.parquet(os.path.join(tmp, "expected.parquet"))
    seen_pick = F.pmod(F.xxhash64(F.col("url_hash"), F.lit(seed + 1)),
                       F.lit(1000)) < int(params["seen_share"] * 1000)
    base.filter(seen_pick).select("url", "url_hash").write.parquet(
        os.path.join(tmp, "seen.parquet"))

    hosts = sorted(pq.read_table(os.path.join(tmp, "expected.parquet"),
                                 columns=["host"]).column("host").unique()
                   .to_pylist())
    rules, budget = [], {}
    for hst in hosts:
        hv = datagen.h("rob", hst, seed=seed) % 100
        delay = _DELAYS[datagen.h("delay", hst, seed=seed) % 4]
        order = 0
        if hv < 2:  # disallow everything
            rules.append((hst, order, "*", False, "/", delay))
            order += 1
        elif hv < 12:  # disallow a sixteenth of the host's paths
            pfx = "/p/" + "0123456789abcdef"[datagen.h("pfx", hst, seed=seed) % 16]
            rules.append((hst, order, "*", False, pfx, delay))
            order += 1
        rules.append((hst, order, "*", True, "/", delay))
        dom = hst.split(".", 1)[1]
        j = int(dom[len("site"):].split(".", 1)[0])
        budget[dom] = max(1, 64 >> (j % 6))
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(
        rules, columns=["host", "rule_order", "agent", "allow", "path_prefix",
                        "crawl_delay"]), preserve_index=False),
        os.path.join(tmp, "robots_rules.parquet"))
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(
        sorted(budget.items()), columns=["registered_domain", "max_per_wave"]),
        preserve_index=False),
        os.path.join(tmp, "politeness_budget.parquet"))
    _publish(tmp, final)
    return final
