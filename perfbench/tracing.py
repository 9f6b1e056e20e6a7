"""Spans around calls into the program's layers, for the traced run.

A :class:`Tracer` records spans (name, start, end, parent, run id) in
memory together with the Spark jobs each span issued and their task
totals from Spark's status store, and writes them out at the end.
:func:`install` wraps the public functions of each layer, as the program
looks them up, so that every call runs inside a span and its lazy output
is materialised (computed and stored) at the boundary; that is what
lets a span's time belong to its layer. Untraced passes of a traced run
wrap only the durable layers, whose calls compute their own outputs.
Nothing here runs unless the benchmark is started with ``--trace 1``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

#: stage-data fields summed per span, and their names
COUNTERS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "task_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
}
#: spans that only count rows for the trace; their jobs are tracing cost
AUX = "trace.aux"
COMMIT_TABLES = ("frontier", "failed", "health", "seen_delta", "seen_blobs",
                 "lineage", "fetch_log", "pages_delta")
#: per-layer metric -> unit; time and volume figures are per wave
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "canon.s": "s", "canon.rows": "count", "canon.pandas_route_ratio": "ratio",
    "seenset.probe_s": "s", "seenset.bloom_clear_ratio": "ratio",
    "seenset.bloom_fp_ratio": "ratio", "seenset.update_s": "s",
    "seenset.blob_bytes": "B", "seenset.chain_links_max": "count",
    "dedupe.against_seen_s": "s", "dedupe.anti_join_s": "s",
    "dedupe.within_s": "s", "dedupe.seen_parts": "count",
    "robots.s": "s", "robots.blocked_ratio": "ratio",
    "politeness.s": "s", "politeness.deferred_ratio": "ratio",
    "politeness.max_window_rows": "count",
    "rank.s": "s", "rank.partitions": "count",
    "extract.s": "s", "extract.pages": "count", "extract.html_bytes": "B",
    "extract.dead_ratio": "ratio",
    "wave.plan_s": "s", "wave.frontier_next_rows": "count",
    "snapshots.commit_s": "s",
    **{f"snapshots.commit_s.{t}": "s" for t in COMMIT_TABLES},
    "snapshots.bytes_written": "B", "snapshots.files_written": "count",
    "snapshots.store_bytes_per_page": "B/page",
    "crawl.step_s": "s", "crawl.compact_s": "s", "crawl.compactions": "count",
    "crawl.stats_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.busy_ratio": "ratio", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.failed_tasks": "count",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.aux_s": "s",
}


class SparkCounters:
    """Jobs and task totals of a job group, from Spark's status store.

    Task time comes from stage data (the sum of the tasks' run times);
    the executor summary's ``totalDuration`` is not that sum in local
    mode (four concurrent 2 s tasks add 3.8 s to it). A stage reused by a
    later job is counted once, by the first group that ran it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._claimed: set[int] = set()

    def drain(self) -> None:
        """Wait until the status listener has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict[str, int]:
        store = self._jsc.statusStore()
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(ids)
        for jid in ids:
            stages = store.job(jid).stageIds()
            for k in range(stages.size()):
                sid = stages.apply(k)
                if sid in self._claimed:
                    continue
                self._claimed.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j: a stage the store never saw run
                    continue
                for name, getter in COUNTERS.items():
                    out[name] += int(getattr(sd, getter)())
        return out


class Tracer:
    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.counters = SparkCounters(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    def _group(self, rec: dict) -> str:
        return f"{self.run_id}-{rec['id']}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block; ``spark`` holds the jobs and task totals of the
        block including its child spans, ``spark_self`` without them."""
        sc = self.counters.sc
        self._seq += 1
        rec = {"id": self._seq, "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        kids = dict.fromkeys(list(COUNTERS) + ["jobs"], 0)
        rec["_kids"] = kids
        sc.setJobGroup(self._group(rec), name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.counters.drain()
            own = self.counters.group(self._group(rec))
            rec["spark_self"] = own
            rec["spark"] = {k: own[k] + kids[k] for k in own}
            del rec["_kids"]
            if self._stack:
                parent = self._stack[-1]
                for k, v in rec["spark"].items():
                    parent["_kids"][k] += v
                sc.setJobGroup(self._group(parent), parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def materialised(df):
    """Compute ``df`` now and hand its consumers the stored result.

    A local checkpoint, not ``persist``: it also cuts the lineage, so the
    plans built on top stay small (each cached relation prints the plan
    it caches, and nested caches over a wave's shared sub-plans grow
    the plan text past the driver heap)."""
    return df.localCheckpoint(eager=True)


def _count(df, cond=None) -> int:
    from pyspark.sql import functions as F

    if cond is None:
        return df.count()
    return int(df.select(F.sum(cond.cast("long"))).first()[0] or 0)


@contextlib.contextmanager
def install(tracer: Tracer, materialise: bool = True):
    """Patch the layer entry points the program calls; undo on exit.

    With ``materialise`` false only the durable layers are wrapped
    (``Crawl.step``, ``Crawl.compact``, ``ParquetSnapshotStore.commit``
    and its table writes): those calls run their jobs themselves, so the
    spans add no job and leave the wave's execution as it is."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF
    from pyspark.sql.readwriter import DataFrameWriter

    import tweetf0rm_spark.crawl as crawl_mod
    import tweetf0rm_spark.operators.seenset as seenset_mod
    import tweetf0rm_spark.wave as wave_mod
    from tweetf0rm_spark.canon import needs_general_canon_col
    from tweetf0rm_spark.operators.politeness import N_SALTS
    from tweetf0rm_spark.sources.snapshots import ParquetSnapshotStore

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def aux(name, fn):
        with tracer.span(AUX, what=name):
            return fn()

    def layer(name, after=None):
        """Span + materialised output; ``after(rec, out, args, kwargs)``
        records row counts in an aux span once the layer span closed."""
        def make(orig):
            def wrapped(*args, **kwargs):
                with tracer.span(name) as rec:
                    out = materialised(orig(*args, **kwargs))
                if after is not None:
                    after(rec, out, args, kwargs)
                return out
            return wrapped
        return make

    def canon_after(rec, out, args, kwargs):
        inp = args[0]
        rec["rows"] = aux("canon.rows", lambda: out.count())
        rec["pandas_rows"] = aux("canon.route", lambda: _count(
            inp, needs_general_canon_col(F.col("url"))))

    def probe_after(rec, out, args, kwargs):
        rec["rows"] = aux("probe.rows", lambda: out.count())
        rec["maybe_seen"] = aux("probe.hits", lambda: _count(
            out, F.col("maybe_seen")))
        blobs = args[1] if len(args) > 1 else kwargs["blobs"]
        rec["chain_links_max"] = aux("probe.chain", lambda: int(
            blobs.groupBy("partition_id", "kind").count()
            .agg(F.max("count")).first()[0] or 0))

    def anti_after(rec, out, args, kwargs):
        rec["rows_in"] = aux("anti.rows_in", lambda: args[0].count())
        rec["rows_out"] = aux("anti.rows_out", lambda: out.count())
        parts = args[1] if len(args) > 1 else kwargs["parts"]
        rec["seen_parts"] = len(parts)

    def robots_after(rec, out, args, kwargs):
        rec["rows"] = aux("robots.rows", lambda: out.count())
        rec["blocked"] = aux("robots.blocked", lambda: _count(
            out, ~F.col("robots_allowed")))

    def politeness_after(rec, out, args, kwargs):
        inp = args[0]
        n_salts = kwargs.get("n_salts", args[2] if len(args) > 2 else N_SALTS)
        rec["rows"] = aux("politeness.rows", lambda: out.count())
        rec["deferred"] = aux("politeness.deferred", lambda: _count(
            out, ~F.col("within_budget")))
        rec["max_window_rows"] = aux("politeness.window", lambda: int(
            inp.groupBy("registered_domain",
                        F.pmod(F.col("url_hash"), F.lit(n_salts)))
            .count().agg(F.max("count")).first()[0] or 0))

    def rank_make(orig):
        def wrapped(df, order, *args, **kwargs):
            with tracer.span("rank") as rec:
                out = orig(df, order, *args, **kwargs)
                cached = getattr(out, "_gr_cached", None)
                out = materialised(out)
                out._gr_cached = cached
            rec["partitions"] = kwargs.get("num_partitions") or int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            return out
        return wrapped

    def wave_make(orig):
        def wrapped(*args, **kwargs):
            with tracer.span("wave") as rec:
                r = orig(*args, **kwargs)
            rec["frontier_next_rows"] = aux(
                "wave.frontier_next", lambda: r.frontier_next.count())
            return r
        return wrapped

    def map_in_pandas_make(orig):
        def wrapped(self, func, *args, **kwargs):
            out = orig(self, func, *args, **kwargs)
            # only a crawl step always consumes the extract output (it
            # commits pages_delta); a bare run_wave caller may use only
            # the fetch batch, and materialising would add the work
            if func is not wave_mod._fetch_extract or not any(
                    s["name"] == "crawl.step" for s in tracer._stack):
                return out
            with tracer.span("extract") as rec:
                out = materialised(out)
            rec["pages"] = aux("extract.pages", lambda: out.count())
            rec["dead"] = aux("extract.dead", lambda: _count(
                out, F.col("html").isNull()))
            rec["html_bytes"] = aux("extract.bytes", lambda: int(
                out.select(F.sum(F.length("html"))).first()[0] or 0))
            return out
        return wrapped

    def update_after(rec, out, args, kwargs):
        rec["blob_bytes"] = aux("update.bytes", lambda: int(
            out.select(F.sum(F.length("filter"))).first()[0] or 0))
        rec["chain_links_max"] = aux("update.chain", lambda: int(
            out.select(F.max("link_id")).first()[0] or 0) + 1)

    def commit_make(orig):
        def wrapped(self, snap, tables, meta=None):
            with tracer.span("snapshots.commit") as rec:
                orig(self, snap, tables, meta)

            def written():
                sizes = [os.path.getsize(os.path.join(d, fn))
                         for name in tables
                         for d, _, files in os.walk(self._dir(name, snap))
                         for fn in files]
                return sum(sizes), len(sizes)
            rec["bytes_written"], rec["files_written"] = aux("commit.bytes", written)
        return wrapped

    def parquet_make(orig):
        def wrapped(self, path, *args, **kwargs):
            top = tracer._stack[-1]["name"] if tracer._stack else None
            if top != "snapshots.commit":
                return orig(self, path, *args, **kwargs)
            table = os.path.basename(os.path.dirname(path))
            with tracer.span(f"snapshots.commit.{table}"):
                return orig(self, path, *args, **kwargs)
        return wrapped

    def plain(name):
        def make(orig):
            def wrapped(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)
            return wrapped
        return make

    patch(crawl_mod.Crawl, "step", plain("crawl.step"))
    patch(crawl_mod.Crawl, "compact", plain("crawl.compact"))
    patch(ParquetSnapshotStore, "commit", commit_make)
    patch(DataFrameWriter, "parquet", parquet_make)
    if materialise:
        patch(wave_mod, "canonicalized", layer("canon", canon_after))
        patch(wave_mod, "dedupe_within", layer("dedupe.within"))
        patch(wave_mod, "dedupe_against_seen", layer("dedupe.against_seen"))
        patch(seenset_mod, "probe_seen_blobs", layer("seenset.probe", probe_after))
        patch(seenset_mod, "anti_join_seen_parts",
              layer("dedupe.anti_join", anti_after))
        patch(wave_mod, "anti_join_seen_parts",
              layer("dedupe.anti_join", anti_after))
        patch(wave_mod, "robots_verdict", layer("robots", robots_after))
        patch(wave_mod, "apply_politeness", layer("politeness", politeness_after))
        patch(wave_mod, "global_row_number", rank_make)
        patch(wave_mod, "run_wave", wave_make)
        patch(crawl_mod, "run_wave", wave_make)
        patch(crawl_mod, "update_seen_blobs", layer("seenset.update", update_after))
        patch(ClassicDF, "mapInPandas", map_in_pandas_make)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


#: per-layer metrics taken from the untraced passes: the durable layers
#: compute their own outputs, so their spans there time the program's
#: own execution (a traced pass has cut the lineage before they run)
DURABLE = tuple(k for k in PER_LAYER
                if k.startswith(("snapshots.commit_s", "crawl."))
                or k in ("snapshots.bytes_written", "snapshots.files_written"))


#: figures of a pass as a whole, not sums over its waves
NOT_SUMMED = {k for k in PER_LAYER if k.endswith("_ratio")} | {
    "seenset.chain_links_max", "dedupe.seen_parts", "politeness.max_window_rows",
    "rank.partitions", "trace.wall_s"}


def _rep_figures(root: int, spans: list[dict], selft: dict, by_id: dict) -> dict:
    """Per-layer figures of one pass, from the spans under ``root``."""

    def root_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["id"]

    mine = [s for s in spans if s["id"] != root and root_of(s) == root]
    named = lambda n: [s for s in mine if s["name"] == n]
    ratio = lambda num, den: num / den if den else 0.0
    acc: dict[str, float] = {
        "trace.aux_s": sum(s["end"] - s["start"] for s in named(AUX)),
    }
    time_of = {
        "canon.s": "canon", "seenset.probe_s": "seenset.probe",
        "seenset.update_s": "seenset.update",
        "dedupe.against_seen_s": "dedupe.against_seen",
        "dedupe.anti_join_s": "dedupe.anti_join",
        "dedupe.within_s": "dedupe.within", "robots.s": "robots",
        "politeness.s": "politeness", "rank.s": "rank",
        "extract.s": "extract", "wave.plan_s": "wave",
        "snapshots.commit_s": "snapshots.commit",
        "crawl.compact_s": "crawl.compact",
        **{f"snapshots.commit_s.{t}": f"snapshots.commit.{t}"
           for t in COMMIT_TABLES},
    }
    for metric, name in time_of.items():
        acc[metric] = sum(selft[s["id"]] for s in named(name))
    acc["crawl.stats_s"] = acc["crawl.step_s"] = 0.0
    for s in named("crawl.step"):
        ends = [k["end"] for k in mine if k["parent"] == s["id"]
                and k["name"] in ("snapshots.commit", "crawl.compact")]
        tail = s["end"] - max(ends) if ends else 0.0
        acc["crawl.stats_s"] += tail
        acc["crawl.step_s"] += selft[s["id"]] - tail
    acc["crawl.compactions"] = len(named("crawl.compact"))

    canon = named("canon")
    acc["canon.rows"] = sum(s["rows"] for s in canon)
    acc["canon.pandas_route_ratio"] = ratio(
        sum(s["pandas_rows"] for s in canon), acc["canon.rows"])
    probe = named("seenset.probe")
    acc["seenset.bloom_clear_ratio"] = ratio(
        sum(s["rows"] - s["maybe_seen"] for s in probe),
        sum(s["rows"] for s in probe))
    confirm = [s for s in named("dedupe.anti_join")
               if by_id[s["parent"]]["name"] == "dedupe.against_seen"]
    acc["seenset.bloom_fp_ratio"] = ratio(
        sum(s["rows_out"] for s in confirm), sum(s["rows_in"] for s in confirm))
    update = named("seenset.update")
    acc["seenset.blob_bytes"] = sum(s["blob_bytes"] for s in update)
    acc["seenset.chain_links_max"] = max(
        [s["chain_links_max"] for s in probe + update], default=0)
    acc["dedupe.seen_parts"] = max(
        [s["seen_parts"] for s in named("dedupe.anti_join")], default=0)
    rob = named("robots")
    acc["robots.blocked_ratio"] = ratio(
        sum(s["blocked"] for s in rob), sum(s["rows"] for s in rob))
    pol = named("politeness")
    acc["politeness.deferred_ratio"] = ratio(
        sum(s["deferred"] for s in pol), sum(s["rows"] for s in pol))
    acc["politeness.max_window_rows"] = max(
        [s["max_window_rows"] for s in pol], default=0)
    acc["rank.partitions"] = max([s["partitions"] for s in named("rank")], default=0)
    ext = named("extract")
    acc["extract.pages"] = sum(s["pages"] for s in ext)
    acc["extract.html_bytes"] = sum(s["html_bytes"] for s in ext)
    acc["extract.dead_ratio"] = ratio(
        sum(s["dead"] for s in ext), acc["extract.pages"])
    acc["wave.frontier_next_rows"] = sum(
        s["frontier_next_rows"] for s in named("wave"))
    com = named("snapshots.commit")
    acc["snapshots.bytes_written"] = sum(s["bytes_written"] for s in com)
    acc["snapshots.files_written"] = sum(s["files_written"] for s in com)
    acc["trace.wall_s"] = by_id[root]["end"] - by_id[root]["start"]
    return acc


def layer_metrics(tracer, waves, traced_roots, plain_roots, results) -> dict:
    """Per-layer figures per wave (a pass runs ``waves``), medians over
    passes: the
    lazy layers' from the traced passes, the durable layers' (``DURABLE``)
    and the Spark counters from the untraced passes, whose jobs are the
    program's own."""
    spans = tracer.spans
    selft = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    traced = [_rep_figures(r, spans, selft, by_id) for r in traced_roots]
    plain_figs = [_rep_figures(r, spans, selft, by_id) for r in plain_roots]
    per = lambda k: 1 if k in NOT_SUMMED else waves
    out = {k: median([r.get(k, 0.0) / per(k)
                      for r in (plain_figs if k in DURABLE else traced)])
           for k in PER_LAYER}
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    plain = [by_id[i] for i in plain_roots]
    for key in ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes",
                "shuffle_read_bytes"):
        out[f"spark.{key}"] = median([s["spark"][key] / waves for s in plain])
    out["spark.task_s"] = median([s["spark"]["task_ms"] / 1000 / waves
                                  for s in plain])
    out["spark.busy_ratio"] = median([
        s["spark"]["task_ms"] / 1000 / ((s["end"] - s["start"]) * cores)
        for s in plain])
    untraced = median([s["end"] - s["start"] for s in plain])
    out["trace.overhead_s"] = out["trace.wall_s"] - untraced
    stores = [r["store_bytes"] / r["pages"] for r in results if r.get("store_bytes")]
    out["snapshots.store_bytes_per_page"] = median(stores)
    return out
