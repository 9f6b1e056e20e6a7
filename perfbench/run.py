#!/usr/bin/env python3
"""Crawl-scheduler benchmark for ``tweetf0rm_spark``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process at ``local[<cores>]``
issues Spark jobs back to back (a closed loop with one client), so no
more tasks run at once than there are cores. The run starts one Spark
session, warms the workload up, sets it up ``SETUPS`` times (``setup_s``
is the median), then repeats timed passes for ``--seconds`` seconds (at
least one), checking each.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` timed passes
alternate with traced passes and the metrics are the per-layer ones
(see ``perfbench/README.md``). Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

import tracing
from tracing import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "urls_per_s": "URLs/s",
    "pages_per_s": "pages/s", "wave_s_p50": "s",
}


def configure_env(work: str) -> None:
    """Session sizing and scratch locations, set before Spark starts so
    the JVM and its Python workers inherit them."""
    import settings

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(settings.cores()),
        "SPARK_GRAFT_DRIVER_MEM": settings.DRIVER_MEM,
        "SPARK_GRAFT_SHUFFLE": str(settings.SHUFFLE_PARTITIONS),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers import tweetf0rm_spark (canon_url_pandas route)
        "PYTHONPATH": os.pathsep.join(pythonpath),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # keep the launcher JVM from writing hsperfdata under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str):
    from tweetf0rm_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })


def process_tree() -> dict[int, int]:
    """Resident pages of this process and each of its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo += children.get(pid, [])
    return tree


class PeakRss:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers), sampled from ``/proc``."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, sum(process_tree().values()) * self._page)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def stop_jvm(timeout: float = 60) -> None:
    """Shut the Py4J gateway down and wait until the JVM and every other
    process this run started (the Python workers) have exited."""
    from pyspark import SparkContext

    started = set(process_tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while started and time.monotonic() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in started:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def end_to_end_metrics(results, setups) -> dict:
    return {
        "setup_s": median(setups),
        "wall_s": median([r["wall"] for r in results]),
        "urls_per_s": median([r["urls"] / r["wall"] for r in results]),
        "pages_per_s": median([r["pages"] / r["wall"] for r in results]),
        "wave_s_p50": median([w for r in results for w in r["wave_walls"]]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tweetf0rm_spark", "__init__.py")):
        print(f"perfbench: no tweetf0rm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    configure_env(work)

    import settings
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](STATE, args.seed, work)
    attempted = failed = 0

    def record(found: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        failed += bool(found)
        for p in found:
            print(f"perfbench: check failed: {p}", file=sys.stderr)

    spark = None
    try:
        with PeakRss() if args.trace else contextlib.nullcontext() as rss:
            start_s = 0.0

            def session():
                nonlocal spark, start_s
                if spark is None:
                    t0 = time.perf_counter()
                    spark = start_session(work)
                    start_s = time.perf_counter() - t0
                return spark

            t_start = time.perf_counter()
            wl.prepare(session)
            t_prepared = time.perf_counter()
            session()
            wl.warm_up(spark)
            t_warm = time.perf_counter()
            setups = []
            for _ in range(settings.SETUPS):
                t0 = time.perf_counter()
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
            t_passes = time.perf_counter()

            tracer = None
            if args.trace:
                tracer = tracing.Tracer(spark, f"{args.workload}-s{args.seed}")
            results, traced_roots, plain_roots = [], [], []
            t_end = time.perf_counter() + args.seconds
            n = 0
            while n < 1 + args.trace or time.perf_counter() < t_end:
                traced = bool(args.trace) and n % 2 == 1
                n += 1
                spark.catalog.clearCache()
                try:
                    if tracer is None:
                        res = wl.rep(spark)
                    else:
                        with tracer.span("rep", traced=traced) as root, \
                                tracing.install(tracer, materialise=traced):
                            res = wl.rep(spark)
                        (traced_roots if traced else plain_roots).append(root["id"])
                    found = wl.verify(res)
                except Exception:
                    traceback.print_exc()
                    record(["pass raised an exception"])
                    continue
                record(found)
                print(f"perfbench: pass {n} ({'traced' if traced else 'timed'}) "
                      f"{res['wall']:.3f} s", file=sys.stderr)
                if not traced:
                    results.append(res)
            spark.catalog.clearCache()
            print(f"perfbench: prepare {t_prepared - t_start:.1f} s, session and "
                  f"warm-up {t_warm - t_prepared:.1f} s, set-ups {t_passes - t_warm:.1f} s, "
                  f"{n} passes with checks {time.perf_counter() - t_passes:.1f} s",
                  file=sys.stderr)
        if not results:
            print("perfbench: no timed pass completed", file=sys.stderr)
            return 1
        if args.trace:
            metrics = tracing.layer_metrics(tracer, wl.waves_per_rep,
                                            traced_roots, plain_roots, results)
            metrics["session.start_s"] = start_s
            metrics["session.peak_rss_mb"] = rss.peak / 2**20
            tracer.write(os.path.join(STATE, "traces",
                                      f"{args.workload}-s{args.seed}.jsonl"))
            units = tracing.PER_LAYER
        else:
            metrics = end_to_end_metrics(results, setups)
            units = END_TO_END
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    waves = sum(len(r["wave_walls"]) for r in results)
    print(f"{args.workload} seed={args.seed}: {len(results)} timed passes, "
          f"{waves} wave samples, {median([r['pages'] for r in results]):.0f} "
          f"pages per pass, failed_ratio={failed / attempted:.4f} "
          f"({failed}/{attempted})")
    for k, v in metrics.items():
        print(f"  {k:36s} {v:14.6f} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
