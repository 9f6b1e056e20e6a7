"""Fixed sizes and session settings shared by every benchmark run.

Both sides of a comparison (parent and change) run these exact values;
they live here, next to the benchmark, rather than in the environment.
"""

from __future__ import annotations

import os

#: Spark session sizing for a small host. ``SPARK_GRAFT_CPUS`` is the
#: core count (``local[<cores>]``); the driver heap and shuffle
#: partitions override the package's cluster-sized defaults (48g heap,
#: 32 partitions), which would let the JVM outgrow a 15 GB machine.
DRIVER_MEM = "3g"
SHUFFLE_PARTITIONS = 8


def cores() -> int:
    return len(os.sched_getaffinity(0))


#: workload sizes. ``crawl_loop``: a Zipf-domain corpus and a crawl in
#: progress on it, whose seen set holds the seeds and one in
#: ``seen_share`` of the pages, with ``retries`` failed fetches in its
#: retry ledger, continued for ``waves`` timed waves per pass;
#: ``max_seen_parts`` 1 compacts the seen set after every wave.
CRAWL = {"n_pages": 3000, "n_domains": 60, "n_seeds": 60, "seen_share": 20,
         "retries": 3, "waves": 1, "max_seen_parts": 1}
#: ``frontier_schedule``: one scheduling pass over a raw frontier of
#: ``n_rows`` URLs, 20% of which are already in the seen set.
FRONTIER = {"n_rows": 100_000, "n_domains": 5000, "seen_share": 0.2}

#: set-ups per run; ``setup_s`` is their median
SETUPS = 3
