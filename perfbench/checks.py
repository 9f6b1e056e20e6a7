"""Output checks: independent pandas oracles for what a wave may fetch.

Each check returns a list of violation messages; an empty list passes.
None of them calls the scheduler under test, so a wrong answer from the
program cannot also make its check pass.
"""

from __future__ import annotations

import hashlib
from urllib.parse import urlsplit

import numpy as np
import pandas as pd

#: the program's default per-domain budget for domains absent from the
#: budget table (``operators.politeness.DEFAULT_BUDGET``)
DEFAULT_BUDGET = 32


def rules_by_host(robots: pd.DataFrame) -> dict[str, list[tuple[str, bool]]]:
    """host -> [(path_prefix, allow)] in rule order, agent ``*`` only."""
    out: dict[str, list[tuple[str, bool]]] = {}
    rows = robots[robots["agent"] == "*"].sort_values(["host", "rule_order"])
    for host, prefix, allow in zip(rows["host"], rows["path_prefix"], rows["allow"]):
        out.setdefault(host, []).append((prefix, bool(allow)))
    return out


def robots_allows(rules: dict, url: str) -> bool:
    """First matching prefix decides; no matching rule allows."""
    parts = urlsplit(url)
    path = parts.path or "/"
    for prefix, allow in rules.get(parts.hostname or "", ()):
        if path.startswith(prefix):
            return allow
    return True


def _sample(items: list, limit: int = 5) -> str:
    return ", ".join(map(str, items[:limit]))


def check_permutation(fetch_order: pd.Series, what: str) -> list[str]:
    got = np.sort(fetch_order.to_numpy(dtype=np.int64))
    if not np.array_equal(got, np.arange(1, len(got) + 1)):
        return [f"{what}: fetch_order is not a permutation of 1..{len(got)}"]
    return []


def check_unique(urls: pd.Series, what: str) -> list[str]:
    dup = urls[urls.duplicated()].tolist()
    return [f"{what}: url fetched twice: {_sample(dup)}"] if dup else []


def check_budget(domains: pd.Series, budget: dict[str, int], what: str,
                 default: int = DEFAULT_BUDGET) -> list[str]:
    counts = domains.value_counts()
    over = [f"{d}={n}>{budget.get(d, default)}" for d, n in counts.items()
            if n > budget.get(d, default)]
    return [f"{what}: per-domain budget exceeded: {_sample(over)}"] if over else []


def check_robots(urls: pd.Series, rules: dict, what: str) -> list[str]:
    bad = [u for u in urls if not robots_allows(rules, u)]
    return [f"{what}: robots-disallowed url fetched: {_sample(bad)}"] if bad else []


def check_not_seen(urls: pd.Series, seen: set, what: str,
                   allowed: set = frozenset()) -> list[str]:
    """No fetched url was already seen, except those in ``allowed``
    (bounded retries of earlier failed fetches)."""
    bad = [u for u in urls if u in seen and u not in allowed]
    return [f"{what}: already-seen url fetched: {_sample(bad)}"] if bad else []


def check_text(urls, texts, htmls, corpus_text: dict, what: str) -> list[str]:
    """Extracted text equals ``extract_text(html)`` byte for byte and the
    corpus's stored text; a dead link (no html) has no text."""
    from tweetf0rm_spark.extract import extract_text

    bad = []
    for u, t, h in zip(urls, texts, htmls):
        if h is None:
            if t is not None:
                bad.append(u)
        elif t != extract_text(h) or t != corpus_text.get(u):
            bad.append(u)
    return [f"{what}: extracted text differs: {_sample(bad)}"] if bad else []


def expected_schedule(expected: pd.DataFrame, seen_urls: set, rules: dict,
                      budget: dict[str, int]) -> pd.DataFrame:
    """The scheduling pass recomputed in pandas: drop seen urls and
    robots-disallowed urls, keep each domain's top ``budget`` rows by
    (priority desc, depth, url_hash), number the survivors in that order."""
    df = expected[~expected["url"].isin(seen_urls)]
    df = df[[robots_allows(rules, u) for u in df["url"]]]
    order = ["priority", "depth", "url_hash"]
    asc = [False, True, True]
    df = df.sort_values(order, ascending=asc, kind="mergesort")
    cap = df["registered_domain"].map(budget).fillna(DEFAULT_BUDGET)
    df = df[df.groupby("registered_domain").cumcount() < cap]
    df = df.sort_values(order, ascending=asc, kind="mergesort")
    return df.assign(fetch_order=np.arange(1, len(df) + 1))


def check_schedule(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    g = got.sort_values("fetch_order")[["url", "fetch_order"]].reset_index(drop=True)
    w = want[["url", "fetch_order"]].reset_index(drop=True)
    if len(g) != len(w):
        return [f"{what}: scheduled {len(g)} urls, oracle schedules {len(w)}"]
    diff = g.index[(g["url"] != w["url"]) | (g["fetch_order"] != w["fetch_order"])]
    if len(diff):
        return [f"{what}: schedule differs from oracle at fetch_order "
                f"{_sample(list(g['fetch_order'][diff]))}"]
    return []


def digest(*columns) -> str:
    """sha256 over the given aligned columns, row by row."""
    md = hashlib.sha256()
    for row in zip(*columns):
        md.update(repr(row).encode())
        md.update(b"\n")
    return md.hexdigest()
