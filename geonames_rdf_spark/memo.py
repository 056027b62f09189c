"""The package's one memo layer: driver-side objects reused across calls.

Two kinds of object are reused: prepared plans (``build.gazetteer_tables``
and ``build.build_kg``, keyed on ``(sf_dir, flags)`` with the input
listing as token) and the matcher broadcast (``mentions``, one constant
key with the scored map's content fingerprint as token).  Every site
follows ONE staleness rule: one entry per ``(site, key)``, reused while
the owning SparkSession is the same object, its SparkContext is live and
the entry's token is equal.  A different token or session replaces the
entry, so a site with a constant key never holds two.

Only driver-side objects are kept — lazy plans and broadcast handles,
never results: every action still executes from its inputs.  ``stats()``
counts hits and misses per site (``counters()`` flattens them for the
lineage stage-metrics table); ``clear()`` drops every entry and count.
"""

from __future__ import annotations

import threading

_lock = threading.RLock()  # re-entrant: a plan build reads the gazetteer site
_entries: dict = {}  # (site, key) -> (spark, token, value)
_hits: dict = {}
_misses: dict = {}


def _live(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — any broken handle means rebuild
        return False


def get(spark, site: str, key, token, build, on_stale=None):
    """The value stored at ``(site, key)`` for this ``spark`` with an equal
    ``token``; otherwise ``build()``, stored in the entry's place.

    ``on_stale()`` runs before ``build`` when the entry replaced belongs to
    this live session and only its token differs — the site's chance to
    drop state derived from the old token (a cached scan of replaced
    input files)."""
    with _lock:
        hit = _entries.get((site, key))
        if hit is not None and hit[0] is spark and _live(spark):
            if hit[1] == token:
                _hits[site] = _hits.get(site, 0) + 1
                return hit[2]
            if on_stale is not None:
                on_stale()
        _misses[site] = _misses.get(site, 0) + 1
        value = build()
        _entries[(site, key)] = (spark, token, value)
        return value


def stats() -> dict[str, dict[str, int]]:
    """``{site: {"hits", "misses", "entries"}}`` for every site used since
    the last ``clear()``."""
    with _lock:
        sites = set(_hits) | set(_misses)
        return {s: {"hits": _hits.get(s, 0), "misses": _misses.get(s, 0),
                    "entries": sum(1 for k in _entries if k[0] == s)}
                for s in sorted(sites)}


def counters() -> dict[str, int]:
    """``stats()`` flattened to ``{"<site>.hits" | ".misses" | ".entries":
    n}``, the shape ``lineage.write_stage_counters`` stores."""
    return {f"{site}.{name}": n for site, c in stats().items()
            for name, n in c.items()}


def clear() -> None:
    with _lock:
        _entries.clear()
        _hits.clear()
        _misses.clear()
