"""The one memo layer (``geonames_rdf_spark.memo``): its reuse rule and
its per-site hit/miss counts."""

from __future__ import annotations

import types

from geonames_rdf_spark import memo


class _Session:
    """Stands in for a SparkSession: the memo reads only
    ``sparkContext._jsc.sc().isStopped()`` and the object's identity."""

    def __init__(self):
        self.stopped = False
        jvm_sc = types.SimpleNamespace(isStopped=lambda: self.stopped)
        self.sparkContext = types.SimpleNamespace(
            _jsc=types.SimpleNamespace(sc=lambda: jvm_sc))


def _builder():
    made = []

    def build():
        made.append(object())
        return made[-1]
    return build, made


def test_memo_reuses_entry_only_for_same_live_session(spark):
    build, made = _builder()
    a = memo.get(spark, "test.session", "k", 1, build)
    assert memo.get(spark, "test.session", "k", 1, build) is a
    # another session over the same live SparkContext is another owner
    other = spark.newSession()
    b = memo.get(other, "test.session", "k", 1, build)
    assert b is not a
    assert memo.get(other, "test.session", "k", 1, build) is b
    assert memo.get(spark, "test.session", "k", 1, build) is not a
    assert len(made) == 3

    s = _Session()
    c = memo.get(s, "test.session", "k", 1, build)
    assert memo.get(s, "test.session", "k", 1, build) is c
    s.stopped = True
    assert memo.get(s, "test.session", "k", 1, build) is not c
    assert len(made) == 5
    assert memo.stats()["test.session"]["entries"] == 1


def test_memo_changed_token_replaces_entry(spark):
    from geonames_rdf_spark.pipeline import mentions

    s, other = _Session(), _Session()
    build, made = _builder()
    stale = []

    def get(session, token):
        return memo.get(session, "test.token", None, token, build,
                        on_stale=lambda: stale.append(token))

    first = get(s, 1)
    assert stale == []  # nothing replaced yet
    second = get(s, 2)
    assert second is not first and stale == [2]
    assert get(s, 2) is second
    get(other, 1)  # another owner: replaced, but not as stale
    assert stale == [2]
    assert memo.stats()["test.token"]["entries"] == 1
    assert len(made) == 3

    # the matcher site: one constant key, so a new map content replaces
    # the one live broadcast
    m1 = {"Alpha": [(1, 0.5, "C0")]}
    m2 = {"Alpha": [(2, 0.5, "C0")]}
    b1 = mentions._matcher_broadcast(spark, m1)
    b2 = mentions._matcher_broadcast(spark, m2)
    assert b2 is not b1 and b2.value[1] == m2
    assert memo.stats()["matcher"]["entries"] == 1
    assert mentions._matcher_broadcast(spark, dict(m1)) is not b1
    assert memo.stats()["matcher"]["entries"] == 1


def test_memo_counts_hits_and_misses_per_site():
    s = _Session()
    build, _ = _builder()
    memo.clear()
    assert memo.stats() == {}
    for token in (1, 1, 1, 2, 2):
        memo.get(s, "test.a", "k", token, build)
    memo.get(s, "test.b", "k1", 1, build)
    memo.get(s, "test.b", "k2", 1, build)
    memo.get(s, "test.b", "k1", 1, build)
    assert memo.stats() == {
        "test.a": {"hits": 3, "misses": 2, "entries": 1},
        "test.b": {"hits": 1, "misses": 2, "entries": 2},
    }
    memo.clear()
    assert memo.stats() == {}
    memo.get(s, "test.a", "k", 2, build)  # the entry went with clear()
    assert memo.stats()["test.a"] == {"hits": 0, "misses": 1, "entries": 1}
    memo.clear()


def test_memo_concurrent_gets_build_once_and_count_every_call():
    """Bucket jobs call the matcher site from a thread pool: concurrent
    gets of one entry build it once and lose no count."""
    import sys
    import threading
    import time

    s = _Session()
    made_fast, made = _builder()

    def build():  # slow enough that every thread's first get overlaps it
        time.sleep(0.05)
        return made_fast()

    n_threads, n_calls = 16, 200
    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def worker():
            for _ in range(n_calls):
                got.append(memo.get(s, "test.threads", None, 1, build))

        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(made) == 1 and all(v is made[0] for v in got)
    assert memo.stats()["test.threads"] == {
        "hits": n_threads * n_calls - 1, "misses": 1, "entries": 1}


def test_memo_counters_round_trip_through_stage_metrics(spark, tmp_path):
    """``jobs/run_kg.py`` stores ``memo.counters()`` as stage ``memo`` of
    the lineage stage-metrics table: one row per site and count."""
    from geonames_rdf_spark.pipeline import lineage

    s = _Session()
    build, _ = _builder()
    memo.clear()
    for token in (1, 1, 2):
        memo.get(s, "test.a", "k", token, build)
    memo.get(s, "test.b", "k", 1, build)
    flat = memo.counters()
    assert flat == {"test.a.hits": 1, "test.a.misses": 2,
                    "test.a.entries": 1, "test.b.hits": 0,
                    "test.b.misses": 1, "test.b.entries": 1}
    memo.clear()
    out = str(tmp_path / "run")
    lineage.write_stage_counters(spark, out, "memo", flat)
    rows = lineage.read_stage_counters(spark, out).collect()
    assert {r.stage for r in rows} == {"memo"}
    assert {r.metric: r.value for r in rows} == flat
