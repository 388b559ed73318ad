"""The session memo (kwery_spark.catalog.memo): positive-only storage,
per-session keying, the per-kind LRU cap, and re-entrant builds. The memo
reads nothing from a session but its application id, so stand-in
sessions keep these checks independent of a running Spark."""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter
from types import SimpleNamespace

import pytest

from kwery_spark import catalog
from kwery_spark.catalog import memo, memo_clear


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def clean_memo():
    memo_clear()
    yield
    memo_clear()


def test_none_build_is_not_stored(clean_memo):
    s = _session("app-a")
    calls = []

    def probe():
        calls.append(1)
        return None if len(calls) == 1 else "db"

    assert memo(s, ("unit", "probe"), probe) is None
    assert not catalog._MEMO["unit"]  # nothing stored
    assert memo(s, ("unit", "probe"), probe) == "db"  # probed again
    assert memo(s, ("unit", "probe"), probe) == "db"  # now a hit
    assert len(calls) == 2


def test_other_application_misses(clean_memo):
    a, b = _session("app-a"), _session("app-b")
    assert memo(a, ("unit", "x"), lambda: "from-a") == "from-a"
    assert memo(b, ("unit", "x")) is None
    assert memo(b, ("unit", "x"), lambda: "from-b") == "from-b"
    assert memo(a, ("unit", "x")) == "from-a"


def test_cap_evicts_least_recently_used_per_kind(clean_memo):
    s = _session("app-a")
    cap = catalog._MEMO_CAP_DEFAULT
    assert "unit" not in catalog._MEMO_CAPS
    for i in range(cap):
        memo(s, ("unit", i), lambda i=i: i)
    memo(s, ("other", 0), lambda: "kept")
    assert memo(s, ("unit", 0)) == 0  # touch: 1 is now least recent
    memo(s, ("unit", cap), lambda: cap)
    assert memo(s, ("unit", 1)) is None
    assert memo(s, ("unit", 0)) == 0
    assert len(catalog._MEMO["unit"]) == cap
    # another kind's entries neither count against nor suffer the cap
    assert memo(s, ("other", 0)) == "kept"


def test_nested_build_does_not_deadlock(clean_memo):
    s = _session("app-a")
    out = []

    def outer():
        return ("outer", memo(s, ("unit", "inner"), lambda: "inner"))

    t = threading.Thread(
        target=lambda: out.append(memo(s, ("unit", "outer"), outer)), daemon=True
    )
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "nested memo build deadlocked"
    assert out == [("outer", "inner")]
    assert memo(s, ("unit", "inner")) == "inner"


def test_concurrent_callers_build_each_key_once(clean_memo):
    """More threads than cores hammer one kind: every key is built
    exactly once (a check-then-act race would build some twice) and
    every caller gets the built value."""
    s = _session("app-a")
    n_keys = catalog._MEMO_CAP_DEFAULT  # no eviction, so no legit rebuild
    builds: Counter = Counter()
    errors: list = []

    def build(k):
        builds[k] += 1
        time.sleep(0.001)  # widen the window a racing caller would hit
        return k

    def worker(i):
        try:
            for j in range(100):
                k = (i + j) % n_keys
                assert memo(s, ("unit", k), lambda k=k: build(k)) == k
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert builds == Counter({k: 1 for k in range(n_keys)})
