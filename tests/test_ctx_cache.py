"""session.ctx_cache without a JVM: a stub session exposes only what the
cache key reads (applicationId, startTime, sessionUUID)."""

import os
import sys
from collections import OrderedDict
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark import (  # noqa: E402
    session as sess,
)


def _session(app="app-1", start=1, uuid="uuid-1"):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app, startTime=start),
        _jsparkSession=SimpleNamespace(sessionUUID=lambda: uuid),
    )


class Builds:
    """Counts build calls; each build returns a fresh object."""

    def __init__(self):
        self.n = 0

    def __call__(self):
        self.n += 1
        return object()


@pytest.fixture
def cache(monkeypatch):
    fresh = OrderedDict()
    monkeypatch.setattr(sess, "_CTX_CACHE", fresh)
    monkeypatch.setattr(sess, "_CTX_CACHE_MAX_LIVE", 4)
    return fresh


def test_ctx_cache_builds_once_per_key(cache):
    s, build = _session(), Builds()
    a = sess.ctx_cache(s, ("k", "/x"), build)
    assert sess.ctx_cache(s, ("k", "/x"), build) is a and build.n == 1
    assert sess.ctx_cache(s, ("k", "/y"), build) is not a and build.n == 2


def test_ctx_cache_failed_build_caches_nothing(cache):
    s = _session()

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        sess.ctx_cache(s, ("k",), boom)
    assert not cache
    build = Builds()
    sess.ctx_cache(s, ("k",), build)
    assert build.n == 1


def test_ctx_cache_purges_dead_contexts(cache):
    """An insert from a new context (a restart: same app id, new start
    time) drops every entry of the old one, even below the LRU bound."""
    old, new, build = _session(start=1), _session(start=2), Builds()
    sess.ctx_cache(old, ("a",), build)
    sess.ctx_cache(old, ("b",), build)
    assert len(cache) == 2
    fresh = sess.ctx_cache(new, ("a",), build)
    assert list(cache) == [("app-1", 2, "uuid-1", "a")]
    # the restarted context never sees its predecessor's value
    assert sess.ctx_cache(new, ("a",), build) is fresh and build.n == 3
    sess.ctx_cache(_session(app="app-2", start=2), ("a",), build)
    assert list(cache) == [("app-2", 2, "uuid-1", "a")]


def test_ctx_cache_lru_keeps_hot_entry(cache):
    s, build = _session(), Builds()
    hot = sess.ctx_cache(s, ("hot",), build)
    for i in range(10):
        assert sess.ctx_cache(s, ("hot",), build) is hot  # touch
        sess.ctx_cache(s, (f"k{i}",), build)
        assert len(cache) <= 4
    n = build.n
    assert sess.ctx_cache(s, ("hot",), build) is hot and build.n == n
    # the coldest key was evicted: it rebuilds
    sess.ctx_cache(s, ("k0",), build)
    assert build.n == n + 1


def test_ctx_cache_sessions_never_share(cache):
    """Two sessions of one context (a parent and its newSession() fork)
    get separate entries for the same key, and both stay cached."""
    parent, fork, build = _session(uuid="p"), _session(uuid="f"), Builds()
    a = sess.ctx_cache(parent, ("k",), build)
    b = sess.ctx_cache(fork, ("k",), build)
    assert a is not b and build.n == 2
    assert sess.ctx_cache(parent, ("k",), build) is a
    assert sess.ctx_cache(fork, ("k",), build) is b
    assert build.n == 2


def test_listing_memo_replaces_stale_entry(cache, monkeypatch):
    """listing_memo keeps one entry per key: a changed file listing
    rebuilds and replaces it, and a path that cannot be listed builds
    uncached on every call."""
    listing = {"/x": (("/x/part-0", 10, 1),)}
    monkeypatch.setattr(sess, "_listing_signature", lambda spark, p: listing.get(p))
    s, build = _session(), Builds()
    a = sess.listing_memo(s, ("k", "/x"), "/x", build)
    assert sess.listing_memo(s, ("k", "/x"), "/x", build) is a and build.n == 1
    listing["/x"] = (("/x/part-1", 10, 1),)
    b = sess.listing_memo(s, ("k", "/x"), "/x", build)
    assert b is not a and build.n == 2 and len(cache) == 1
    assert sess.listing_memo(s, ("k", "/x"), "/x", build) is b and build.n == 2
    sess.listing_memo(s, ("k", "/gone"), "/gone", build)
    sess.listing_memo(s, ("k", "/gone"), "/gone", build)
    assert build.n == 4 and len(cache) == 1
