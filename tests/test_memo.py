"""The session-scoped memo (iceberg_data_gen_spark/memo.py): per-session
isolation on one SparkContext, the eviction/release policy (checked
with fake sessions, which only need ``sparkContext.applicationId``),
and the per-kind hit/miss counters."""

from __future__ import annotations

from types import SimpleNamespace

from py4j.protocol import Py4JError
from pyspark.storagelevel import StorageLevel

from iceberg_data_gen_spark import operators
from iceberg_data_gen_spark.session import load_table

operators.load_all()

from tests.conftest import SF_DIR, memoized


def _fake(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _boom():
    raise AssertionError("memo rebuilt a live entry")


def test_sessions_on_one_context_get_their_own_memos(spark):
    """Two sessions sharing one SparkContext must each see their own
    scan split count (spread_scan decides from it) and must never be
    handed a DataFrame memoized by the other session."""
    from iceberg_data_gen_spark.operators.common import scan_parallelism
    from iceberg_data_gen_spark.operators.similarity import _norm_corpus

    a = spark
    b = spark.newSession()
    b.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    parts_a = scan_parallelism(a, SF_DIR, "documents")
    parts_b = scan_parallelism(b, SF_DIR, "documents")
    assert parts_a == load_table(a, SF_DIR, "documents").rdd.getNumPartitions()
    assert parts_b == load_table(b, SF_DIR, "documents").rdd.getNumPartitions()
    assert parts_b > parts_a
    b.conf.unset("spark.sql.files.maxPartitionBytes")

    assert load_table(b, SF_DIR, "documents") is not load_table(a, SF_DIR, "documents")
    norm_a, norm_b = _norm_corpus(a, SF_DIR), _norm_corpus(b, SF_DIR)
    assert norm_b is not norm_a
    assert norm_b.sparkSession is b
    assert _norm_corpus(b, SF_DIR) is norm_b


def test_new_application_evicts_and_unpersists(spark):
    """Entries under another applicationId (a dead SparkContext) are
    dropped on insert, and a cached DataFrame among them is unpersisted;
    a failed unpersist on a dead context is ignored."""
    from iceberg_data_gen_spark.memo import memo

    s1, s2 = _fake("app-1"), _fake("app-2")
    df = spark.range(3).cache()
    dead = spark.range(4).cache()

    failed = []

    def raising_unpersist(*_a, **_k):
        failed.append(True)
        raise Py4JError("context stopped")

    dead.unpersist = raising_unpersist
    assert memo(s1, "kind_x", ("p",), lambda: df) is df
    memo(s1, "kind_y", ("p",), lambda: dead)
    assert memo(s1, "kind_x", ("p",), _boom) is df  # hit: no rebuild
    assert memo(s2, "kind_z", ("q",), lambda: "two") == "two"
    assert not df.is_cached
    assert df.storageLevel == StorageLevel(False, False, False, False, 1)
    assert failed  # the dead entry's release was attempted and swallowed
    # app-1's entries are gone: the next lookup builds again
    assert memo(s1, "kind_x", ("p",), lambda: "rebuilt") == "rebuilt"
    del dead.unpersist
    dead.unpersist()


def test_second_corpus_in_session_releases_first(spark):
    """One corpus per session and kind: inserting a second corpus drops
    the first corpus's entries of that kind and unpersists every cached
    DataFrame in them, tuples included; other kinds and other sessions
    on the same context are untouched."""
    from iceberg_data_gen_spark.memo import memo

    s, other = _fake("app-c"), _fake("app-c")
    edges, nodes = spark.range(2).cache(), spark.range(5).cache()
    memo(s, "pagerank_edges", ("/c1",), lambda: (edges, nodes))
    memo(s, "doc_count", ("/c1",), lambda: 7)
    memo(other, "pagerank_edges", ("/c1",), lambda: "other")
    memo(s, "pagerank_edges", ("/c2",), lambda: "second")
    assert not edges.is_cached and not nodes.is_cached
    assert memo(s, "pagerank_edges", ("/c2",), _boom) == "second"
    assert memo(s, "doc_count", ("/c1",), _boom) == 7
    assert memo(other, "pagerank_edges", ("/c1",), _boom) == "other"
    assert memo(s, "pagerank_edges", ("/c1",), lambda: "again") == "again"


def test_keys_differing_after_corpus_coexist():
    """Keys that share the corpus (``key[0]``) and differ after it — the
    dup-label memo's exact and lsh branches — live side by side."""
    from iceberg_data_gen_spark.memo import memo

    s = _fake("app-k")
    assert memo(s, "dup_labels", ("/c", "exact"), lambda: "exact") == "exact"
    assert memo(s, "dup_labels", ("/c", "lsh"), lambda: "lsh") == "lsh"
    assert memo(s, "dup_labels", ("/c", "exact"), _boom) == "exact"
    assert memo(s, "dup_labels", ("/c", "lsh"), _boom) == "lsh"


def test_repeat_dedup_survivors_call_only_hits(spark, monkeypatch):
    """A second q_dedup_survivors call in a session probes every memo it
    needs: hits grow, while misses and build seconds stay put."""
    from iceberg_data_gen_spark.memo import stats
    from iceberg_data_gen_spark.operators.dedup import _dedup_branch

    monkeypatch.delenv("IDG_DEDUP_LSH", raising=False)
    q = operators.QUERIES["q_dedup_survivors"]
    q(spark, SF_DIR).collect()
    before = stats()
    q(spark, SF_DIR).collect()
    after = stats()
    assert sum(v["hits"] for v in after.values()) > sum(
        v["hits"] for v in before.values()
    )
    for kind, v in after.items():
        assert v["misses"] == before.get(kind, {}).get("misses", 0), kind
        assert v["build_s"] == before.get(kind, {}).get("build_s", 0.0), kind
    branch = _dedup_branch(spark, SF_DIR)
    assert memoized(spark, "dup_labels", (SF_DIR, branch)) is not None


def test_concurrent_callers_share_one_value():
    """Threads racing on one key all get the first value stored, and no
    hit or miss is lost from the counters."""
    import sys
    import threading
    import time

    from iceberg_data_gen_spark.memo import memo, stats

    s = _fake("app-threads")
    n_threads, n_calls = 16, 200
    got: list = []
    before = stats().get("race", {"hits": 0, "misses": 0})

    def build():
        time.sleep(0.001)  # widen the window between miss and insert
        return object()

    def worker(i):
        for j in range(n_calls):
            got.append(memo(s, "race", ("/c", j % 5), build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(got) == n_threads * n_calls
    # every caller got the value stored for its key, never a losing build
    final = [memo(s, "race", ("/c", j), _boom) for j in range(5)]
    assert {id(v) for v in got} == {id(v) for v in final}
    after = stats()["race"]
    calls = n_threads * n_calls + 5  # + the five probes above
    assert after["hits"] + after["misses"] - before["hits"] - before["misses"] == calls
