"""Session-factory pins (round 17).

The driver-heap pre-touch (-Xms = spark.driver.memory plus
-XX:+AlwaysPreTouch) is a measured optimization, not a tuning whim:
without it G1 grows the heap lazily and touches freshly-committed pages
MID-QUERY, and on this guest those first-touch faults stall hard
(SCALING.md r17 "pentagon slow mode" — slow runs showed 35-50% guest sys
time and 12-18 s of summed GC in the 32-task pre-stage; with pre-touch
the same probe records 0.0-0.6 s GC and the GC-fault slow mode is gone).
Pin the conf so a refactor that drops it fails a test instead of
resurfacing as unexplained bench variance."""

import os


def test_driver_heap_pretouch_conf(spark):
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") == "0":
        import pytest

        pytest.skip("pre-touch disabled via SPARK_GRAFT_PRETOUCH=0")
    opts = spark.conf.get("spark.driver.extraJavaOptions")
    assert "-XX:+AlwaysPreTouch" in opts
    # -Xms is the heap the factory chose (host-sized, see
    # test_driver_memory_sizing), so the whole heap is pre-touched
    mem = spark.conf.get("spark.driver.memory")
    assert opts.split()[0] == f"-Xms{mem}"


def test_driver_memory_sizing():
    """The driver heap fits the host: at most half of the commit limit
    (cgroup or MemAvailable), a fitting SPARK_GRAFT_DRIVER_MEM request
    kept verbatim, an oversized one clamped — a 16g pre-touched heap
    on a 15 GB host fails JVM start (mmap of 17179869184 bytes)."""
    from sparksqlplus_spark.session import driver_memory, host_memory_limit

    gib = 1 << 30
    # default: 16g where it fits, half the limit where it does not
    assert driver_memory(None, 64 * gib) == "16384m"
    assert driver_memory(None, 15 * gib) == "7680m"
    # no readable limit: trust the default / request
    assert driver_memory(None, None) == "16384m"
    assert driver_memory("2048m", None) == "2048m"
    # a fitting request is kept verbatim
    assert driver_memory("3g", 15 * gib) == "3g"
    # a cgroup limit below the request clamps it to half the limit
    assert driver_memory("16g", 8 * gib) == "4096m"
    assert driver_memory("8g", 6 * gib) == "3072m"
    # unparsable requests go to Spark untouched
    assert driver_memory("lots", 8 * gib) == "lots"
    limit = host_memory_limit()
    assert limit is None or limit > 0


def test_callsite_capture_disabled(spark):
    """Per-Column call-site capture costs ~5 py4j round-trips per F.col
    / Column method (pyspark/errors/utils.py:_with_origin) and records
    engine-internal lines; the factory turns it off."""
    from pyspark.errors.utils import is_debugging_enabled

    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    assert not is_debugging_enabled()


def test_pretouch_merges_caller_java_options():
    """Round-18 fix (r17 ADVICE #3): caller-supplied
    spark.driver.extraJavaOptions used to be silently OVERWRITTEN by
    the pre-touch flags (the extra_conf loop ran after the pre-touch
    config). Pin the merge by inspecting the builder's recorded options
    without starting a second JVM."""
    import sparksqlplus_spark.session as S

    captured = {}

    class FakeBuilder:
        def appName(self, *_):
            return self

        def master(self, *_):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before JVM start")

    orig = S.SparkSession

    class FakeSession:
        builder = FakeBuilder()

    S.SparkSession = FakeSession
    try:
        try:
            S.get_spark(
                extra_conf={
                    "spark.driver.extraJavaOptions": "-XX:+UseZGC",
                    "spark.foo": "bar",
                }
            )
        except RuntimeError:
            pass
    finally:
        S.SparkSession = orig
    opts = captured["spark.driver.extraJavaOptions"]
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0":
        assert "-XX:+AlwaysPreTouch" in opts
    assert "-XX:+UseZGC" in opts
    assert captured["spark.foo"] == "bar"


def test_expr_memo_epoch_rebuilds_on_context_change(spark):
    """Round-18 hardening (r17 VERDICT item 4 / ADVICE #1): the
    module-level Column-fragment memos are keyed on a SparkContext
    epoch, so a restarted context gets freshly-built fragments instead
    of stale py4j handles. Simulate the restart by swapping the
    active-context pointer — the epoch must bump and the memo must
    return a NEW object, then keep returning the same new object while
    the context stays put."""
    from pyspark import SparkContext

    from sparksqlplus_spark import expr_memo
    from sparksqlplus_spark.operators.dedup import tokens_col

    c1 = tokens_col("text")
    assert tokens_col("text") is c1
    real = SparkContext._active_spark_context
    e1 = expr_memo.context_epoch()
    try:
        SparkContext._active_spark_context = object()  # fake new context
        # the cache KEY changes — which is what a real restart needs
        # (Columns cannot be BUILT under the fake pointer: F.col
        # resolves through the active context, so don't try here)
        assert expr_memo.context_epoch() == e1 + 1
    finally:
        SparkContext._active_spark_context = real
    # restoring the real context is itself a context change: new epoch,
    # fresh memo entry — never the pre-swap object
    assert expr_memo.context_epoch() == e1 + 2
    c3 = tokens_col("text")
    assert c3 is not c1
    assert tokens_col("text") is c3


def test_expr_memo_drops_dead_epochs(spark):
    """The memo keeps only the live context's fragments: the first call
    after a context change clears the entries minted under the old
    one, so a process that restarts its session many times does not
    accumulate dead py4j handles."""
    from pyspark import SparkContext

    from sparksqlplus_spark import expr_memo
    from sparksqlplus_spark.operators.dedup import tokens_col

    tokens_col("text")
    tokens_col("title")
    assert tokens_col.cache_info().currsize >= 2
    real = SparkContext._active_spark_context
    try:
        SparkContext._active_spark_context = object()  # fake new context
        expr_memo.context_epoch()
    finally:
        SparkContext._active_spark_context = real
    tokens_col("text")
    assert tokens_col.cache_info().currsize == 1


def test_memos_and_engine_survive_session_restart():
    """End-to-end restart pin (r17 VERDICT item 4): in a FRESH python
    process, build a session, run a memoized operator and a plan-cached
    engine query, STOP the session, start a new one, and run both again
    — the memos must rebuild (context epoch) rather than serve handles
    minted under the stopped context."""
    import subprocess
    import sys

    code = """
import os
os.environ["SPARK_GRAFT_PRETOUCH"] = "0"
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
from sparksqlplus_spark.session import get_spark
from sparksqlplus_spark.api import SparkSQLPlus
from sparksqlplus_spark.operators.text import text_stats
from sparksqlplus_spark.operators.dedup import simhash
import sparksqlplus_spark.expr_memo as em

def run():
    spark = get_spark(app_name="restart_probe", master="local[2]",
                      shuffle_partitions=2)
    eng = SparkSQLPlus(spark)
    eng.register_testdata("/root/testdata/sf0.001")
    docs = eng.catalog.get("documents").df
    out = (text_stats(docs, "text", "doc_id").count(),
           simhash(docs, "text", "doc_id", bits=32).count(),
           eng.sql("SELECT r_regionkey FROM region").count(),
           eng.sql("SELECT r_regionkey FROM region").count())  # cache hit
    spark.stop()
    return out

e0 = em.context_epoch()
a = run()
from sparksqlplus_spark.operators.dedup import tokens_col
n1 = tokens_col.cache_info().currsize
b = run()
assert a == b, (a, b)
assert em.context_epoch() > e0
# the restart rebuilt the fragments instead of adding to the dead ones
assert tokens_col.cache_info().currsize == n1, (
    n1, tokens_col.cache_info())
print("RESTART_OK", a)
"""
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESTART_OK" in proc.stdout
