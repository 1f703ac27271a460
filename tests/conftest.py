import os

import pytest

from lotus_spark.session import get_spark

# a bounded driver heap, set before the first session launches the JVM:
# get_spark asks for 48g, under which G1 rarely collects and the suite's
# JVM grows until a small host kills it. A caller's own setting wins.
os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                      "--driver-memory 3g pyspark-shell")


def _session():
    s = get_spark(app_name="lotus_spark_tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture(scope="session")
def spark():
    yield _session()


class SparkState:
    """Spark's own record of cached frames and submitted jobs, for tests
    that check what a call leaves behind or launches."""

    def __init__(self, spark):
        self.spark = spark

    def cache_entries(self) -> int:
        """Entries in the session's cache manager (``persist``/``cache``)."""
        return (self.spark._jsparkSession.sharedState().cacheManager()
                .numCachedEntries())

    def persistent_rdds(self) -> set[int]:
        """Ids of the RDDs the SparkContext keeps persisted: cache-manager
        entries and local checkpoints alike."""
        return set(self.spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet())

    def rdds_after_gc(self, expect: set[int],
                      timeout: float = 300.0) -> set[int]:
        """The persistent RDDs once Spark's ContextCleaner has freed what
        no live frame references: runs a Python and a JVM GC and polls
        until the set is within ``expect`` or ``timeout`` seconds pass.
        The cleaner frees in order everything the GC released, earlier
        tests' garbage included; a fresh context (:meth:`restart`)
        keeps the wait short."""
        import gc
        import time

        sc = self.spark.sparkContext
        # py4j tells the JVM which objects Python released from ONE
        # background thread, in order, behind every release queued
        # before; send the queued ones from here so the JVM GC below
        # sees what this test dropped without waiting on that thread
        pending = getattr(sc._gateway._gateway_client, "finalizer_deque",
                          ())
        deadline = time.monotonic() + timeout
        while True:
            gc.collect()
            while pending:
                try:
                    task = pending.pop()
                except IndexError:
                    break
                if isinstance(task, tuple):
                    client, target_id = task
                    client.garbage_collect_object(target_id, False)
                else:  # the worker's shutdown sentinel: hand it back
                    pending.append(task)
                    break
            sc._jvm.java.lang.System.gc()
            now = self.persistent_rdds()
            if now <= expect or time.monotonic() > deadline:
                return now
            time.sleep(0.5)

    def restart(self) -> None:
        """Stop the SparkContext and start a new one in the same JVM, the
        way a long-lived service restarts its session. The suite shares
        one session object, so it is re-pointed at the new session (and
        made the active one again) and later tests keep working."""
        from pyspark.sql import SparkSession

        from lotus_spark.functions import vectors

        self.spark.stop()
        fresh = _session().__dict__
        self.spark.__dict__.clear()  # drops lazily cached conf/catalog
        self.spark.__dict__.update(fresh)
        SparkSession._instantiatedSession = self.spark
        SparkSession._activeSession = self.spark
        # UDF wrappers are keyed by the session object's id, and the
        # re-pointed object keeps its id: drop the old context's UDFs
        vectors._UDF_CACHE.clear()

    def jobs(self, fn) -> int:
        """Number of Spark jobs ``fn()`` submits from this thread."""
        import uuid

        sc = self.spark.sparkContext
        # a fresh name: the status tracker keeps earlier groups' jobs
        group = f"spark-state-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def spark_state(spark):
    return SparkState(spark)


@pytest.fixture()
def sentiment_df(spark):
    """F1 fixture — reference ``.github/tests/lm_tests.py:63-70``."""
    return spark.createDataFrame(
        [("I am really excited to go to class today!",), ("I am very sad",)],
        ["Text"],
    )


@pytest.fixture()
def courses_df(spark):
    """F2 fixture — reference ``tests/test_filter.py:8-25``."""
    rows = [
        ("Introduction to Programming", "CS", 100),
        ("Advanced Programming", "CS", 200),
        ("Cooking Basics", "Culinary", 100),
        ("Advanced Culinary Arts", "Culinary", 200),
        ("Data Structures", "CS", 300),
        ("Algorithms", "CS", 300),
        ("French Cuisine", "Culinary", 200),
        ("Italian Cooking", "Culinary", 200),
    ]
    return spark.createDataFrame(rows, ["Course Name", "Department", "Level"])
