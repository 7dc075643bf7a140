"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the configuration is
written for a real multi-executor cluster: AQE on (runtime coalescing +
skew-join splitting), small shuffle-partition default that AQE scales up,
Arrow enabled for the pandas_udf escape hatches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """``min(16g, half of MemTotal)`` from /proc/meminfo; 16g when that
    cannot be read. 16g, not 8g, is the ceiling because in local mode
    the driver heap also hosts every task's execution memory AND the
    AQE broadcast builds — a ~64 MB compressed query stage decompresses
    into a GB-scale HashedRelation, and at sf10 the dedup family's
    verify joins OOMed flakily against 8g (measured; 16g passes and the
    broadcast conversion then WINS: near_dup_pairs 141 -> 74 s). The
    half-of-RAM cap leaves the rest to the Python workers: a long-lived
    session's heap grows toward -Xmx, and on a 16 GB host a 16g heap
    got the JVM killed by the kernel's out-of-memory killer."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048  # kB -> MB / 2
                    return f"{min(16 << 10, half_mb)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def get_spark(app_name: str = "gcp-datalake-utils-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a 1000-executor cluster the same config applies: AQE coalesces the
    static shuffle-partition count to the data, auto-broadcast handles the
    metadata-side joins, and skew-join splitting guards the heavy equi-joins
    (e.g. the LSH band join where hot buckets are the classic skew case).

    Note: static confs (warehouse dir, driver memory) only apply when this
    factory CREATES the session; ``getOrCreate`` silently keeps a
    pre-existing session's values — callers embedding the engine in a
    host application inherit that host's static configuration.

    The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    ``min(16g, half of the host's RAM)`` (see ``_default_driver_mem``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # the events table carries nanosecond timestamps, which the
        # vectorized parquet reader rejects; read them as long (ns since
        # epoch) and convert at the operator boundary (sources.event_ts)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_mem())
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/spark_graft_warehouse"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def session_key(spark: SparkSession) -> str:
    """Stable identity for session-keyed caches.

    ``applicationId`` is assigned once per SparkContext and never reused
    within a process, unlike ``id(spark)`` which CPython can recycle
    after a session is garbage-collected — an id-reuse would let a
    surviving LRU entry serve a NEW session stale scratch paths. Derived
    artifacts (scratch parquet, signature stores) are context-scoped, so
    keying on the context's applicationId is exactly the right grain."""
    return spark.sparkContext.applicationId


class SessionCache:
    """Bounded LRU for session-keyed derived artifacts (pre-agg store
    paths, signature stores, trained driver models). Keys embed
    ``session_key(spark)`` (the SparkContext applicationId), so in a
    one-session bench/test process this is a plain memo; in a
    long-lived host serving many sessions, entries from dead sessions
    age out past ``maxsize`` instead of leaking (the artifacts
    themselves are scratch files under the Spark local dirs, reclaimed
    by the session's own cleanup). All mutating/reading paths hold a
    lock, so concurrent get/put/evict from a multi-threaded driver host
    cannot race the underlying OrderedDict."""

    def __init__(self, maxsize: int = 16) -> None:
        import threading
        from collections import OrderedDict
        self._d: "OrderedDict" = OrderedDict()
        self._maxsize = maxsize
        self._lock = threading.Lock()
        self._building: dict = {}  # key -> per-key build gate

    def get(self, key, default=None):
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                return self._d[key]
            return default

    def __contains__(self, key) -> bool:
        with self._lock:
            return key in self._d

    def __len__(self) -> int:
        with self._lock:
            return len(self._d)

    def put(self, key, value):
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            while len(self._d) > self._maxsize:
                self._d.popitem(last=False)
            return value

    def clear(self) -> None:
        with self._lock:
            self._d.clear()
            self._building.clear()

    def get_or_build(self, key, builder):
        """Memoized build with PER-KEY serialization: two threads
        asking for the same key run ``builder`` once (the loser
        blocks, then reads the winner's value); different keys build
        concurrently. This is what makes the ``_ensure_*`` store
        builders safe in a multi-threaded driver host — without it,
        two concurrent misses would both run the builder and race the
        same scratch table/path. The main lock is never held during
        ``builder()`` (which may run Spark jobs for minutes)."""
        import threading
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                return self._d[key]
            gate = self._building.get(key)
            if gate is None:
                gate = self._building[key] = threading.Lock()
        with gate:
            with self._lock:  # double-check after winning the gate
                if key in self._d:
                    self._d.move_to_end(key)
                    return self._d[key]
            try:
                value = builder()
            except BaseException:
                # a raising builder() must not leave its gate entry
                # behind, or _building grows monotonically under
                # repeated distinct-key failures (the next caller for
                # the same key re-creates a gate and retries)
                with self._lock:
                    self._building.pop(key, None)
                raise
            with self._lock:
                # publish the value and retire the gate under ONE lock
                # acquisition: popping the gate before put() (the old
                # finally) left a window where a new caller saw neither
                # the value nor a gate and re-ran the build — the exact
                # duplicate-work race the gate exists to prevent
                # (ADVICE r12).
                self._d[key] = value
                self._d.move_to_end(key)
                while len(self._d) > self._maxsize:
                    self._d.popitem(last=False)
                self._building.pop(key, None)
                return value
