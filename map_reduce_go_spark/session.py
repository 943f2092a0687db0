"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so every entry point (tests, bench,
driver contract) runs the same configuration. Defaults are tuned for the
local[32] test box but chosen to be the *same* knobs you would set on a
1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy switch — the mechanism that keeps a plan tuned at
  sf0.01 valid at 100 TB.
- Arrow on: every pandas_udf / applyInPandas / toPandas transfer is
  Arrow-batched, never row-pickled.
- shuffle.partitions: 2x cores locally; on a real cluster you would size it
  so each post-shuffle partition is ~128 MB (AQE coalesces down from there).

Python workers start from :mod:`map_reduce_go_spark.pyworker` (set as
``spark.python.daemon.module``): Spark's own daemon behind a guard that
stops ``importlib.invalidate_caches()``, which every task calls, from
re-reading the unchanged ``pyspark.zip`` directory once per package
imported from it (14 or more re-reads per task on CPython below 3.13). The daemon and the hooks it runs import this
package, so :func:`get_spark` appends the package root to ``PYTHONPATH``
before the JVM starts; workers then import the engine from any working
directory.

Python workers talk to the JVM over Unix domain sockets
(``spark.python.unix.domain.socket.enabled``), Spark's own transport for
the worker daemon, its workers and the driver's accumulator server. Over
loopback TCP every task's last read (the JVM's end-of-stream marker) blocked
20-48 ms on a 4-vCPU VM, the Nagle-plus-delayed-ACK stall; over a Unix socket
it takes under 1 ms, which cut a trivial 10-task RDD ``map`` stage from 510
to 184 ms of task time. A socket path is ``<dir>/.<uuid>.sock``, the
directory plus 43 bytes, and ``sun_path`` holds at most 107: the sockets go
in the temp directory when that fits, else in ``/tmp`` (the JVM's default
``java.io.tmpdir``). There is no TCP fallback.
"""

from __future__ import annotations

import atexit
import os
import sys
import tempfile
import uuid

from pyspark.sql import SparkSession


def _ensure_protobuf_runtime() -> None:
    """Make a ``google.protobuf`` runtime importable when the interpreter
    has none installed, from ``SPARK_GRAFT_PROTOBUF_PATH`` (or a known
    on-box fallback). transformWithStateInPandas serializes its
    Python<->JVM state protocol with protobuf; without a runtime the TWS
    path is gated off (streaming/stateful.py). MUST run before the JVM
    launches: Python *workers* import the proto too, and they inherit
    PYTHONPATH from the JVM's environment, which snapshots ours at
    session start — a post-launch sys.path fix would heal the driver
    only and the stream would die in the worker.

    The version-check override is protobuf's own documented escape hatch
    (runtime_version.py); the one-minor-older runtime (6.32 vs 6.33
    gencode) is wire-compatible for this protocol and the full TWS test
    passes under it (tests/test_streaming.py::test_stateful_running_totals_tws).
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return
    except ImportError:
        pass
    candidates = [
        p
        for p in os.environ.get("SPARK_GRAFT_PROTOBUF_PATH", "").split(os.pathsep)
        if p
    ]
    # Known fallback: the gcloud SDK ships a modern pure-Python protobuf.
    candidates.append("/usr/lib/google-cloud-sdk/platform/google_appengine")
    for path in candidates:
        if not os.path.isdir(os.path.join(path, "google", "protobuf")):
            continue
        # APPEND, never insert(0): the fallback dir ships many vendored
        # top-level packages besides google/ (the appengine SDK bundles
        # its own yaml, six, ...) — at the front of sys.path they would
        # shadow site-packages/stdlib for the whole process. At the tail
        # they are only reachable for imports nothing else satisfies
        # (here: google.protobuf, which the try above proved absent).
        sys.path.append(path)
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            sys.path.remove(path)
            continue
        # Side effects, applied only when the fallback is actually used:
        # PYTHONPATH gains the fallback dir (appended, same shadowing
        # argument — workers inherit it via the JVM env snapshot) and
        # protobuf's documented version-check escape hatch is set
        # process-wide (the one-minor-older runtime is wire-compatible
        # for the TWS protocol; see docstring).
        _append_to_pythonpath(path)
        os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
        import warnings

        warnings.warn(
            f"google.protobuf loaded from fallback path {path} "
            "(appended to sys.path/PYTHONPATH; "
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK=true set)",
            stacklevel=2,
        )
        return


def _append_to_pythonpath(path: str) -> None:
    """Append ``path`` to ``PYTHONPATH`` unless it is there. Python workers
    take their environment from the JVM's, which snapshots ours at session
    start, so this must run before the JVM launches. Appended, never
    prepended, so the entries already there keep precedence."""
    entries = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if path not in entries:
        os.environ["PYTHONPATH"] = os.pathsep.join([*entries, path])


_SUN_PATH_MAX = 107  # bytes of a socket path, less sun_path's trailing NUL
_SOCKET_NAME = len(f"/.{uuid.UUID(int=0)}.sock")  # what Spark appends to the dir


def unix_socket_dir() -> str:
    """The directory for the Python workers' Unix domain sockets: the temp
    directory when a socket path under it fits in ``sun_path``, else
    ``/tmp``."""
    tmp = tempfile.gettempdir()
    return tmp if len(os.fsencode(tmp)) + _SOCKET_NAME <= _SUN_PATH_MAX else "/tmp"


def get_spark(
    app_name: str = "map_reduce_go_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    defaults to all cores.
    """
    # The worker daemon (pyworker) and the hooks it runs import this
    # package; ahead of the protobuf fallback, which vendors other packages.
    _append_to_pythonpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _ensure_protobuf_runtime()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones, switch
        # sort-merge->broadcast at runtime. Required at 100 TB; harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas interchange (vectorized UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics: parquet naive timestamps are read
        # as UTC so Spark and the DuckDB oracle agree on date arithmetic.
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects by
        # default; read nanos as long (sources/readers.py truncates to
        # micros). Session-level so no reader mutates a running session.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Quiet progress bars in test output.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "map_reduce_go_spark.pyworker")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", unix_socket_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Registered after the JVM launch, so it runs before pyspark's exit
    # hook kills the JVM: a session still running at exit would leave its
    # daemon's and accumulator server's socket files behind.
    atexit.unregister(_stop_active_session)
    atexit.register(_stop_active_session)
    return spark


def _stop_active_session() -> None:
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
