"""SparkSession construction for the engine.

Scale posture (100 TB / 1000-executor design, tested on local[*]):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned partition counts.
- ``nanosAsLong``: the driver fixtures store ``events.ts`` as parquet
  ``TIMESTAMP(NANOS)`` which Spark's vectorized reader rejects; we read the
  raw int64 nanos and convert with integer division (see
  ``sources/catalog.py``) so values truncate exactly like DuckDB's reader.
- Arrow enabled: every Pandas-UDF / ``mapInPandas`` operator (similarity
  search, multimodal decode) moves batches over Arrow, not pickled rows.
- GCS: when a ``gs://`` path is used on a real cluster, the GCS Hadoop
  connector picks up credentials from
  ``google.cloud.auth.service.account.json.keyfile`` — mirroring the
  reference's ``--service-account`` handling (``download_file.py:44-62``:
  inline JSON is written to a tempfile first).  Locally we run ``file:/``
  through the identical FileSystem code path.
- Python-worker daemon (local masters only): ``spark.python.daemon.module``
  points at :mod:`googlecloudstorage_blueprints_spark._pydaemon`, which runs
  the stock ``pyspark.daemon`` behind a stat guard on
  ``zipimporter.invalidate_caches``.  Every Python task calls
  ``importlib.invalidate_caches()``, and on CPython 3.11 that re-read
  pyspark.zip's central directory once per cached zipimporter (14–18 of
  them): 130–220 ms a call, 0.2 ms with the guard.  On a 4-vCPU VM the
  stateful twins' tasks spent a median ~1 s each initialising Python
  workers (0.28 s with the guard), and the ``write_path`` benchmark's
  stream micro-batch p50 fell from 2.63 s to 1.57 s (10 paired runs).
  The package's parent directory goes on the workers' ``PYTHONPATH`` so
  the daemon (and any UDF importing engine modules) resolves from every
  working directory.  Cluster masters and sessions built outside
  :func:`get_spark` keep Spark's own daemon.
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.sql import SparkSession

__all__ = ["get_spark", "apply_runtime_conf", "resolve_service_account"]

# Python-worker daemon entry for local sessions (not imported here: the
# daemon runs it with ``python -m``), and the directory holding this
# package, for the workers' PYTHONPATH
_DAEMON_MODULE = "googlecloudstorage_blueprints_spark._pydaemon"
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)

# Runtime-settable SQL confs every engine entry point applies, so the engine
# behaves the same whether the session was built here or handed to us by an
# external harness (the driver builds its own SparkSession).
RUNTIME_CONF = {
    # fixtures store events.ts as TIMESTAMP(NANOS); read as int64 nanos
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime re-planning: coalesce shuffles, split skewed partitions,
    # convert sort-merge joins to broadcast when a side turns out small
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for every pandas_udf / mapInPandas operator
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Catalyst sizes file sources by their on-disk bytes; snappy parquet
    # decompresses ~3× into the hash relations a broadcast actually
    # builds, so the default factor (1.0) lets a column-pruned FACT
    # table slip under autoBroadcastJoinThreshold and get collected
    # through the driver (r13: sql_tpch_q5 was broadcasting LINEITEM at
    # sf0.1 — the estimate said 3.7 MB for a 600k-row build side).
    # 3.0 keeps every true dimension broadcast (they sit orders of
    # magnitude under the threshold) while fact-sized scans plan the
    # shuffle join they would get on a cluster.
    "spark.sql.sources.fileCompressionFactor": "3.0",
    # fixture timestamps are timezone-naive; pin the session to UTC so
    # year()/date_trunc()/date_format() agree with the (naive) DuckDB oracle
    # regardless of the host timezone
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Safe to call on a session the engine did not build; every conf here is
    runtime-settable (verified on pyspark 4.x).
    """
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # a conf may be static in a future Spark; never fail a query
            # because a tuning knob could not be set
            pass
    return spark


def resolve_service_account(service_account: str | None) -> str | None:
    """Mirror the reference's credential bootstrap semantics.

    Reference ``download_file.py:44-62``: ``--service-account`` is either an
    inline JSON document (written to a tempfile) or a path to a key file;
    either way the resolved path is exported via
    ``GOOGLE_APPLICATION_CREDENTIALS``.  Returns the tempfile path when one
    was created (caller owns cleanup, matching ``download_file.py:274-276``).
    """
    if not service_account:
        return None
    try:
        json.loads(service_account)
        fd, path = tempfile.mkstemp(suffix=".json")
        with os.fdopen(fd, "w") as handle:
            handle.write(service_account)
        os.environ["GOOGLE_APPLICATION_CREDENTIALS"] = path
        return path
    except ValueError:
        os.environ["GOOGLE_APPLICATION_CREDENTIALS"] = service_account
        return None


def get_spark(
    app_name: str = "googlecloudstorage-blueprints-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    service_account: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[*]`` when no cluster manager is configured;
    ``shuffle_partitions`` defaults to 2× local cores (AQE coalesces down),
    and on a real cluster should be left unset so AQE + defaults govern.
    """
    key_path = resolve_service_account(service_account)
    cluster_env = bool(
        os.environ.get("SPARK_MASTER") or os.environ.get("MASTER")
    )
    local = master.startswith("local") if master else not cluster_env

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not cluster_env:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")

    # derive a shuffle-partition floor ONLY for local mode — on a real
    # cluster (SPARK_MASTER/MASTER set, or a non-local master arg) the
    # driver's core count means nothing and the AQE-governed default must
    # stand (a local-derived 2×cores here would collapse cluster shuffles
    # to a handful of partitions)
    if shuffle_partitions is None and local:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus_env and cpus_env.isdigit():
            shuffle_partitions = int(cpus_env) * 2
        else:
            # local mode: Spark's 200-partition default drowns small/medium
            # inputs in task overhead; 2× cores is the right floor and AQE
            # coalesces below it when partitions come out small
            m = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
            match = re.match(r"local\[(\d+|\*)\]", m)
            if match:
                n = match.group(1)
                cores = os.cpu_count() or 8 if n == "*" else int(n)
                shuffle_partitions = cores * 2
    if shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )

    if local:
        # workers fork from the engine's daemon entry (module docstring)
        builder = builder.config(
            "spark.python.daemon.module", _DAEMON_MODULE
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)

    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # the reference's one perf knob: 128 MiB resumable-upload chunks
    # (upload_file.py:12 ``CHUNK_SIZE = 128 * 1024 * 1024``) — mapped to
    # the GCS Hadoop connector's output-stream chunk size
    builder = builder.config(
        "spark.hadoop.fs.gs.outputstream.upload.chunk.size", "134217728"
    )
    if key_path or os.environ.get("GOOGLE_APPLICATION_CREDENTIALS"):
        builder = builder.config(
            "spark.hadoop.google.cloud.auth.service.account.json.keyfile",
            key_path or os.environ["GOOGLE_APPLICATION_CREDENTIALS"],
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    return apply_runtime_conf(spark)
