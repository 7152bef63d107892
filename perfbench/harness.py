"""Run bookkeeping, session set-up and teardown shared by the workloads."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

MASTER = "local[4]"
SETUP_PROBES = 1


@dataclass
class Run:
    """One benchmark invocation: where it works, what it attempted and
    which of those calls failed (raised, or produced wrong output)."""

    root: str
    work: str
    seed: int
    tracer: object
    spark: object = None
    queries: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    setup: dict = field(default_factory=dict)

    def call(self, what: str, fn):
        """Run one counted engine call; returns ``(ok, result)``."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.fail(what, traceback.format_exc())
            return False, None

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {why.strip()}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def rel(self, *parts: str) -> str:
        """A work path relative to the checkout root (the verbs resolve
        local folders against the working directory)."""
        return os.path.relpath(self.path(*parts), self.root)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def cold_set_up(work: str, extra_conf: dict[str, str] | None = None):
    """What a new process pays before its first op: import the engine,
    build its session (launching the JVM) and load the operator registry.
    Returns the session, the registry and the two times."""
    t0 = time.perf_counter()
    from googlecloudstorage_blueprints_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **(extra_conf or {}),
    }
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from googlecloudstorage_blueprints_spark.operators import all_queries

    queries = all_queries()
    t2 = time.perf_counter()
    return spark, queries, {"get_spark_s": t1 - t0,
                            "registry_load_s": t2 - t1}


def _probe(work: str) -> dict:
    """One cold set-up in a child process, which stops its JVM before it
    exits."""
    out = subprocess.run(
        [sys.executable, "-m", "perfbench.harness", work],
        capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def set_up(run: Run, extra_conf: dict[str, str]) -> None:
    """``SETUP_PROBES`` cold set-ups in child processes, then this
    process's own, which it keeps.  ``setup_s`` and its two parts are
    medians over all of them.  Only one JVM is up at a time.  A cold
    set-up costs 4-9 s on a 4-vCPU VM, which is what bounds the count."""
    samples = [_probe(run.work) for _ in range(SETUP_PROBES)]
    with run.tracer.span("session.set_up"):
        run.spark, run.queries, own = cold_set_up(run.work, extra_conf)
    samples.append(own)
    run.tracer.count_py4j(run.spark.sparkContext._gateway._gateway_client)
    run.setup = {
        "setup_s": statistics.median(
            s["get_spark_s"] + s["registry_load_s"] for s in samples),
        "get_spark_s": statistics.median(s["get_spark_s"] for s in samples),
        "registry_load_s": statistics.median(
            s["registry_load_s"] for s in samples),
    }


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    # one set-up probe: python3 -m perfbench.harness <work dir>
    spark, _, times = cold_set_up(sys.argv[1])
    shut_down(spark)
    print(json.dumps(times))
