"""The two workloads.

``ops_sf0.1`` runs the twelve-op mix over seeded sf0.1 tables; each op
runs from construction through a ``noop`` write.  ``write_path`` runs the
four file verbs over a seeded tree of small files and a few large files,
the curate pipeline with its partitioned write, and the stateful
sessionization stream twin over a seeded event split.

``ops_sf0.1`` makes one untimed warm-up pass that also checks outputs,
then timed passes until ``seconds`` have gone by;
``write_path`` runs verb cycles until ``seconds`` have gone by, then the
stream once (and curate once, in traced runs).  Each returns the end-to-end figures, the named figures printed for
people, and (traced runs) the per-layer figures.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import os
import shutil
import statistics
import time

from perfbench import inputs
from perfbench.harness import Run, reset_dir
from perfbench.stats import describe_latency, self_times, tail_percentile

OPS_SF = 0.1


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def _as_naive(table):
    """Spark hands timestamps over as UTC-zoned Arrow columns; the oracle's
    are naive.  Drop the zone (values are already UTC) so both compare."""
    import pyarrow as pa

    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            table = table.set_column(
                i, f.name, table.column(i).cast(pa.timestamp(f.type.unit))
            )
    return table


def oracle_mismatch(con, sql: str, spark_result) -> str | None:
    """Compare a Spark result (an Arrow table) with its DuckDB oracle as
    order-insensitive canonical rows: same column names, same row count,
    and the same multiset of rows once every cell is rendered as text
    (doubles in shortest round-trip form, so equal text means equal
    bits)."""
    duck = con.execute(sql).fetch_arrow_table()
    cols = sorted(spark_result.column_names)
    if cols != sorted(duck.column_names):
        return f"columns spark={cols} duckdb={sorted(duck.column_names)}"
    if spark_result.num_rows != duck.num_rows:
        return f"rows spark={spark_result.num_rows} duckdb={duck.num_rows}"
    con.register("perfbench_spark", _as_naive(spark_result))
    con.register("perfbench_oracle", duck)
    text = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in cols)
    diff = con.execute(
        f"SELECT count(*) FROM (SELECT {text} FROM perfbench_spark "
        f"EXCEPT ALL SELECT {text} FROM perfbench_oracle)"
    ).fetchone()[0]
    con.unregister("perfbench_spark")
    con.unregister("perfbench_oracle")
    return f"{diff} rows differ from the DuckDB oracle" if diff else None


def _duckdb(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in inputs.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tables_dir}/{t}.parquet')"
        )
    return con


def _sha256(path: str) -> str:
    with open(path, "rb") as handle:
        return hashlib.sha256(handle.read()).hexdigest()


def _files_under(path: str) -> list[str]:
    """Data files under ``path`` (Hadoop's hidden ``.crc`` files aside)."""
    return sorted(
        os.path.relpath(p, path)
        for p in glob.glob(f"{path}/**", recursive=True)
        if os.path.isfile(p)
    )


def _done(n_pass: int, least: int, start: float, seconds: float) -> bool:
    """Timed passes run until ``seconds`` have gone by and at least
    ``least`` passes are made."""
    return n_pass >= least and time.perf_counter() - start >= seconds


def _total(spans, name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _latency_figures(samples: list[float], n_raw: int) -> dict:
    """``op_p50_s`` over the workload's latency samples, gated; the p90 and
    the highest percentile the ``n_raw`` raw samples support (ten samples
    beyond it) are printed beside it."""
    lat = describe_latency(samples)
    return {
        "e2e": {"op_p50_s": lat["p50"]},
        "named": {
            "op_p90_s": (lat["p90"], "s"),
            "op_latency_samples": (lat["n"], "count"),
            "op_raw_samples": (n_raw, "count"),
            "op_tail_pct_supported": (tail_percentile(n_raw) or 0, "pct"),
        },
    }


# ---------------------------------------------------------------------------
# ops_sf0.1
# ---------------------------------------------------------------------------

def _op_call(run: Run, name: str, tables: str, label: str):
    """One op from construction through a noop write, under job group
    ``label``; returns its wall and the frame.  In traced passes the
    construct / plan / execute split is spanned (``executedPlan()``
    forces Catalyst planning before the write; the write wraps the plan
    in a command and plans it again, inside the execute span)."""
    spark, tracer = run.spark, run.tracer
    spark.sparkContext.setJobGroup(label, name)
    t0 = time.perf_counter()
    with tracer.span("operators.run", op=name, group=label):
        with tracer.span("operators.construct"):
            df = run.queries[name](spark, tables)
        if tracer.enabled:
            with tracer.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("operators.execute"):
            df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    df.unpersist()
    return wall, df


def _check_pass(run: Run, order: list[str], tables: str,
                oracles: dict) -> dict[str, int]:
    """Untimed warm-up pass: every op's result is fetched and checked
    against its DuckDB oracle, or (rows-only ops) for being non-empty.
    Returns the row count of each op that ran."""
    rows: dict[str, int] = {}
    con = _duckdb(tables)
    try:
        for name in order:
            def fetch(n=name):
                df = run.queries[n](run.spark, tables)
                result = df.toArrow()
                df.unpersist()
                return result

            ok, got = run.call(name, fetch)
            if not ok:
                continue
            rows[name] = got.num_rows
            if name in oracles:
                why = oracle_mismatch(con, oracles[name], got)
            else:
                why = None if got.num_rows else "no rows"
            if why:
                run.fail(name, why)
    finally:
        con.close()
    run.spark.catalog.clearCache()
    return rows


def run_ops(run: Run, seconds: float) -> dict:
    from googlecloudstorage_blueprints_spark.operators import all_oracles
    from googlecloudstorage_blueprints_spark.plans import shuffle_count

    tables = reset_dir(run.path("tables"))
    inputs.write_tables(tables, OPS_SF, run.seed)
    order = inputs.op_order(run.seed)
    oracles = all_oracles()
    spark, tracer = run.spark, run.tracer

    tracer.enabled = False
    expected_rows = _check_pass(run, order, tables, oracles)

    # timed passes; a traced run alternates traced and untraced passes
    walls = {True: [], False: []}
    per_op: dict[str, list[float]] = {}
    layer_passes: list[dict] = []
    start = time.perf_counter()
    n_pass = 0
    # a traced run makes at least one traced and one untraced pass
    while not _done(n_pass, 1 + tracer.installed, start, seconds):
        traced = tracer.installed and n_pass % 2 == 0
        tracer.enabled = traced
        first_span = len(tracer.spans)
        total = 0.0
        frames = []
        for name in order:
            ok, got = run.call(name, lambda n=name, g=f"{name}#{n_pass}":
                               _op_call(run, n, tables, g))
            if not ok:
                continue
            wall, df = got
            total += wall
            frames.append(df)
            if not traced:
                per_op.setdefault(name, []).append(wall)
            if name not in oracles:
                # its own job group, so the check's jobs stay out of the
                # op's event-log figures
                spark.sparkContext.setJobGroup(f"check#{n_pass}", name)
                if df.count() != expected_rows.get(name):
                    run.fail(name, "row count differs from the warm-up pass")
        tracer.enabled = False
        walls[traced].append(total)
        if traced:
            layer_passes.append(_op_layers(
                tracer.spans[first_span:], frames, shuffle_count
            ))
        spark.catalog.clearCache()
        n_pass += 1

    # one sample per op, its median over the passes, so the figure does
    # not depend on how many passes fit the window
    lat = _latency_figures([statistics.median(v) for v in per_op.values()],
                           sum(map(len, per_op.values())))
    mix_wall = statistics.median(walls[False])
    result = {
        "e2e": {"pass_wall_s": mix_wall, **lat["e2e"]},
        "named": {
            "mix_wall_s": (mix_wall, "s"),
            "passes": (len(walls[False]), "count"),
            **lat["named"],
            **{f"{name}_s": (statistics.median(v), "s")
               for name, v in per_op.items()},
        },
        "layer_passes": layer_passes,
    }
    if tracer.installed:
        result["overhead_s"] = statistics.median(walls[True]) - mix_wall
    return result


def _op_layers(spans, frames, shuffle_count) -> dict:
    """Per-layer figures of one traced pass (the event-log figures are
    joined in by job group after the session stops)."""
    accounted = (_total(spans, "operators.construct")
                 + _total(spans, "plans.plan")
                 + _total(spans, "operators.execute"))
    return {
        "groups": [s["group"] for s in spans if s["name"] == "operators.run"],
        "operators.construct_s": _total(spans, "operators.construct"),
        "operators.py4j_calls": sum(
            s["py4j"] for s in spans if s["name"] == "operators.construct"
        ),
        "plans.plan_s": _total(spans, "plans.plan"),
        "operators.execute_s": _total(spans, "operators.execute"),
        "plans.shuffles": sum(shuffle_count(df) for df in frames),
        "trace.unaccounted_s": _total(spans, "operators.run") - accounted,
        "self": self_times(spans),
    }


# ---------------------------------------------------------------------------
# write_path
# ---------------------------------------------------------------------------

N_SMALL_FILES = 40
N_LARGE_FILES = 4
LARGE_FILE_BYTES = 8 << 20
STREAM_ROWS = 6_000
STREAM_USERS = 200
STREAM_FILES = 3
WRITE_SF = 0.1


class _WritePath:
    """The write path's inputs and calls.  Each call removes its own
    outputs (bucket roots, downloads, the curate directory, the stream
    checkpoint and memory-sink table) before it returns."""

    def __init__(self, run: Run):
        self.run = run
        self.tables = run.path("tables")
        self.tree = run.path("local", "tree")
        self.manifest = inputs.write_file_tree(
            self.tree, run.seed, N_SMALL_FILES
        )
        self.large = run.path("local", "large")
        self.large_manifest = inputs.write_large_files(
            self.large, run.seed, N_LARGE_FILES, LARGE_FILE_BYTES
        )
        self.events = run.path("events")
        self.stream_rows = inputs.split_events(
            self.events, run.seed, STREAM_ROWS, STREAM_USERS, STREAM_FILES
        )
        # sorted like the upload's regex listing (absolute paths)
        self.small_order = sorted(
            os.path.abspath(f"{self.tree}/{rel}") for rel in self.manifest
        )

    # -- verbs -------------------------------------------------------------

    def verbs(self, walls: dict) -> None:
        from googlecloudstorage_blueprints_spark import fileops

        run, spark, tracer = self.run, self.run.spark, self.run.tracer
        bucket_a = reset_dir(run.path("bucket_a"))
        bucket_b = reset_dir(run.path("bucket_b"))
        down = reset_dir(run.path("local", "down"))
        n = len(self.small_order)
        src_hash = [self.manifest[os.path.relpath(p, self.tree)]
                    for p in self.small_order]

        def timed(verb, key, **kwargs):
            # the verbs print a progress line per file, as the reference
            # CLIs do; keep them off the benchmark's own output
            t0 = time.perf_counter()
            with tracer.span(f"fileops.{verb}"), \
                    contextlib.redirect_stdout(io.StringIO()):
                ok, out = run.call(
                    verb, lambda: getattr(fileops, verb)(spark, **kwargs)
                )
            walls[key] = time.perf_counter() - t0
            return ok, out

        ok, up = timed(
            "upload_files", "upload",
            destination_uri=f"file:{bucket_a}",
            source_folder_name=run.rel("local", "tree"),
            source_file_name=r"/d\d/", source_file_name_match_type="regex_match",
            destination_folder_name="up", destination_file_name="blob.tar.gz",
        )
        want = [f"up/blob_{i}.tar.gz" for i in range(1, n + 1)]
        if ok and up != want:
            run.fail("upload_files", "destinations break the _N rule")
        ok, got = timed(
            "download_files", "download",
            source_uri=f"file:{bucket_a}", source_folder_name="up",
            source_file_name=r"blob_\d+\.tar\.gz$",
            source_file_name_match_type="regex_match",
            destination_folder_name=run.rel("local", "down"),
        )
        if ok:
            bad = [i for i in range(1, n + 1)
                   if _sha256(f"{down}/blob_{i}.tar.gz") != src_hash[i - 1]]
            if len(got) != n or bad:
                run.fail("download_files", f"{len(bad)} files differ")
        ok, moved = timed(
            "move_files", "move",
            source_uri=f"file:{bucket_a}", destination_uri=f"file:{bucket_b}",
            source_folder_name="up", source_file_name=r"\.tar\.gz$",
            source_file_name_match_type="regex_match",
            destination_folder_name="moved", destination_file_name="obj.tar.gz",
        )
        if ok:
            # matches are listed lexicographically: blob_1, blob_10, …
            listed = sorted(f"blob_{i}.tar.gz" for i in range(1, n + 1))
            want = [f"moved/obj_{i}.tar.gz" for i in range(1, n + 1)]
            src_of = {f"moved/obj_{i}.tar.gz": int(b[5:-7])
                      for i, b in enumerate(listed, 1)}
            bad = [d for d in want if _sha256(f"{bucket_b}/{d}")
                   != src_hash[src_of[d] - 1]]
            if moved != want or bad or _files_under(f"{bucket_a}/up"):
                run.fail("move_files", "names, bytes or leftover sources")
        ok, removed = timed(
            "remove_files", "remove",
            source_uri=f"file:{bucket_b}", source_folder_name="moved",
            source_file_name=r"obj_\d+\.tar\.gz$",
            source_file_name_match_type="regex_match",
        )
        if ok and (len(removed) != n or _files_under(f"{bucket_b}/moved")):
            run.fail("remove_files", "files left after remove")

        # large files: upload then download, bytes checked
        bigdown = reset_dir(run.path("local", "bigdown"))
        ok, _ = timed(
            "upload_files", "upload_large",
            destination_uri=f"file:{bucket_a}",
            source_folder_name=run.rel("local", "large"),
            source_file_name=r"big\d+\.bin$",
            source_file_name_match_type="regex_match",
            destination_folder_name="big",
        )
        ok, _ = timed(
            "download_files", "download_large",
            source_uri=f"file:{bucket_a}", source_folder_name="big",
            source_file_name=r"big\d+\.bin$",
            source_file_name_match_type="regex_match",
            destination_folder_name=run.rel("local", "bigdown"),
        )
        if ok:
            bad = [f for f, h in self.large_manifest.items()
                   if _sha256(f"{bigdown}/{f}") != h]
            if bad:
                run.fail("download_files", f"large files differ: {bad}")
        for path in (bucket_a, bucket_b, down, bigdown):
            shutil.rmtree(path)

    # -- curate ------------------------------------------------------------

    def curate(self, walls: dict) -> dict:
        """One curate run; checks the report's funnel and that the rows
        written (counted from the files) equal ``n_clean``."""
        from googlecloudstorage_blueprints_spark.pipelines import curate_corpus

        run, spark, tracer = self.run, self.run.spark, self.run.tracer
        inputs.write_tables(reset_dir(self.tables), WRITE_SF, run.seed,
                            ("documents", "embeddings"))
        out = run.path("curated")
        shutil.rmtree(out, ignore_errors=True)
        spark.sparkContext.setJobGroup(CURATE_GROUP, "curate_corpus")
        t0 = time.perf_counter()
        with tracer.span("pipelines.curate_corpus"):
            ok, report = run.call(
                "curate_corpus",
                lambda: curate_corpus(spark, self.tables, f"file:{out}"),
            )
        walls["curate"] = time.perf_counter() - t0
        facts = {}
        if ok:
            import pyarrow.dataset as ds
            import pyarrow.parquet as pq

            parts = glob.glob(f"{out}/split=*/*.parquet")
            written = ds.dataset(out, format="parquet",
                                 partitioning="hive").count_rows()
            funnel = [report.n_input, report.n_quality, report.n_deduped,
                      report.n_near_deduped, report.n_sem_deduped,
                      report.n_clean]
            n_docs = pq.read_metadata(
                f"{self.tables}/documents.parquet").num_rows
            if (funnel != sorted(funnel, reverse=True)
                    or report.n_input != n_docs or report.n_clean == 0
                    or written != report.n_clean
                    or sum(report.split_counts.values()) != written):
                run.fail("curate_corpus",
                         f"report {report} / {written} rows written")
            facts = {
                "files": len(parts),
                "bytes": sum(os.path.getsize(p) for p in parts),
                "stage_rows": sum(funnel),
            }
        shutil.rmtree(out, ignore_errors=True)
        return facts

    # -- stream ------------------------------------------------------------

    def stream(self, walls: dict) -> dict:
        """Drain the stateful-sessions twin over the event split with
        ``availableNow`` into a memory sink; checks that sessions came out
        and that they cover no more events than went in."""
        from googlecloudstorage_blueprints_spark.streaming import (
            streaming_stateful_sessions,
        )

        run, spark, tracer = self.run, self.run.spark, self.run.tracer
        ckpt = run.path("checkpoint")
        shutil.rmtree(ckpt, ignore_errors=True)
        table = "perfbench_sessions"

        def drive():
            with tracer.span("streaming.streaming_stateful_sessions"):
                df = streaming_stateful_sessions(
                    spark, self.events, glob="*.parquet",
                    max_files_per_trigger=1,
                )
            with tracer.span("streaming.run"):
                query = (
                    df.writeStream.format("memory").queryName(table)
                    .outputMode("append")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True).start()
                )
                if not query.awaitTermination(150):
                    query.stop()
                    raise TimeoutError("stream did not drain in 150 s")
                if query.exception() is not None:
                    raise RuntimeError(str(query.exception()))
            return query.recentProgress

        t0 = time.perf_counter()
        ok, progress = run.call("streaming_stateful_sessions", drive)
        walls["stream"] = time.perf_counter() - t0
        facts = {}
        if ok:
            sessions = spark.table(table).collect()
            n_events = sum(r["n_events"] for r in sessions)
            if not sessions or n_events > self.stream_rows:
                run.fail("streaming_stateful_sessions",
                         f"{len(sessions)} sessions over {n_events} events")
            batch_s = [p["durationMs"]["triggerExecution"] / 1e3
                       for p in progress]
            state = [p["stateOperators"][0] for p in progress
                     if p["stateOperators"]]
            facts = {
                "batch_s": batch_s,
                "batches": len(batch_s),
                "batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
                "state_rows": state[-1]["numRowsTotal"] if state else 0,
                "state_bytes": state[-1]["memoryUsedBytes"] if state else 0,
            }
        spark.catalog.dropTempView(table)
        shutil.rmtree(ckpt, ignore_errors=True)
        return facts


CURATE_GROUP = "curate_corpus#0"


def _install_write_path_spans(run: Run) -> None:
    """Span the FsClient methods the verbs call and the sink the curate
    pipeline looks up (traced runs only)."""
    from googlecloudstorage_blueprints_spark.fileops import FsClient
    from googlecloudstorage_blueprints_spark.pipelines import curate

    tracer = run.tracer

    def size_of(local_arg):
        def after(rec, args):
            rec["bytes"] = os.path.getsize(args[local_arg])
        return after

    tracer.wrap(FsClient, "__init__", "fileops.client")
    tracer.wrap(FsClient, "list_names", "fileops.list")
    tracer.wrap(FsClient, "match_names", "fileops.match")
    tracer.wrap(FsClient, "exists", "fileops.exists")
    tracer.wrap(FsClient, "copy_to_local", "fileops.copy", size_of(2))
    tracer.wrap(FsClient, "copy_from_local", "fileops.copy", size_of(1))
    tracer.wrap(FsClient, "server_side_move", "fileops.move")
    tracer.wrap(FsClient, "delete", "fileops.delete")
    tracer.wrap(curate, "write_partitioned", "sinks.write_partitioned")


def run_write_path(run: Run, seconds: float) -> dict:
    """After one untimed warm-up cycle, verb cycles fill the ``seconds``
    window; then the stream twin drains once, as the ``stream`` CLI verb
    runs it.  Traced runs then run the curate pipeline once.

    Curate is left out of untraced runs: its one run per process is mostly
    a fresh JVM's warm-up for its plans, it spread by a quarter of its
    median across seeds, and it would cost ~30 s in every run.  Traced
    runs report its layers and its wall."""
    tracer = run.tracer
    wp = _WritePath(run)
    _install_write_path_spans(run)

    tracer.enabled = False
    wp.verbs({})
    cycles = {True: [], False: []}
    layer_passes: list[dict] = []
    start = time.perf_counter()
    n_cycle = 0
    # a traced run makes at least one traced and one untraced cycle
    while not _done(n_cycle, 1 + tracer.installed, start, seconds):
        traced = tracer.installed and n_cycle % 2 == 1
        tracer.enabled = traced
        first_span = len(tracer.spans)
        walls: dict[str, float] = {}
        wp.verbs(walls)
        tracer.enabled = False
        cycles[traced].append(walls)
        if traced:
            layer_passes.append(_verb_layers(tracer.spans[first_span:]))
        n_cycle += 1

    tracer.enabled = tracer.installed
    first_span = len(tracer.spans)
    once: dict[str, float] = {}
    st = wp.stream(once)
    if tracer.installed:
        cur = wp.curate(once)
        tracer.enabled = False
        batch = _batch_layers(tracer.spans[first_span:], cur, st, wp)
        layer_passes = [
            {**lp, **batch, "self": {**lp["self"], **batch["self"]}}
            for lp in layer_passes
        ]

    med = {k: statistics.median(c[k] for c in cycles[False])
           for k in cycles[False][0]}
    med["stream"] = once["stream"]
    # latency samples are the stream's micro-batches: the verbs' per-call
    # latency follows the JVM's JIT warm-up through the whole window and
    # spread by a third to a half across seeds, so it is printed
    # (files_per_s) and reaches the gate only through pass_wall_s
    batch_s = st.get("batch_s") or [0.0]
    lat = _latency_figures(batch_s, len(batch_s))
    verb_wall = med["upload"] + med["download"] + med["move"] + med["remove"]
    large_mb = N_LARGE_FILES * LARGE_FILE_BYTES / 1e6
    result = {
        "e2e": {"pass_wall_s": sum(med.values()), **lat["e2e"]},
        "named": {
            "files_per_s": (4 * N_SMALL_FILES / verb_wall, "1/s"),
            "mb_per_s": (2 * large_mb
                         / (med["upload_large"] + med["download_large"]),
                         "MB/s"),
            "stream_rows_per_s": (wp.stream_rows / once["stream"], "rows/s"),
            "verb_cycles": (len(cycles[False]), "count"),
            **lat["named"],
        },
        "layer_passes": layer_passes,
    }
    if tracer.installed:
        result["named"]["curate_wall_s"] = (once["curate"], "s")

        def wall(c):
            return sum(c.values())
        result["overhead_s"] = (
            statistics.median(map(wall, cycles[True]))
            - statistics.median(map(wall, cycles[False]))
        )
    return result


def _verb_layers(spans) -> dict:
    verbs = {"fileops.upload_files", "fileops.download_files",
             "fileops.move_files", "fileops.remove_files"}
    return {
        "groups": [],
        "fileops.list_s": _total(spans, "fileops.list"),
        "fileops.match_s": _total(spans, "fileops.match"),
        "fileops.copy_s": _total(spans, "fileops.copy"),
        "fileops.move_s": _total(spans, "fileops.move"),
        "fileops.delete_s": _total(spans, "fileops.delete"),
        "fileops.fs_calls": sum(s["py4j"] for s in spans
                                if s["name"] in verbs),
        "fileops.bytes": sum(s.get("bytes", 0) for s in spans
                             if s["name"] == "fileops.copy"),
        "self": self_times(spans),
    }


def _batch_layers(spans, cur: dict, st: dict, wp: _WritePath) -> dict:
    docs_bytes = os.path.getsize(f"{wp.tables}/documents.parquet")
    return {
        "groups": [CURATE_GROUP],
        "pipelines.stage_rows": cur.get("stage_rows", 0),
        "sinks.write_s": _total(spans, "sinks.write_partitioned"),
        "sinks.files_written": cur.get("files", 0),
        "sinks.bytes_per_input_byte": cur.get("bytes", 0) / docs_bytes,
        "streaming.batches": st.get("batches", 0),
        "streaming.batch_p50_s": st.get("batch_p50_s", 0.0),
        "streaming.state_rows": st.get("state_rows", 0),
        "streaming.state_bytes": st.get("state_bytes", 0),
        "self": self_times(spans),
    }
