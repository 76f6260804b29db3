"""Benchmark of osm2gtfs_spark as its users run it.

    python3 perfbench/run.py --workload feed_frequency --seed 1 --seconds 5 --trace 0

Run from the repository root. One run starts one Spark session on
``local[<cpus this process may use>]``, sets it up several times and makes
the first operation, the cold one a one-shot CLI call or batch job pays:
that is the measured one. If ``--seconds`` outlasts it, warm repeats
follow as diagnostics. Every output is checked.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` spans around the engine's
public functions and Spark's event log give the per-layer ones. The line
before it carries diagnostics (the calibration probe, failed-op ratio).

Everything a run writes goes under ``.perfbench_work/`` in the working
directory and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import types
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))

SETUPS = 5  # set-ups per run (one JVM launch, four context restarts); setup_s is their median
# Input sizes are cut for the time budget: a run must average under ~60 s,
# and the larger inputs measured in perfbench/README.md ("Input sizes")
# take 83-103 s a run. ~5k docs.
FEED_CITY = dict(n_lines=100, variants_per_line=2, stops_per_variant=12)
QUERY_SF = 0.01
# The queries and the layers they stand for: functions.geo (cell_encode),
# operators.spatial joins (point_in_polygon, polygon_table_join, knn_snap,
# within_distance_pairs, adaptive_cell_split), operators.skew
# (replicated_salted_join), operators.dedup (dedup_components,
# minhash_fast_pairs), operators.similarity (ann_cosine_topk),
# plans.corpus_prep with operators.text and operators.corpus_index
# (corpus_prep_pipeline), operators.spans (interleaved_chunk_spans). The
# batch takes ~35 s on 4 cores; more queries would not fit a run's budget.
QUERIES = [
    "cell_encode",
    "point_in_polygon",
    "polygon_table_join",
    "knn_snap",
    "within_distance_pairs",
    "adaptive_cell_split",
    "replicated_salted_join",
    "dedup_components",
    "minhash_fast_pairs",
    "ann_cosine_topk",
    "corpus_prep_pipeline",
    "interleaved_chunk_spans",
]
if os.environ.get("PERFBENCH_SMOKE"):  # smallest inputs, for perfbench/test_smoke.py
    FEED_CITY = dict(n_lines=3, variants_per_line=2, stops_per_variant=4)
    QUERY_SF = 0.001
    SETUPS = 2
# validate_feed checks that are referential integrity; each must be 0
RI_CHECKS = ("stop_times_fk_trip", "stop_times_fk_stop", "trips_fk_route", "trips_fk_service", "trips_fk_shape")

# per-layer metric -> (span name, span figure, unit); see perfbench/README.md
# for the end-to-end metric each one should move
LAYERS = {
    "cli.run_s": ("cli.run", "s", "s"),
    "plans.pipeline.build_s": ("plans.pipeline", "s", "s"),
    "plans.pipeline.jobs": ("plans.pipeline", "jobs_all", "count"),
    "sources.gtfs_sink.validate_s": ("sources.gtfs_sink.validate", "s", "s"),
    "sources.gtfs_sink.validate_jobs": ("sources.gtfs_sink.validate", "jobs_all", "count"),
    "sources.gtfs_sink.zip_s": ("sources.gtfs_sink.zip", "s", "s"),
    "sources.gtfs_sink.zip_jobs": ("sources.gtfs_sink.zip", "jobs_all", "count"),
    "sources.gtfs_sink.member_max_s": ("sources.gtfs_sink.member", "max_s", "s"),
    "operators.indexing.global_index_s": ("operators.indexing.global_index", "s", "s"),
}
for _q in QUERIES:
    LAYERS[f"q.{_q}.construct_s"] = (f"q.{_q}.construct", "s", "s")
    LAYERS[f"q.{_q}.exec_s"] = (f"q.{_q}.exec", "s", "s")
    LAYERS[f"q.{_q}.construct_jobs"] = (f"q.{_q}.construct", "jobs_all", "count")


def _isolate(work: str) -> None:
    """Keep every file the run writes under ``work`` and let Spark's Python
    workers import the engine. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVM would otherwise keep perf data under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def children() -> list[int]:
    """Process ids of this process's live children."""
    pids = []
    for tid in os.listdir("/proc/self/task"):
        with contextlib.suppress(OSError), open(f"/proc/self/task/{tid}/children") as f:
            pids += [int(p) for p in f.read().split()]
    return pids


def peak_rss_mb() -> float:
    """VmHWM of this process plus its child processes (the Spark JVM)."""
    kb = 0
    for pid in [os.getpid(), *children()]:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def adopt_orphans() -> None:
    """Make this process the one that inherits its descendants when their
    parent dies, so ``stop_processes`` can wait for Spark's Python workers
    after the JVM that started them has exited."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark context and its JVM, then wait until every process
    this run started has ended; kill what is still running after
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if SparkContext._active_spark_context is not None:
            with contextlib.suppress(Exception):
                SparkContext._active_spark_context.stop()
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            # the JVM exits when its standard input closes
            with contextlib.suppress(OSError):
                gateway.proc.stdin.close()
            SparkContext._gateway = SparkContext._jvm = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


class Run:
    """One benchmark run: a session, its inputs and the operations on them."""

    def __init__(self, args, work: str):
        from perfbench.tracing import Tracer

        self.args = args
        self.work = work
        self.tracer = Tracer() if args.trace else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.rows = 0  # output rows of the last operation

    # -- session -----------------------------------------------------------
    def start_session(self, event_log: bool):
        from osm2gtfs_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + log_dir
            conf["spark.eventLog.compress"] = "false"
        self.spark = build_session("perfbench", master=f"local[{CPUS}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.spark = self.spark

    def calibrate(self) -> float:
        """Fixed Python and JVM work; its time tracks the box, not the engine."""
        t0 = time.perf_counter()
        h = hashlib.sha256()
        block = bytes(range(256)) * 4096
        for _ in range(48):
            h.update(block)
        sum(i * i for i in range(400_000))
        self.spark.range(0, 4_000_000, numPartitions=CPUS).selectExpr("sum(hash(id))").collect()
        return time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def timed_op(self, op: int) -> float | None:
        """Run operation ``op``; its wall time, or None if it raised."""
        if self.tracer is not None:
            self.tracer.op = op
        t0 = time.perf_counter()
        try:
            self.operation()
        except Exception:
            traceback.print_exc()
            self.fail(f"operation {op} raised")
            return None
        return time.perf_counter() - t0

    def execute(self) -> dict:
        t_start = time.perf_counter()
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            self.start_session(event_log=self.tracer is not None and i == SETUPS - 1)
            if i == 0:
                jvm_start = time.perf_counter() - t0
            self.setup()
            setups.append(time.perf_counter() - t0)
        if self.tracer is not None:
            self.install_spans()
        # The measured operation is the session's first, with the class
        # loading and code generation a one-shot CLI call or batch job
        # pays. Warm repeats only follow if --seconds outlasts it; they
        # are diagnostics (see perfbench/README.md, "Why the first").
        t_first = time.perf_counter()
        first = self.timed_op(0)
        rows = self.rows
        warm: list[float] = []
        while first is not None and time.perf_counter() - t_first < self.args.seconds:
            dt = self.timed_op(len(warm) + 1)
            if dt is None:
                break
            warm.append(dt)
        self.calibrate()  # the probe's own first run warms it
        calib = [self.calibrate()]
        self.verify()
        calib.append(self.calibrate())
        rss = peak_rss_mb()
        if first is None:
            raise SystemExit("perfbench: the operation did not complete")
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            # a one-shot CLI call pays the JVM launch and then the operation
            "warmup_s": (jvm_start + first, "s"),
            "op_s": (first, "s"),
            "rows_per_s": (rows / first, "1/s"),
        }
        self.spark.stop()
        if self.tracer is not None:
            metrics = self.layer_metrics(first, calib, jvm_start)
            metrics["process.peak_rss_mb"] = (rss, "MB")
        diagnostics = {
            "calib.probe_s": calib,
            "failed_ops_ratio": self.failed / max(self.attempted, 1),
            "setups_s": setups,
            "jvm_start_s": jvm_start,
            "first_op_s": first,
            "warm_ops_s": warm,
            "rows": rows,
            "peak_rss_mb": rss,
            "output_sha256": getattr(self, "digest", None),
            "run_s": time.perf_counter() - t_start,
        }
        print(json.dumps({"diagnostics": diagnostics}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, op_s: float, calib: list[float], jvm_start: float) -> dict:
        """Per-layer figures of the measured (first) operation."""
        from perfbench import tracing

        jobs, tasks = tracing.read_event_log(os.path.join(self.work, "eventlog"))
        tracing.attribute(self.tracer, jobs)
        spans = tracing.op_spans(self.tracer, jobs, 0)
        out: dict[str, tuple[float, str]] = {
            "session.start_s": (jvm_start, "s"),
            "calib.probe_s": (statistics.median(calib), "s"),
            "trace.op_s": (op_s, "s"),
            "trace.spans": (sum(1 for s in self.tracer.spans if s.op == 0), "count"),
        }
        for name, (span, key, unit) in LAYERS.items():
            out[name] = (spans.get(span, {}).get(key, 0.0), unit)
        top = ("plans.pipeline", "sources.gtfs_sink.validate", "sources.gtfs_sink.zip")
        out["trace.top_spans_share"] = (sum(spans.get(n, {}).get("s", 0.0) for n in top) / op_s, "ratio")
        out["sources.gtfs_sink.zip_bytes"] = (float(getattr(self, "zip_bytes", 0)), "bytes")
        op_span_ids = {s.id for s in self.tracer.spans if s.op == 0}
        mine = {j.id for j in jobs if j.span in op_span_ids}
        for k, v in tracing.spark_totals(jobs, tasks, mine).items():
            unit = "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "ratio" if k == "task_skew_max" else "count"
            out[f"spark.{k}"] = (v, unit)
        return out

    def install_spans(self) -> None:
        """Wrap the engine functions the workload calls in spans."""

    def verify(self) -> None:
        """Checks that need the whole run; per-operation ones run inline."""


class FeedRun(Run):
    """feed_frequency: ``osm2gtfs -c config.json`` on an Accra-like docs
    table, the default frequency pipeline, validated and zipped."""

    def __init__(self, args, work: str):
        from osm2gtfs_spark import cli

        super().__init__(args, work)
        self.validation: dict[str, int] = {}
        # keep validate_feed's report rows: the CLI collects them once to
        # log violations, and the check reads the same rows
        orig = cli._log_validation

        def log_validation(report):
            rows = report.collect()
            self.validation = {r.check: r.n_bad for r in rows}
            return orig(types.SimpleNamespace(collect=lambda: rows))

        cli._log_validation = log_validation

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from osm2gtfs_spark.sources import docs as D

        docs = os.path.join(self.work, "docs")
        shutil.rmtree(docs, ignore_errors=True)
        os.makedirs(docs)
        span = pa.struct(
            [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
        )
        schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
        table = pa.Table.from_pandas(
            D.synthesize_city(D.CitySpec(seed=self.args.seed, **FEED_CITY)), schema, preserve_index=False
        )
        step = -(-table.num_rows // CPUS)
        for i in range(CPUS):
            pq.write_table(table.slice(i * step, step), os.path.join(docs, f"part-{i:05d}.parquet"))
        self.config = os.path.join(self.work, "config.json")
        self.zip_path = os.path.join(self.work, "feed.zip")
        with open(self.config, "w") as f:
            json.dump(
                {"inputs": {"docs_parquet": docs}, "output_file": self.zip_path, "sink_shards": CPUS}, f
            )

    def install_spans(self) -> None:
        from osm2gtfs_spark import cli
        from osm2gtfs_spark.plans import gtfs, pipeline
        from osm2gtfs_spark.sources import gtfs_sink

        t = self.tracer
        t.wrap(cli, "run", "cli.run")
        for fn in ("run_frequency_pipeline", "run_schedule_pipeline"):
            t.wrap(pipeline, fn, "plans.pipeline")
        t.wrap(gtfs_sink, "validate_feed", "sources.gtfs_sink.validate")
        t.wrap(cli, "_log_validation", "sources.gtfs_sink.validate")
        t.wrap(gtfs_sink, "write_gtfs_zip", "sources.gtfs_sink.zip")
        t.wrap(gtfs_sink, "_write_csv", "sources.gtfs_sink.member")
        t.wrap(gtfs, "global_index", "operators.indexing.global_index")

    def operation(self) -> None:
        from osm2gtfs_spark import cli

        self.attempted += 1
        self.validation = {}
        args = cli.build_parser().parse_args(["-c", self.config])
        path = cli.run(args, self.spark)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        self.rows, problems = feed_problems(path)
        if getattr(self, "digest", digest) != digest:
            problems.append("zip bytes differ from the first build")
        self.digest = digest
        bad = {k: v for k, v in self.validation.items() if k in RI_CHECKS and v}
        if not self.validation or bad:
            problems.append(f"validate_feed referential-integrity checks {bad or 'missing'}")
        if problems:
            self.fail("feed: " + "; ".join(problems))
        self.zip_bytes = os.path.getsize(path)


def feed_problems(path: str) -> tuple[int, list[str]]:
    """Data rows in a GTFS zip, and what a read of the zip, independent of
    the engine, finds wrong with it: missing or empty members, rows whose
    field count differs from the header's, duplicate ids, dangling
    references, and stop sequences that do not increase within a trip.
    (stop_times.stop_id is not checked against stops.txt: the engine
    writes stop keys there, which validate_feed checks instead.)"""
    with zipfile.ZipFile(path) as z:
        t = {n[:-4]: list(csv.DictReader(io.StringIO(z.read(n).decode("utf-8")))) for n in z.namelist()}
    rows = sum(len(r) for r in t.values())
    bad = [f"{m}.txt missing or empty" for m in FEED_MEMBERS if not t.get(m)]
    if bad:
        return rows, bad
    for name, rs in t.items():
        if any(None in r or None in r.values() for r in rs):
            bad.append(f"{name}.txt has a row whose field count differs from the header's")

    def col(name, c):
        return [r[c] for r in t.get(name, [])]

    for name, key in (("stops", "stop_id"), ("routes", "route_id"), ("trips", "trip_id"), ("calendar", "service_id")):
        if len(set(col(name, key))) != len(t[name]):
            bad.append(f"{name}.{key} not unique")
    for child, c, parent, p in FEED_REFERENCES:
        missing = {v for v in col(child, c) if v} - set(col(parent, p))
        if missing:
            bad.append(f"{len(missing)} {child}.{c} values not in {parent}.{p}")
    seqs: dict[str, list[int]] = {}
    for r in t["stop_times"]:
        seqs.setdefault(r["trip_id"], []).append(int(r["stop_sequence"]))
    if any(s != sorted(set(s)) for s in seqs.values()):
        bad.append("stop_sequence does not increase within a trip")
    return rows, bad


FEED_MEMBERS = ("agency", "stops", "routes", "trips", "stop_times", "calendar", "frequencies")
# (table, column, table, column): every non-empty value of the first is in the second
FEED_REFERENCES = (
    ("stop_times", "trip_id", "trips", "trip_id"),
    ("trips", "trip_id", "stop_times", "trip_id"),
    ("trips", "route_id", "routes", "route_id"),
    ("trips", "service_id", "calendar", "service_id"),
    ("trips", "shape_id", "shapes", "shape_id"),
    ("frequencies", "trip_id", "trips", "trip_id"),
    ("trips", "trip_id", "frequencies", "trip_id"),
)


class QueryRun(Run):
    """query_mix: one batch of spatial and corpus registry queries on
    seeded sf 0.01 tables, each timed to one action that hashes every
    output column."""

    def setup(self) -> None:
        from perfbench.tables import write_tables

        self.sf_dir = os.path.join(self.work, "sf")
        write_tables(self.sf_dir, self.args.seed, QUERY_SF)
        self.fingerprints: dict[str, tuple] = {}

    def _call(self, name: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(name, fn, *args)

    def operation(self) -> None:
        from osm2gtfs_spark.plans import queries as Q

        registry = Q.queries()
        rows = 0
        for name in QUERIES:
            self.attempted += 1
            try:
                df = self._call(f"q.{name}.construct", registry[name], self.spark, self.sf_dir)
                fp = self._call(f"q.{name}.exec", fingerprint, df)
            except Exception:
                traceback.print_exc()
                self.fail(f"query {name} raised")
                continue
            if self.fingerprints.setdefault(name, fp) != fp:
                self.fail(f"query {name}: fingerprint {fp} differs from {self.fingerprints[name]}")
            rows += fp[1]
        self.rows = rows

    def verify(self) -> None:
        """Compare each query's fingerprint with its DuckDB oracle SQL on
        the same tables."""
        import duckdb

        from osm2gtfs_spark.plans import queries as Q
        from osm2gtfs_spark.sources.tpch import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        oracles = Q.oracle_sql()
        for name in QUERIES:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            want = oracle_fingerprint(cols, cur.fetchall())
            if want != self.fingerprints.get(name):
                self.fail(f"query {name}: fingerprint {self.fingerprints.get(name)} != oracle {want}")
        con.close()


NULL, SEP = "\x00", "\x1f"  # canonical text of a NULL; between columns


def _canon(field):
    """Spark column → the string ``_canon_value`` gives for the same value."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(f"`{field.name}`")
    if isinstance(field.dataType, (T.FloatType, T.DoubleType, T.DecimalType)):
        d = c.cast("double")
        c = F.when(d == F.floor(d), F.floor(d).cast("string")).otherwise(F.round(d, 6).cast("string"))
    elif not isinstance(field.dataType, T.StringType):
        c = c.cast("string")
    return F.coalesce(c, F.lit(NULL))


def fingerprint(df) -> tuple:
    """(sorted column names, row count, order-insensitive value hash): one
    Spark action that reads every output column. The hash is the sum over
    rows of the leading 60 bits of the md5 of the row's canonical text."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = F.concat_ws(SEP, *[_canon(df.schema[c]) for c in cols])
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return (tuple(cols), r.n, int(r.h or 0))


def _canon_value(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join("null" if x is None else _canon_value(x) for x in v) + "]"
    f = float(v)
    return str(int(f)) if f.is_integer() else repr(round(f, 6))


def oracle_fingerprint(cols: list[str], rows: list[tuple]) -> tuple:
    """``fingerprint`` of rows computed elsewhere (the DuckDB oracle)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = 0
    for r in rows:
        text = SEP.join(_canon_value(r[i]) for i in order)
        h += int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
    return (tuple(sorted(cols)), len(rows), h)


WORKLOADS = {"feed_frequency": FeedRun, "query_mix": QueryRun}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    _isolate(work)
    adopt_orphans()
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        try:
            import osm2gtfs_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        result = WORKLOADS[args.workload](args, work).execute()
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
