"""Stage checkpointing with per-partition lineage + resume.

North rule: "every partition writes lineage + row-count metrics to a
checkpoint log so the job resumes mid-tiling without recomputation."
The reference's analog is its pickle cache (osm2gtfs/core/cache.py:13-40)
— keyed blobs probed before each Overpass query.

Layout (parquet-backed here; on a production cluster each stage is an
Iceberg table and ``snapshot_id`` is the Iceberg snapshot — the manifest
schema below is deliberately a subset of what Iceberg records natively):

    <root>/<stage>/data/*.parquet
    <root>/<stage>/manifest.json:
        {stage, snapshot_id, row_count, n_partitions, inputs: [...],
         input_snapshots: {input: snapshot_id}, files: {name: bytes},
         partitions: [{pid, rows, checksum}], schema, created_unix}

The manifest also records ``files`` (each data file's name and size)
and ``input_snapshots`` (each input stage's ``snapshot_id`` when this
stage was written). A stage is *complete* iff its manifest exists,
every recorded data file is there with its recorded size, and every
input still has the recorded snapshot (a zero-row marker stage carries
its schema in the manifest and has no data directory). Incomplete
stages are recomputed: killed jobs leave data without a manifest, since
the manifest is written last; a lost or truncated data file fails the
file check; an input rebuilt since fails the snapshot check, so its
dependants are rebuilt too. ``run_stage`` memoizes: complete → read
back, else compute, write, read back. Reading back (instead of
returning the in-memory plan) cuts lineage so downstream failure
recovery never recomputes upstream stages.

Batch-partitioned state (``run_partitioned_stage`` and the streaming
ingests' tile partials, CDC deltas and near-dup admits) is written by
:func:`write_partitioned` and read by :func:`read_if_exists`: one
writer that decides what an overwrite replaces, one reader that tells
a missing table from a broken one.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.parse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_partitioned(df: DataFrame, path: str, part_col: str = "_batch_id") -> None:
    """Write ``df`` as a parquet table hive-partitioned by ``part_col``,
    replacing only the partitions whose values are present in ``df``:
    a replayed batch rewrites its own partition and leaves every other
    one in place. The mode is this writer's own option, so the session
    conf never decides what an overwrite deletes."""
    df.write.partitionBy(part_col).option("partitionOverwriteMode", "dynamic").mode(
        "overwrite"
    ).parquet(path)


def read_if_exists(
    spark: SparkSession, path: str, schema: T.StructType | None
) -> DataFrame | None:
    """The parquet table at ``path`` read with ``schema``, or None when
    the path does not exist yet. The read's own error decides, so the
    test holds on any filesystem (``os.path.exists`` is always False on
    HDFS or S3). With a schema, a table whose every partition wrote zero
    rows (only ``_SUCCESS``) reads as an empty frame; ``None`` infers
    the schema from the parquet footers."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _dump_json(path: str, obj: dict, indent: int | None = 1) -> None:
    """Write ``obj`` to ``path`` atomically: a reader sees the old file
    or the new one, never a half-written record."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


class CheckpointCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "manifest.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "data")

    # -- manifest ------------------------------------------------------
    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _files(self, stage: str) -> dict[str, int]:
        data = self._data_path(stage)
        if not os.path.isdir(data):
            return {}
        return {e.name: e.stat().st_size for e in os.scandir(data) if e.is_file()}

    def _snapshot(self, stage: str) -> str | None:
        m = self.manifest(stage)
        return m and m["snapshot_id"]

    def is_complete(self, stage: str) -> bool:
        m = self.manifest(stage)
        if m is None:
            return False
        if "schema_json" in m:
            return True
        files = self._files(stage)
        return (
            bool(files)
            and all(files.get(name) == size for name, size in m.get("files", {}).items())
            and all(self._snapshot(i) == snap for i, snap in m.get("input_snapshots", {}).items())
        )

    def invalidate(self, stage: str) -> None:
        shutil.rmtree(self._dir(stage), ignore_errors=True)

    # -- write / read ----------------------------------------------------
    def write(self, stage: str, df: DataFrame, inputs: list[str] | None = None) -> DataFrame:
        """Materialize a stage: data first, manifest last (atomicity)."""
        data = self._data_path(stage)
        input_snapshots = {i: self._snapshot(i) for i in inputs or []}
        shutil.rmtree(self._dir(stage), ignore_errors=True)
        df.write.mode("overwrite").parquet(data)
        back = self.spark.read.parquet(data)
        # per-partition lineage: row count + order-insensitive checksum
        non_null_cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in back.columns]
        parts = (
            back.withColumn("_pid", F.spark_partition_id())
            .withColumn("_h", F.xxhash64(*non_null_cols))
            .groupBy("_pid")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("_h").alias("checksum"),
            )
            .collect()
        )
        manifest = {
            "stage": stage,
            "snapshot_id": f"{stage}-{int(time.time() * 1000)}",
            "row_count": int(sum(r.rows for r in parts)),
            "n_partitions": len(parts),
            "inputs": inputs or [],
            "input_snapshots": input_snapshots,
            "files": self._files(stage),
            "partitions": [
                {"pid": int(r._pid), "rows": int(r.rows), "checksum": int(r.checksum)}
                for r in sorted(parts, key=lambda r: r._pid)
            ],
            "schema": back.schema.simpleString(),
            "created_unix": time.time(),
        }
        _dump_json(self._manifest_path(stage), manifest)
        return back

    def read(self, stage: str) -> DataFrame:
        m = self.manifest(stage)
        if (
            m is not None
            and m.get("row_count") == 0
            and "schema_json" in m
            and not os.path.exists(self._data_path(stage))
        ):
            # zero-row marker stage (see run_partitioned_stage): no data
            # directory exists, the schema travels in the manifest
            return self.spark.createDataFrame(
                [], T.StructType.fromJson(json.loads(m["schema_json"]))
            )
        return self.spark.read.parquet(self._data_path(stage))

    def run_stage(self, stage: str, fn, inputs: list[str] | None = None) -> DataFrame:
        """Resume point: skip ``fn`` entirely if the stage is complete."""
        if self.is_complete(stage):
            return self.read(stage)
        return self.write(stage, fn(), inputs)

    def metrics(self) -> list[dict]:
        """All stage manifests (the lineage/metrics log)."""
        out = []
        if os.path.isdir(self.root):
            for stage in sorted(os.listdir(self.root)):
                m = self.manifest(stage)
                if m:
                    out.append(m)
        return out

    # -- partition-granular (mid-tiling) resume --------------------------
    def _partlog_dir(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "partlog")

    def committed_partitions(self, stage: str) -> dict[str, dict]:
        """{partition value: its commit record} from the partition log."""
        d = self._partlog_dir(stage)
        out: dict[str, dict] = {}
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.endswith(".json"):
                    with open(os.path.join(d, name)) as f:
                        rec = json.load(f)
                    out[str(rec["value"])] = rec
        return out

    def run_partitioned_stage(
        self, stage: str, fn, part_col: str, inputs: list[str] | None = None
    ) -> DataFrame:
        """Mid-stage resume at PARTITION granularity (north rule:
        "resumes mid-tiling without recomputation").

        The stage output is hive-partitioned by ``part_col`` (e.g. the
        coarse tile cell, non-null); each partition value commits
        independently — its data directory is written first
        (:func:`write_partitioned`, so a half-written partition from a
        killed job is replaced idempotently), then its one-line commit record
        (value, rows, checksum, snapshot_id) lands in the partition log.
        On restart only the values missing from the log are computed:
        the plan is filtered to the todo set, so completed tiles are
        pruned at the source and never recomputed.
        """
        done = self.committed_partitions(stage)
        df = fn()
        if done:
            todo_df = df.filter(
                ~F.col(part_col).cast("string").isin(*done.keys())
            )
        else:
            todo_df = df
        data = self._data_path(stage)
        todo_vals = [
            str(r[0])
            for r in todo_df.select(F.col(part_col).cast("string")).distinct().collect()
        ]
        if todo_vals:
            write_partitioned(todo_df, data, part_col)
            back = self.spark.read.parquet(data).filter(
                F.col(part_col).cast("string").isin(*todo_vals)
            )
            non_null = [
                F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in back.columns
            ]
            stats = (
                back.withColumn("_h", F.xxhash64(*non_null))
                .groupBy(F.col(part_col).cast("string").alias("_v"))
                .agg(F.count(F.lit(1)).alias("rows"), F.sum("_h").alias("checksum"))
                .collect()
            )
            os.makedirs(self._partlog_dir(stage), exist_ok=True)
            snap = f"{stage}-{int(time.time() * 1000)}"
            for r in stats:
                rec = {
                    "value": r._v,
                    "rows": int(r.rows),
                    "checksum": int(r.checksum),
                    "snapshot_id": snap,
                    "inputs": inputs or [],
                }
                # the partition VALUE is data — percent-encode it for the
                # filename (mirrors hive partition-dir escaping) so '/',
                # '..' etc. cannot escape the partlog dir; resume reads
                # the value back from the record body, not the filename
                safe = urllib.parse.quote(str(r._v), safe="")
                _dump_json(
                    os.path.join(self._partlog_dir(stage), f"{safe}.json"), rec, indent=None
                )
        if todo_vals and os.path.exists(self._manifest_path(stage)):
            # a previous run committed the zero-row marker; real data
            # exists now, so the marker manifest is stale — drop it
            # (partitioned stages track completion in the partlog)
            os.remove(self._manifest_path(stage))
        if not os.path.exists(data):
            # first run with an empty stage output (ADVICE r3): commit a
            # zero-row marker manifest so the stage is readable by other
            # callers (catalog.read) and visible in metrics() like every
            # committed stage; the schema travels in the manifest since
            # there is no parquet footer to infer it from. A marker from
            # a PREVIOUS empty run is kept as-is (review r4): committed
            # snapshot ids must stay stable across plain re-runs, the
            # same contract non-empty partitions honor via the partlog.
            if os.path.exists(self._manifest_path(stage)):
                return self.read(stage)
            os.makedirs(self._dir(stage), exist_ok=True)
            manifest = {
                "stage": stage,
                "snapshot_id": f"{stage}-{int(time.time() * 1000)}",
                "row_count": 0,
                "n_partitions": 0,
                "inputs": inputs or [],
                "partitions": [],
                "schema": df.schema.simpleString(),
                "schema_json": json.dumps(df.schema.jsonValue()),
                "created_unix": time.time(),
            }
            _dump_json(self._manifest_path(stage), manifest)
            return self.read(stage)
        return self.read(stage)
