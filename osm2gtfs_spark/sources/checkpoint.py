"""Stage checkpointing: one record per stage, tied to the code that built it.

North rule: "every partition writes lineage + row-count metrics to a
checkpoint log so the job resumes mid-tiling without recomputation."
The reference's analog is its pickle cache (osm2gtfs/core/cache.py:13-40):
blobs keyed by the query that made them, probed before each Overpass
query. Here a stage is keyed by its name and its builder's fingerprint.

Layout (parquet-backed here; on a production cluster each stage is an
Iceberg table and ``snapshot_id`` is the Iceberg snapshot — the manifest
schema below is deliberately a subset of what Iceberg records natively):

    <root>/<stage>/data/*.parquet
    <root>/<stage>/manifest.json:
        {stage, snapshot_id, fingerprint, row_count, checksum, inputs,
         input_snapshots: {input: snapshot_id},
         files: {name: {bytes, rows}}, schema, created_unix}

``fingerprint`` is :func:`fingerprint` of the stage's builder.
``row_count`` and ``checksum`` (the order-insensitive sum of each row's
xxhash64) are observed by the write job itself, each file's ``rows``
comes from its parquet footer, and ``schema`` is the written frame's
schema as JSON, which every read of the stage uses: recording a stage
adds no Spark job, and reading it back starts none.

A stage is *complete* iff its manifest exists, its fingerprint is the
current builder's, every recorded data file is there with its recorded
size, and every input still has the recorded snapshot. Anything else is
rebuilt: a killed job leaves data without a manifest (the manifest is
written last); a lost or truncated data file fails the file check; an
input rebuilt since fails the snapshot check, so its dependants are
rebuilt too; data written by other code (a changed builder or package
source, another ``name_without``, a manifest without a fingerprint)
fails the fingerprint check. ``run_stage`` memoizes: complete → read
back, else compute, write, read back. Reading back (instead of returning
the in-memory plan) cuts lineage so downstream failure recovery never
recomputes upstream stages. An empty stage is a part file that carries
only its schema, so it is stored and resumed like any other.

Batch-partitioned state (the streaming ingests' tile partials, CDC
deltas and near-dup admits) is written by :func:`write_partitioned` and
read by :func:`read_if_exists`: one writer that decides what an
overwrite replaces, one reader that tells a missing table from a
broken one.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import pathlib
import shutil
import time
import types

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
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


@functools.cache
def _package_digest() -> str:
    """sha256 over every source file of the package, read once per process."""
    root = pathlib.Path(__file__).resolve().parents[1]
    h = hashlib.sha256()
    for path in sorted(root.rglob("*.py")):
        h.update(f"{path.relative_to(root).as_posix()}\0".encode())
        h.update(hashlib.sha256(path.read_bytes()).digest())
    return h.hexdigest()


def _code(code: types.CodeType) -> list:
    def const(c):
        if isinstance(c, types.CodeType):
            return _code(c)
        if isinstance(c, (tuple, frozenset)):  # a frozenset's order is per-process
            items = [const(x) for x in c]
            return items if isinstance(c, tuple) else sorted(map(json.dumps, items))
        return repr(c)

    return [code.co_code.hex(), list(code.co_names), [const(c) for c in code.co_consts]]


def _builder(fn) -> list:
    if not isinstance(fn, types.FunctionType):
        raise TypeError(f"cannot fingerprint {fn!r}: not a Python function")
    values = [
        *(fn.__defaults__ or ()),
        *(fn.__kwdefaults__ or {}).values(),
        *(cell.cell_contents for cell in fn.__closure__ or ()),
    ]
    return [
        f"{fn.__module__}.{fn.__qualname__}",
        _code(fn.__code__),
        # json.dumps raises TypeError on anything but plain data
        [_builder(v) if callable(v) else json.dumps(v, sort_keys=True) for v in values],
    ]


def fingerprint(build) -> str:
    """The code a stage's data depends on: the package source, ``build``'s
    name and code object, and its defaults and closure values (plain data
    as sorted-key JSON, a function by its own fingerprint). Anything else
    raises ``TypeError``, so no object address gets into the hash. Equal
    across processes and across fresh lambdas of one stage table."""
    return hashlib.sha256(json.dumps([_package_digest(), _builder(build)]).encode()).hexdigest()


def _dump_json(path: str, obj: dict) -> None:
    """Write ``obj`` to ``path`` atomically: a reader sees the old file
    or the new one, never a half-written record."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
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

    def _snapshot(self, stage: str) -> str | None:
        m = self.manifest(stage)
        return m and m["snapshot_id"]

    def is_complete(self, stage: str, fp: str) -> bool:
        """The stage's record holds for fingerprint ``fp`` (module docstring)."""
        m = self.manifest(stage)
        if m is None or m.get("fingerprint") != fp:
            return False
        data = self._data_path(stage)
        sizes = {e.name: e.stat().st_size for e in os.scandir(data)} if os.path.isdir(data) else {}
        return (
            bool(m["files"])
            and all(sizes.get(name) == f["bytes"] for name, f in m["files"].items())
            and all(self._snapshot(i) == snap for i, snap in m["input_snapshots"].items())
        )

    def invalidate(self, stage: str) -> None:
        shutil.rmtree(self._dir(stage), ignore_errors=True)

    # -- write / read ----------------------------------------------------
    def write(self, stage: str, df: DataFrame, inputs: list[str], fp: str) -> DataFrame:
        """Materialize a stage in one job: data first, manifest last (atomicity)."""
        import pyarrow.parquet as pq

        data = self._data_path(stage)
        input_snapshots = {i: self._snapshot(i) for i in inputs}
        shutil.rmtree(self._dir(stage), ignore_errors=True)
        seen = Observation()
        non_null = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
        df.observe(
            seen, F.count(F.lit(1)).alias("rows"), F.sum(F.xxhash64(*non_null)).alias("checksum")
        ).write.mode("overwrite").parquet(data)
        metrics = seen.get
        manifest = {
            "stage": stage,
            "snapshot_id": f"{stage}-{int(time.time() * 1000)}",
            "fingerprint": fp,
            "row_count": metrics["rows"],
            "checksum": metrics["checksum"],
            "inputs": inputs,
            "input_snapshots": input_snapshots,
            "files": {
                e.name: {"bytes": e.stat().st_size, "rows": pq.read_metadata(e.path).num_rows}
                for e in os.scandir(data)
                if e.name.endswith(".parquet")
            },
            "schema": df.schema.jsonValue(),
            "created_unix": time.time(),
        }
        _dump_json(self._manifest_path(stage), manifest)
        return self.read(stage)

    def read(self, stage: str) -> DataFrame:
        schema = T.StructType.fromJson(self.manifest(stage)["schema"])
        return self.spark.read.schema(schema).parquet(self._data_path(stage))

    def run_stage(self, stage: str, fn, inputs: list[str], build) -> tuple[DataFrame, bool]:
        """Resume point: ``(the stage, resumed)``. ``fn`` runs only when
        the stage is not complete for ``build``'s :func:`fingerprint`."""
        fp = fingerprint(build)
        if self.is_complete(stage, fp):
            return self.read(stage), True
        return self.write(stage, fn(), inputs, fp), False

    def metrics(self) -> list[dict]:
        """All stage manifests (the lineage/metrics log)."""
        out = []
        if os.path.isdir(self.root):
            for stage in sorted(os.listdir(self.root)):
                m = self.manifest(stage)
                if m:
                    out.append(m)
        return out
