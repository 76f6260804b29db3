"""SparkSession construction with the engine's scale-oriented defaults.

Tuned for the sandbox (single JVM, ``local[N]``) but every setting is the
one we would ship to a 1000-executor cluster:

- AQE on (coalesce partitions, skew-join split) — the runtime re-planner
  is our first line of skew defense for the dense-urban-cell joins.
- Arrow on — all pandas-UDF kernels move data in columnar batches.
- Broadcast threshold raised — the dimension tables of this workload
  (lines, colour lookup, schedule, polygon boundaries) are all ≪ 64 MB
  even at 10^12-doc corpus scale; broadcasting them removes shuffles
  from every enrichment join.
- Cross joins disabled — the north rule bans them; any accidental
  cartesian plan fails loudly instead of melting the cluster.

It also holds :func:`materialize`, the engine's one lineage cut.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger("osm2gtfs_spark.session")

DEFAULT_SHUFFLE_PARTITIONS = "32"


def build_session(
    app_name: str = "osm2gtfs-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a real cluster it is supplied by spark-submit and must be None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        # permissive mode: invalid casts → NULL (the reference tolerates bad
        # tag values, e.g. non-numeric frequency → default), and map/array
        # element_at returns NULL instead of raising
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.crossJoin.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # spill sizing, stated explicitly: scan splits of 128 MB and an
        # AQE coalesce target of 64 MB keep every task's working set
        # well under executor memory at any SF — partitions never need
        # to fit a key group in memory (sort-based shuffle spills), but
        # right-sized post-shuffle partitions avoid both tiny-task
        # overhead and multi-GB stragglers on skewed inputs
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_GRAFT_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: every operator, query and pipeline stage
    that reads a frame more than once, or must outlive its sources,
    materializes it here.

    When the SparkContext has a checkpoint dir (``spark.checkpoint.dir``
    at launch, or ``SparkContext.setCheckpointDir``), the cut is a
    reliable ``checkpoint``: its files survive a lost executor, as a
    cluster with dynamic allocation or spot nodes needs. Without one it
    is a ``localCheckpoint``: executor-resident blocks, fastest, but lost
    with their executor. Local blocks are released when the returned
    frame is garbage collected; reliable files only with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.

    Lazy by default: the first action that reads the frame fills it and
    later actions read it; ``eager=True`` fills it now, in one job.
    Neither path adds a cache-manager entry. The path taken is logged
    at DEBUG."""
    reliable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    log.debug("materialize: %s checkpoint, eager=%s", "reliable" if reliable else "local", eager)
    return df.checkpoint(eager) if reliable else df.localCheckpoint(eager)
