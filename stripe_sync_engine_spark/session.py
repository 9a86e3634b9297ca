"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[32]``; the configuration below is written so
the same code is correct on a 1000-executor cluster:

* AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
* ``spark.sql.shuffle.partitions`` sized for the local test harness; on a
  real cluster AQE's coalescing makes the initial number mostly a ceiling.
* Arrow enabled for the few Pandas-UDF paths (similarity / multimodal).
* Timestamps normalized to UTC so event-time semantics match the oracle.
* ``InferFiltersFromGenerate`` excluded: for an explode over a COMPUTED
  array (shingles, token arrays — this engine's bread and butter) the rule
  clones the whole array-construction expression into an inferred
  ``size(...) > 0`` filter, which predicate-pushdown then sinks below the
  materializing projections — re-evaluating the interpreted
  higher-order-function pipeline once per row with every subexpression
  re-inlined (measured 25× slowdown on the shingle explode). The rule only
  helps when the generator input is a stored column; none of our hot paths
  are."""

from __future__ import annotations

import os
from collections.abc import Iterable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# Scan-split floor (r16, guide §2.2/§2.5): Spark's default
# spark.sql.files.minPartitionNum is defaultParallelism, which forces a
# core-count-dependent MINIMUM split count on every file scan — a
# kilobyte bucket file shatters into 32 splits on local[32] (31 of them
# empty: one row group goes to one split), so the many tiny bucket-pruned
# scans of the store protocol paid ~32 task launches each where the data
# fits in one. Measured (interleaved A/B, sf0.1): the mixture steady trio
# 1.53/1.33/1.59s → 1.14/0.90/1.05s, txt_bm25_cdc_window 5.34 → 4.60s,
# corpus_cdc_fanout 6.95 → 5.25s, no entry slower. With a floor of 1 the
# split count derives ONLY from input size (maxPartitionBytes +
# openCostInBytes) — tiny input → few tasks, 100 TB input → the same
# ~800k 128 MB splits as before — i.e. the scale-ADAPTIVE behavior the
# default's core-count constant was defeating; it also decouples scan
# parallelism from $SPARK_GRAFT_CPUS, so the 8-core bench run plans the
# same splits as the 32-core one.
DEFAULT_MIN_SCAN_PARTITIONS = os.environ.get("SPARK_GRAFT_MIN_SCAN_PARTITIONS", "1")

EXCLUDED_OPTIMIZER_RULES = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def get_spark(app_name: str = "stripe-sync-engine-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.minPartitionNum", DEFAULT_MIN_SCAN_PARTITIONS)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Commit-protocol overhead (r15, guide §6): the store's writes get
        # their atomicity from the MANIFEST swap (storage.py) — every
        # version dir is private to one write job and an aborted job's dir
        # is simply never referenced (vacuumed later). The v1 committer's
        # extra job-commit rename pass and the _SUCCESS marker protect
        # against failure modes the manifest already makes irrelevant, and
        # cost a measurable slice of every small commit (measured: 1.02s →
        # 0.80s per 150-row bucketed commit). On object stores at 100 TB
        # v1's sequential rename pass is notoriously worse — v2 (or a
        # manifest committer, which this store effectively is) is the
        # standard posture.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """A DataFrame over rows that already sit on the driver (webhook
    bodies, API pages, query terms), planned as a ``LocalTableScan``.

    ``spark.createDataFrame(list)`` plans as a pickled Python RDD
    (``Scan ExistingRDD``): every job that reads it launches Python-worker
    tasks to unpickle the rows, and a webhook batch's parse→project
    lineage re-runs them inside each entity's write job. Measured on 4
    cores: a 10-row frame + ``from_json`` + ``collect`` took 0.296 s from
    a list and 0.029 s from a ``pyarrow.Table``. So the rows are built
    into an Arrow table column by column, each column typed by its Spark
    field (never inferred from the values), and handed to
    ``createDataFrame``, which turns a ``pyarrow.Table`` into a local
    relation whatever the Arrow conf says.

    ``rows`` are positional tuples in ``schema`` order (a ``StructType``
    or a DDL string). Values follow ``createDataFrame(list)``'s rules: a
    naive ``datetime`` in a ``timestamp`` column is a wall-clock time in
    the system zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = schema.fields
    rows = list(rows)
    if any(len(r) != len(fields) for r in rows):
        raise ValueError(f"every row must have {len(fields)} values: {schema.simpleString()}")
    columns = list(zip(*rows)) if rows else [()] * len(fields)
    arrays = []
    for f, col in zip(fields, columns):
        if isinstance(f.dataType, TimestampType):
            col = [
                v.astimezone(timezone.utc)
                if isinstance(v, datetime) and v.tzinfo is None
                else v
                for v in col
            ]
        arrays.append(pa.array(col, type=to_arrow_type(f.dataType)))
    table = pa.Table.from_arrays(arrays, names=[f.name for f in fields])
    return spark.createDataFrame(table, schema)
