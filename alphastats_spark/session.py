"""SparkSession factory with the engine's at-scale configuration.

One place that encodes WHY each knob is set, so a cluster deployment and
the local tests and benchmarks share the same posture:

* **AQE on** (`spark.sql.adaptive.enabled` + coalescePartitions +
  skewJoin): runtime re-planning fixes the two things no static plan
  survives at 100 TB — over/under-partitioned shuffles and skewed join
  keys (a hot calendar month, a boilerplate shingle, one giant LSH
  bucket). Our salting-free operators lean on AQE skew splitting.
* **shuffle.partitions** sized ~2-3× total executor cores (caller passes
  cores; local default 32). AQE coalesces down, so erring high only costs
  scheduler overhead, while erring low at scale spills.
* **files.maxPartitionBytes 128m** — scan-task granularity that keeps a
  task's working set inside executor memory even with the wide
  ``documents``/payload columns.
* **Arrow enabled** — every Python-side stage in this engine
  (``mapInPandas`` codec kernels, ``applyInPandasWithState`` streaming
  folds) rides Arrow batches; row-at-a-time Python never appears in a
  plan (the plan auditor flags ``BatchEvalPython``).
* **session timezone UTC** — calendar bucketing (year/month/week) must be
  engine-deterministic, and the DuckDB oracles run in UTC.
* **broadcast threshold left default (10 MB)** — dimension tables and the
  per-bucket offset tables in ``operators.ordered`` are far below it;
  raising it globally invites driver OOM on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


#: spark.sql.streaming.stateStore.providerClass value for the RocksDB
#: backend — the production state store for the stateful streaming paths.
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def build_session(
    app_name: str = "alphastats-spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's recommended conf.

    ``master=None`` defers to the environment (spark-submit / cluster
    manager); pass ``local[N]`` with ``cores=N`` for single-node runs.
    ``shuffle_partitions`` defaults to ``2 * cores`` locally and 2-3× the
    cluster's total cores in a deployment (set it explicitly there).

    ``rocksdb_state_store=True`` switches Structured Streaming state to
    the RocksDB provider (built into Spark since 3.2 — no extra jars).
    The default HDFS-backed provider keeps every key IN EXECUTOR HEAP;
    for the unbounded-key stateful operators here —
    ``streaming_exact_dedup`` holds one entry per DISTINCT document ever
    seen, ``streaming_index_candidates``'s band state grows with the
    corpus — heap state is a slow OOM at ingest scale, while RocksDB
    spills to local SSD and keeps heap flat. Opt-in (not default) because
    state-store provider is fixed per checkpoint: flipping it under an
    existing checkpoint fails the restart, so turning it on must be a
    deliberate per-deployment choice. Bounded-state operators (rolling
    windows, per-session aggregates) don't need it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None and cores is not None:
        shuffle_partitions = 2 * cores
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.filterPushdown": "true",
        # Plan STRINGS, not plans: deep pass-chained queries (the report
        # runs ~6 persisted prefix passes per chunk) print each cached
        # relation's whole adaptive subtree, so the rendered text — built
        # for listener events even with the UI off — grows geometrically
        # and can OOM the driver while the query itself is healthy. 1 MB
        # of plan text is plenty for debugging.
        "spark.sql.maxPlanStringLength": "1048576",
        # parquet.aggregatePushdown deliberately NOT enabled: measured a
        # ~60% wall-clock regression on the headline bench (24.2s -> 15.3s
        # without it at sf0.1) — it only helps bare MIN/MAX/COUNT over a
        # scan, which none of our plans are, and it perturbs the
        # vectorized-read path for everything else.
    }
    if rocksdb_state_store:
        conf["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_STATE_STORE
        # changelog checkpointing ships per-batch deltas instead of
        # snapshotting the whole store — the matching knob for large state
        conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"] = "true"
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
