"""SparkSession factory and session preparation.

Design notes for scale (local[32] here, 1000-executor cluster target):
- AQE on: runtime partition coalescing, skew-join splitting, and
  broadcast-join demotion replace the reference's hand-rolled adaptive
  partitioners (SURVEY.md §2.3 X5-X12).
- UTC session timezone so timestamp arithmetic agrees with the DuckDB
  oracle (naive UTC timestamps).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: robustness flag for
  TIMESTAMP(NANOS) parquet (which Spark 4 otherwise refuses to read) —
  with it, a nanos column surfaces as BIGINT epoch-ns. The engine does
  NOT depend on the parquet physical type: the driver currently ships
  ``events.ts`` as timestamp[us], and ``sources.tables.normalize_epoch_ns``
  converts whatever arrives to the engine's BIGINT epoch-ns time model
  (the reference's BigInt epoch timestamps,
  state/cluster/naive/HashJoin.scala:50) at the load boundary.
- Arrow enabled for the Pandas-UDF slow paths (similarity, multimodal).
"""

from __future__ import annotations

import os
import sys
import weakref

from pyspark.sql import SparkSession

# SQL configs applied to any session that runs engine queries. All of
# these are runtime-settable (SQLConf), so they also work on a session
# the test driver created for us.
SESSION_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound Arrow batch row count for Pandas-UDF paths: multimodal rows
    # carry opaque binary payloads, and the default 10k-row batches
    # would hand a Python worker multi-GB chunks for media columns.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # Streaming state: evict eagerly on watermark (default, made explicit).
    "spark.sql.streaming.statefulOperator.allowMultiple": "true",
    # Trust the within-bucket sort order of bucketed tables when (and
    # only when) each bucket is a SINGLE file — Spark 3.0 stopped
    # exposing bucketed-scan outputOrdering by default because
    # multi-file buckets can't guarantee it; with this on, the check
    # is still per-table (files-per-bucket == 1). write_bucketed
    # consumers that pre-place one file per bucket (the graph edge
    # table since round 10) get sort-FREE sort-merge joins on the
    # bucket key: the per-iteration edge-side sort this elides was
    # the UnsafeExternalSorter that OOM'd PageRank's shuffle-join
    # fallback at 957 M edges (SCALEPROBE_r09_crossover_sf40).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


# Capacity of Spark's generated-class cache
# (``spark.sql.codegen.cache.maxEntries``, default 100). The cache is
# an LRU, and a pipeline that cycles through more distinct whole-stage
# classes than it holds never hits: measured on the dedup family
# (minhash_lsh_pairs, ngram_jaccard_pairs → connected_components,
# remove_duplicate_spans over a 600-document corpus, local[4]), every
# warm pass recompiled its whole 148-class working set, and the JIT
# threads then spent more CPU on the fresh classes than the executor
# tasks spent on data. At 1000 the same pass compiles each class once
# per session. A STATIC conf: it is set in ``get_spark``'s builder, not
# in SESSION_CONFS (a runtime ``conf.set`` on it fails), so a session
# an outside harness built keeps that harness's setting.
CODEGEN_CACHE_ENTRIES = 1000


# Executor-memory sizing for the GRAPH family (operator documentation
# distilled from the sf3/sf10ish probe campaigns, SCALEPROBE_r05/r06 +
# round 7):
# - Edge-grain iterative ops (pagerank_edges, triangle_count_edges)
#   complete at the default 8 g single-JVM heap even at 239 M edges —
#   their per-round working set is fixed-width aggregation state that
#   spills (60-113 GiB absorbed, zero failures), PROVIDED edge-grain
#   loop invariants checkpoint with DISK_ONLY blocks
#   (graph.py::_ckpt_edge_grain; default-storage localCheckpoint of an
#   edge-grain frame buffers per-task block arrays on heap and was the
#   round-6 OOM).
# - label_propagation_edges needed 48 g before round 7; its rewrite
#   (broadcast node-grain labels below broadcast_nodes_max=8 M +
#   packed-BIGINT argmax instead of struct max_by) completes sf10ish
#   at the default 8 g in 74 s with zero edge shuffle. Above the node
#   threshold the shuffle-join fallback engages, where per-EXECUTOR
#   heap bounds the working set on a real cluster — size executors at
#   ~4-8 GiB per 250 M edges of per-round join state, or raise
#   broadcast_nodes_max if executors can hold |V| × 16 B broadcast.
# - The single shared local[32] heap is the sandbox artifact: on a
#   real cluster every executor brings its own heap, so these numbers
#   are per-executor, not per-job.

# Micro-batch TRIGGER SIZING (operator documentation, round 8 —
# distilled from the sf10ish streaming campaign): every streaming
# kernel pays a roughly volume-independent per-batch fixed cost —
# micro-batch planning, state-store version commit, the foreachBatch
# kernels' index read/union/write and checkpoint-block release — ~1-3 s
# per trigger locally (q_stream_grammar's 3.5 s is ~all fixed cost; the
# sf10ish stream twins' 36-41 s were trigger-bound, not volume-bound).
# Amortize it by sizing triggers in RECORDS, not wall time:
# - target >= 1 M events (or >= 100 MB parquet input) per micro-batch
#   for the stateless/windowed kernels — below that the fixed cost
#   dominates and throughput scales with trigger RATE, not data;
# - the versioned-index kernels (stream line/span/near-dup) also
#   rewrite their index per batch, so batches should be large enough
#   that the delta is a meaningful fraction of the index (>= 1%) —
#   otherwise switch the index to partitioned appends + manifest (the
#   documented 100 TB posture in each kernel's module docstring);
# - concretely: maxFilesPerTrigger / maxOffsetsPerTrigger sized to
#   ~1-4 GB of input per 32 cores keeps the fixed cost under ~5% of
#   batch wall. Latency-sensitive pipelines trade the other way —
#   that's a product decision, not an engine default, so no conf here.

# Opt-in confs for LONG-RUNNING / LARGE-STATE streaming deployments.
# Not in SESSION_CONFS because the default HDFS-backed provider is
# faster for the finite local replays the tests and bench run (RocksDB
# pays JNI + compaction overhead per micro-batch); at 100 TB the
# trade inverts: RocksDB keeps state off-heap and spills to local disk,
# so executor memory bounds working set, not total state, and changelog
# checkpointing ships deltas instead of full snapshots.
STREAMING_SCALE_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def prepare_streaming_scale(spark: SparkSession) -> SparkSession:
    """Apply the large-state streaming confs (RocksDB state store +
    changelog checkpointing). Call before ``writeStream.start()`` on a
    production deployment; the provider is locked into the checkpoint
    at query start. Verified against the HDFS-backed default by
    tests/test_streaming.py::test_rocksdb_state_store_equivalence."""
    for k, v in STREAMING_SCALE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


# Sessions whose SESSION_CONFS were already applied: every driver-facing
# query calls prepare_session, and the 12 conf.set round trips cost
# ~3.8 ms/call — ~0.4 s across a 3-pass bench invocation (round 12,
# guide §7.3 driver-side work). The confs are static engine settings;
# applying them once per session is the contract. Weak so a dropped
# session releases its entry. Escape hatch: ``force=True`` re-applies
# (for a caller that deliberately mutated a SESSION_CONF and wants the
# engine defaults back).
_PREPARED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def prepare_session(
    spark: SparkSession,
    shuffle_partitions: int | None = None,
    force: bool = False,
) -> SparkSession:
    """Apply the engine's runtime SQL confs to an existing session.

    Called by every driver-facing query so the contract works even when
    the harness constructs its own SparkSession. Applied ONCE per
    session (tracked weakly): SESSION_CONFS are static, so re-applying
    them per query construction was pure py4j overhead inside the
    bench's timed region. A caller that intentionally overrides one of
    SESSION_CONFS mid-session owns that override from then on (the
    engine will not silently repair it per query; pass ``force=True``
    to re-apply the engine defaults).

    Shuffle partitions are deliberately NOT adjusted unless the caller
    asks: measured on a vanilla low-core session, the stock 200 + AQE
    coalescing beat a slots-proportional setting on shuffle-heavy
    queries (finer map-side splits, AQE shrinks the rest) — resist the
    folk fix of downsizing it on behalf of the session owner.
    """
    try:
        seen = spark in _PREPARED
        if not seen:
            _PREPARED.add(spark)
    except TypeError:  # not weak-referenceable: apply every time
        seen = False
    if force or not seen:
        for k, v in SESSION_CONFS.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                # Non-settable in this deployment; engine degrades
                # gracefully.
                pass
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def get_spark(
    app_name: str = "myasynstreamjoin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` threads with shuffle
    partitions matched to cores — the 200 default over-parallelizes
    small local runs and under-parallelizes a real cluster; both are
    corrected by AQE coalescing once the base number is sane.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in SESSION_CONFS.items():
        builder = builder.config(k, v)
    # Probe/ops escape hatch: SPARK_GRAFT_EXTRA_CONFS="k=v;k=v" lets a
    # harness inject static confs (e.g. spark.io.compression.codec=zstd
    # for shuffle-heavy graph probes) without a code edit per run.
    # Every injected conf is echoed to stderr (and malformed segments
    # warned about) so a stray environment variable can't SILENTLY
    # alter engine semantics in a correctness/driver session — the
    # override is visible in the run output (round-11 advice).
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if not pair.strip():
            continue
        if "=" in pair:
            k, v = pair.split("=", 1)
            print(
                f"# SPARK_GRAFT_EXTRA_CONFS: {k.strip()}={v.strip()}",
                file=sys.stderr,
            )
            builder = builder.config(k.strip(), v.strip())
        else:
            print(
                "# SPARK_GRAFT_EXTRA_CONFS: WARNING malformed segment "
                f"{pair!r} (expected k=v) — ignored",
                file=sys.stderr,
            )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare_session(spark, shuffle_partitions)
