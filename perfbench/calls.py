"""The workloads: each pass calls the engine's public functions on the
generated files, the way a user of the engine would.

A call unit constructs a DataFrame (each public function in its own
span), plans it, executes it to the ``noop`` sink and releases the
blocks it persisted, as bench.py does. The first pass of a run collects
the outputs instead, for the checks against the references.
"""

from __future__ import annotations

import json
import os
import traceback

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from myasynstreamjoin_spark.blocks import batch_lock, persisted_ids, release_blocks
from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig
from myasynstreamjoin_spark.functions.cluster import connected_components
from myasynstreamjoin_spark.functions.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    remove_duplicate_spans,
)
from myasynstreamjoin_spark.operators.asyn_join import min_count_per_window
from myasynstreamjoin_spark.operators.cost_model import adaptive_agg
from myasynstreamjoin_spark.operators.skew import split_skew_agg
from myasynstreamjoin_spark.operators.star_join import (
    star_cardinality,
    star_cardinality_hypercube,
)
from myasynstreamjoin_spark.sources.fixtures import keyed_values, ported_words, star_rel
from myasynstreamjoin_spark.sources.tables import load_table
from myasynstreamjoin_spark.streaming.windowed import (
    run_stream_to_table,
    stream_events,
    stream_min_count_per_window,
)
from perfbench import gen

STREAM_CFG = EngineConfig(
    n_sources=gen.STREAM_PORTS,
    lgw_ms=gen.STREAM_WINDOW_MS,
    watermark_delay=f"{gen.STREAM_DELAY_MS // 1000} seconds",
)
SKEW_AGGS = {"cnt": ("count", "*"), "total": ("sum", "value")}
MINHASH_THRESHOLD = 0.5
NGRAM_THRESHOLD = 0.5
SPAN_K = 8


class Progress(StreamingQueryListener):
    """Per-batch progress records of the stream replays, and the run id
    (the job group) of each replay."""

    def __init__(self):
        self.events: list[dict] = []
        self.run_ids: list[str] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Pass:
    """State of one pass: the tracer, whether outputs are collected, and
    the operations attempted and failed."""

    def __init__(self, spark, tr, collect: bool = False):
        self.spark = spark
        self.tr = tr
        self.outputs: dict[str, list[tuple]] | None = {} if collect else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, layer: str, fn, *args, **kw):
        """One public-function call, in a construct span of its layer."""
        with self.tr.span(fn.__name__, layer, "construct", jobs=True):
            return fn(*args, **kw)

    def unit(self, name: str, layer: str, build) -> None:
        spark, tr = self.spark, self.tr
        self.attempted += 1
        before = persisted_ids(spark)
        try:
            with tr.span(name, layer, "unit") as u:
                df = build()
                with tr.span(f"{name}.plan", layer, "plan", jobs=True):
                    df._jdf.queryExecution().executedPlan()
                with tr.span(f"{name}.exec", layer, "exec", jobs=True):
                    if self.outputs is not None:
                        self.outputs[name] = [tuple(r) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if u is not None:
                    u.attrs["alive_after"] = len(persisted_ids(spark) - before)
                with tr.span(f"{name}.release", "blocks", "release"):
                    with batch_lock(spark):
                        release_blocks(spark, before)
        except Exception:
            self.fail(name)
            with batch_lock(spark):
                release_blocks(spark, before)

    def fail(self, name: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")


class AsyncStream:
    """Replay of the 4-port backlog, one file per micro-batch, through
    the streaming min-count; then the batch operator on the admitted rows."""

    name = "async-stream"

    def __init__(self, data: str, rows: int, work: str, model: dict):
        self.data, self.rows, self.work, self.model = data, rows, work, model
        self.n_replays = 0
        self.last_stream = None
        # late-event watermark of each file's batch; rows of a file
        # whose window ends at or before it are dropped by the stream
        never = -(1 << 62)
        wms = ", ".join(f"{never if w is None else w}L" for w in model["late_wm"])
        win_ns = gen.STREAM_WINDOW_MS * 1_000_000
        self.admitted = (
            f"(ts DIV {win_ns} + 1) * {gen.STREAM_WINDOW_MS} > "
            f"element_at(array({wms}), CAST(event_id DIV {gen.EVENT_ID_STRIDE} AS INT) + 1)"
        )

    def run(self, p: Pass) -> None:
        spark, tr = p.spark, p.tr
        p.attempted += 1
        self.n_replays += 1
        before = persisted_ids(spark)
        try:
            with tr.span("stream_replay", "streaming", "unit"):
                ev = p.call("streaming", stream_events, spark, self.data)
                agg = p.call("streaming", stream_min_count_per_window, ev, STREAM_CFG)
                ckpt = os.path.join(self.work, "ckpt", str(self.n_replays))
                with tr.span("run_stream_to_table", "streaming", "exec"):
                    self.last_stream = run_stream_to_table(agg, spark, checkpoint_dir=ckpt)
                with tr.span("stream_replay.release", "blocks", "release"):
                    with batch_lock(spark):
                        release_blocks(spark, before)
        except Exception:
            p.fail("stream_replay")

        def batch():
            ev = p.call("sources", load_table, spark, self.data, "events")
            pw = ev.where(F.expr(self.admitted)).select(
                "ts",
                (F.col("user_id") % STREAM_CFG.n_sources).cast("int").alias("source"),
                F.col("event_type").alias("key"),
            )
            return p.call("operators", min_count_per_window, pw, STREAM_CFG)

        p.unit("min_count_per_window", "operators", batch)
        if p.outputs is not None and self.last_stream is not None:
            p.outputs["stream"] = [tuple(r) for r in self.last_stream.collect()]


class SkewBatch:
    """Zipf keys through the plain, heavy-hitter-salted and
    cost-model aggregations and the two star-join cardinalities."""

    name = "skew-batch"

    def __init__(self, data: str, rows: int):
        self.data, self.rows = data, rows

    def run(self, p: Pass) -> None:
        spark, d, cfg = p.spark, self.data, DEFAULT_CONFIG

        def pw():
            return p.call("sources", ported_words, spark, d, cfg)

        def kv():
            return p.call("sources", keyed_values, spark, d, cfg)

        def star():
            return p.call("sources", star_rel, spark, d, cfg)

        p.unit("min_count_per_window", "operators",
               lambda: p.call("operators", min_count_per_window, pw(), cfg))
        p.unit("split_skew_agg", "operators",
               lambda: p.call("operators", split_skew_agg, kv(), ["key"], SKEW_AGGS, cfg=cfg))
        p.unit("adaptive_agg", "operators",
               lambda: p.call("operators", adaptive_agg, kv(), ["key"], SKEW_AGGS, cfg=cfg))
        p.unit("star_cardinality", "operators",
               lambda: p.call("operators", star_cardinality, star()))
        p.unit("star_cardinality_hypercube", "operators",
               lambda: p.call("operators", star_cardinality_hypercube, star(), 3, cfg))


class DedupCorpus:
    """MinHash LSH pairs, Jaccard pairs into connected components, and
    duplicate-span removal over the planted-duplicate corpus."""

    name = "dedup-corpus"

    def __init__(self, data: str, rows: int):
        self.data, self.rows = data, rows

    def docs(self, p: Pass):
        return p.call("sources", load_table, p.spark, self.data, "documents")

    def run(self, p: Pass) -> None:
        p.unit("minhash_lsh_pairs", "functions", lambda: p.call(
            "functions", minhash_lsh_pairs, self.docs(p),
            verify_threshold=MINHASH_THRESHOLD, replayable=True))
        p.unit("connected_components", "functions", lambda: p.call(
            "functions", connected_components,
            p.call("functions", ngram_jaccard_pairs, self.docs(p), k=3,
                   threshold=NGRAM_THRESHOLD),
            "doc_a", "doc_b"))
        p.unit("remove_duplicate_spans", "functions", lambda: p.call(
            "functions", remove_duplicate_spans, self.docs(p), k=SPAN_K))

    def lsh_candidates(self, p: Pass) -> int:
        """Candidate pairs before verification, for the pair yield."""
        before = persisted_ids(p.spark)
        try:
            return minhash_lsh_pairs(self.docs(p), verify_threshold=None,
                                     replayable=True).count()
        finally:
            with batch_lock(p.spark):
                release_blocks(p.spark, before)
