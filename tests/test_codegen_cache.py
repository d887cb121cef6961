"""Codegen reuse across calls: a second identical run of the dedup
family compiles (almost) nothing, because the session's generated-class
cache (session.CODEGEN_CACHE_ENTRIES) holds the family's whole working
set. With Spark's default of 100 entries the second run recompiled 46
of this fixture's 99 classes: a cyclic working set about the size of
an LRU cache evicts classes before their next use.

Whole-stage class names carry the stage id by default, and AQE numbers
stages in an order that varies from run to run, so a few identical
stages miss the cache on some runs whatever its size (0-12 of 117 over
five warm runs of this fixture). The test names classes without the id
while it runs, so that it measures the cache alone."""

from __future__ import annotations

import random

from myasynstreamjoin_spark.blocks import batch_lock, persisted_ids, release_blocks
from myasynstreamjoin_spark.functions.cluster import connected_components
from myasynstreamjoin_spark.functions.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    remove_duplicate_spans,
)
from myasynstreamjoin_spark.plans.explain import codegen_compiles
from myasynstreamjoin_spark.sources.tables import load_table


def _corpus(n_docs: int = 120, seed: int = 5) -> list[tuple[int, str]]:
    """Documents over a small vocabulary; a quarter are edited copies of
    earlier ones (near-duplicate clusters) and a quarter carry a span
    from a small pool (repeated spans)."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    spans = [rng.choices(vocab, k=12) for _ in range(6)]
    docs: list[list[str]] = []
    for _ in range(n_docs):
        if docs and rng.random() < 0.25:
            toks = list(rng.choice(docs))
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
        else:
            toks = rng.choices(vocab, k=rng.randint(30, 60))
            if rng.random() < 0.25:
                at = rng.randrange(len(toks))
                toks[at:at] = rng.choice(spans)
        docs.append(toks)
    return [(i, " ".join(t)) for i, t in enumerate(docs)]


def test_dedup_family_compiles_once_per_session(spark, tmp_path):
    spark.createDataFrame(_corpus(), "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def run() -> int:
        docs = load_table(spark, str(tmp_path), "documents")
        before = persisted_ids(spark)
        c0 = codegen_compiles(spark)
        try:
            outs = [
                minhash_lsh_pairs(docs, verify_threshold=0.5, replayable=True),
                connected_components(
                    ngram_jaccard_pairs(docs, k=3, threshold=0.5),
                    "doc_a", "doc_b",
                ),
                remove_duplicate_spans(docs, k=8),
            ]
            sizes = [df.count() for df in outs]
        finally:
            with batch_lock(spark):
                release_blocks(spark, before)
        assert all(sizes), sizes  # every stage ran on real rows
        return codegen_compiles(spark) - c0

    id_conf = "spark.sql.codegen.useIdInClassName"
    saved = spark.conf.get(id_conf)
    spark.conf.set(id_conf, "false")
    try:
        first = run()
        second = run()
    finally:
        spark.conf.set(id_conf, saved)
    assert second <= first // 10, (first, second)
