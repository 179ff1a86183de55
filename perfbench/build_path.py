"""The published build path, as the ``serve`` workload's set-up runs it.

``build_index`` over seeded raw pages into a fresh warehouse is the
``spark-submit build --extract-html --positions`` path: the doc id is
xxhash64(url), extraction runs in the build, positions are stored.  Under
tracing, the same layers also run one by one on materialized inputs
(:func:`trace_layers`), so each is timed on its own work.
"""

from __future__ import annotations

import math
import os
from contextlib import nullcontext

from harness import Outcome

BUILD_ARGS = {"use_extraction": True, "positions": True, "n_build_partitions": 1}


def timed_catalog(root: str, tracer):
    """The program's catalog; under tracing, ``publish`` gets its own span."""
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    if tracer is None:
        return SnapshotCatalog(root)

    class TracedCatalog(SnapshotCatalog):
        def publish(self, *args, **kwargs):
            with tracer.span("catalog.publish"):
                return super().publish(*args, **kwargs)

    return TracedCatalog(root)


def build(spark, raw: str, root: str, fingerprint: str, tracer=None):
    """One ``build_index``; returns (its metrics, the catalog)."""
    from docs_indexer_spark.plans.build_index import build_index

    catalog = timed_catalog(root, tracer)
    span = tracer.span("build_index", trace_id=fingerprint) if tracer else nullcontext()
    with span:
        m = build_index(spark, spark.read.parquet(raw), catalog, fingerprint, **BUILD_ARGS)
    return m, catalog


def generation_files(catalog) -> tuple[int, int]:
    """(bytes, files) of the published generation."""
    nbytes = nfiles = 0
    for dirpath, _, files in os.walk(catalog.generation_path("index")):
        for f in files:
            nbytes += os.path.getsize(os.path.join(dirpath, f))
            nfiles += 1
    return nbytes, nfiles


def build_layer_metrics(tracer, m: dict, catalog, n_docs: int) -> dict:
    nbytes, nfiles = generation_files(catalog)
    return {
        "build_index.stage1_s": m["stage1_sec"],
        "build_index.stage2_s": m["stage2_sec"],
        "catalog.bytes_written": nbytes,
        "catalog.files_written": nfiles,
        "catalog.bytes_per_doc": nbytes / max(1, n_docs),
        "catalog.publish_s": tracer.total("catalog.publish"),
    }


def check_stats(out: Outcome, m: dict, oracle) -> None:
    out.check(
        int(m["n_docs"]) == oracle.n_docs
        and math.isclose(m["avgdl"], oracle.avgdl, rel_tol=1e-9),
        f"build n_docs/avgdl {m['n_docs']}/{m['avgdl']} vs oracle "
        f"{oracle.n_docs}/{oracle.avgdl}",
    )


def trace_layers(ctx, raw: str) -> dict:
    """Each build layer on its own, its input materialized first."""
    from pyspark.sql import functions as F

    from docs_indexer_spark.operators import spimi
    from docs_indexer_spark.operators.fused import fused_build_blocks
    from docs_indexer_spark.operators.postings import corpus_stats, token_relations
    from docs_indexer_spark.plans.build_index import (
        prepare_documents,
        with_extracted_text,
    )

    spark, tr = ctx.spark, ctx.tracer
    noop = {"format": "noop", "mode": "overwrite"}
    prepared = prepare_documents(
        spark.read.parquet(raw), use_extraction=True
    ).localCheckpoint()
    n = prepared.count()
    with tr.span("extraction", trace_id="layers"):
        with_extracted_text(prepared).write.save(**noop)
    extracted = with_extracted_text(prepared).select("doc_id", "text").localCheckpoint()

    staged = os.path.join(ctx.work, "layer_postings")
    with tr.span("postings", trace_id="layers"):
        rel = token_relations(
            extracted, "text", cache=False, term_ids=True, positions=True
        )
        rel.postings.write.mode("overwrite").parquet(staged)
    postings = spark.read.parquet(staged)
    doclens = postings.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("dl")
    ).localCheckpoint()
    dfs = postings.groupBy("term_id").agg(F.count(F.lit(1)).alias("df")).localCheckpoint()
    n_docs, avgdl = corpus_stats(doclens)
    ids = doclens.agg(F.max("doc_id").alias("mx"), F.min("doc_id").alias("mn")).first()
    blocks_path = os.path.join(ctx.work, "layer_blocks")
    with tr.span("spimi", trace_id="layers"):
        blocks = spimi.build_blocks(
            postings, doclens, dfs, n_docs, avgdl, int(ids["mx"]), int(ids["mn"]),
            positions=True,
        )
        spimi.write_blocks(blocks, blocks_path)
    n_blocks = spark.read.parquet(blocks_path).count()

    with tr.span("fused.dict", trace_id="layers"):
        fb = fused_build_blocks(extracted, positions=True)
    with tr.span("fused.encode", trace_id="layers"):
        fb.blocks.write.save(**noop)
    fb.unpersist()

    ext_s = tr.total("extraction")
    post = tr.by_name("postings")[0].stats.totals
    spimi_stats = tr.by_name("spimi")[0].stats.totals
    return {
        "extraction.s": ext_s,
        "extraction.docs_per_s": n / ext_s,
        "postings.s": tr.total("postings"),
        "postings.shuffle_write_bytes": post["shuffle_write_bytes"],
        "spimi.s": tr.total("spimi"),
        "spimi.spill_bytes": spimi_stats["spill_bytes"],
        "spimi.blocks": n_blocks,
        "fused.dict_s": tr.total("fused.dict"),
        "fused.encode_s": tr.total("fused.encode"),
    }
