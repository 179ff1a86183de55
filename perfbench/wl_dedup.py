"""Workload ``dedup``: the production near-dup operators.

One operation is a pass of the three xx-family operators from
``operators.dedup`` over a seeded corpus with injected exact and near
copies: ``minhash_signatures`` -> ``lsh_candidate_pairs``, ``simhash64`` ->
``simhash_near_dup_pairs`` and ``winnow_fingerprints``.  This is the only
workload that runs the dedup self-joins.  Every injected exact pair must be
found by both MinHash and simhash, and its two documents must have the same
winnowing fingerprints.

The first pass in a fresh session, the one a ``spark-submit dedup`` job
pays, warms the session up and is checked but not timed end to end: as one
sample per run it spread 0.19-0.28 (quartile distance over median, ten
seeds) on a shared host.  The timed passes follow it, at least
``MIN_PASSES`` and until ``--seconds`` have passed, and ``op_p50_s`` and
``items_per_s`` come from their median.  A traced run reports the cold pass per layer,
adds warm passes plain and inside spans in turn, then times each operator
on materialized inputs and reads the minhash chain's plan metrics.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

import corpus as corpus_mod
from harness import Outcome, median
from sparkstats import plan_rows, spark_totals

N_DOCS = 8_000  # see README "Corpus size": the joins' data work shows in op_p50_s
NUM_HASHES, BANDS, MAX_HAMMING = 16, 4, 3
MIN_PASSES = 3  # timed warm passes a run makes at least (about 7 s each)


def prepare_inputs(seed: int, work: str):
    path = os.path.join(work, "texts.parquet")
    corpus = corpus_mod.generate(seed, N_DOCS)
    corpus_mod.write_texts(corpus, path)
    return path, corpus


def minhash_pairs(docs) -> set:
    from docs_indexer_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(docs, num_hashes=NUM_HASHES, hash="xx")
    return lsh_pairs(sigs)


def lsh_pairs(sigs) -> set:
    from docs_indexer_spark.operators.dedup import lsh_candidate_pairs

    pairs = lsh_candidate_pairs(sigs, bands=BANDS, num_hashes=NUM_HASHES)
    return {(r[0], r[1]) for r in pairs.collect()}


def simhash_pairs(sims) -> dict:
    from docs_indexer_spark.operators.dedup import simhash_near_dup_pairs

    pairs = simhash_near_dup_pairs(sims, max_hamming=MAX_HAMMING)
    return {(r[0], r[1]): r[2] for r in pairs.collect()}


def winnow(docs) -> dict:
    """doc_id -> (fingerprint count, xor of fingerprints)."""
    from pyspark.sql import functions as F

    from docs_indexer_spark.operators.dedup import winnow_fingerprints

    agg = winnow_fingerprints(docs).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(fp)").alias("x")
    )
    return {r[0]: (r[1], r[2]) for r in agg.collect()}


def one_pass(docs, tracer=None) -> tuple[dict, tuple]:
    """Time the three operators; returns (seconds per operator, answers).
    With a tracer, each operator runs inside its own span."""
    from docs_indexer_spark.operators.dedup import simhash64

    span = tracer.span if tracer is not None else (lambda name: nullcontext())
    t0 = time.perf_counter()
    with span("dedup.minhash_pairs"):
        lsh = minhash_pairs(docs)
    t1 = time.perf_counter()
    with span("dedup.simhash_pairs"):
        sim = simhash_pairs(simhash64(docs, hash="xx"))
    t2 = time.perf_counter()
    with span("dedup.winnow"):
        fps = winnow(docs)
    t3 = time.perf_counter()
    return {"minhash": t1 - t0, "simhash": t2 - t1, "winnow": t3 - t2}, (lsh, sim, fps)


def check(out: Outcome, corpus, answers) -> None:
    lsh, sim, fps = answers
    missing_lsh = [p for p in corpus.exact_pairs if p not in lsh]
    missing_sim = [p for p in corpus.exact_pairs if sim.get(p) != 0]
    winnow_diff = [p for p in corpus.exact_pairs if fps.get(p[0]) != fps.get(p[1])]
    out.check(not missing_lsh, f"minhash-LSH missed exact pairs {missing_lsh[:5]}")
    out.check(not missing_sim, f"simhash missed exact pairs {missing_sim[:5]}")
    out.check(not winnow_diff, f"winnow differs on exact pairs {winnow_diff[:5]}")


def _layers(ctx, path: str, corpus) -> dict:
    """Each operator on its own, its input materialized first, then the
    production minhash chain on the parquet input for its scan count."""
    from docs_indexer_spark.operators.dedup import minhash_signatures, simhash64

    spark, tr = ctx.spark, ctx.tracer
    docs = spark.read.parquet(path).localCheckpoint()
    with tr.span("dedup.minhash_sig", trace_id="layers"):
        sigs = minhash_signatures(docs, num_hashes=NUM_HASHES, hash="xx").localCheckpoint()
    with tr.span("dedup.lsh_pairs", trace_id="layers"):
        lsh = lsh_pairs(sigs)
    with tr.span("dedup.simhash_sig", trace_id="layers"):
        sims = simhash64(docs, hash="xx").localCheckpoint()
    with tr.span("dedup.simhash_join", trace_id="layers"):
        sim = simhash_pairs(sims)
    with tr.span("dedup.minhash_chain", trace_id="chain") as chain:
        minhash_pairs(spark.read.parquet(path))
    rows = plan_rows(spark, chain.group)
    injected = set(corpus.exact_pairs) | set(corpus.near_pairs)
    return {
        "dedup.minhash_sig_s": tr.total("dedup.minhash_sig"),
        "dedup.lsh_pairs_s": tr.total("dedup.lsh_pairs"),
        "dedup.simhash_sig_s": tr.total("dedup.simhash_sig"),
        "dedup.simhash_join_s": tr.total("dedup.simhash_join"),
        # rows out of the scan and out of the banding explode, per corpus
        # row: how often the chain reads its input and evaluates the banded
        # signatures the LSH self-join puts on both of its sides
        "dedup.input_scans": rows.get("Scan parquet", 0) / N_DOCS,
        "dedup.band_evals": rows.get("Generate", 0) / (BANDS * N_DOCS),
        "dedup.lsh_candidates": len(lsh),
        "dedup.simhash_pairs": len(sim),
        "dedup.lsh_precision": len(injected & lsh) / max(1, len(lsh)),
    }


def run(ctx, inputs) -> Outcome:
    path, corpus = inputs
    out = Outcome()
    docs = ctx.spark.read.parquet(path)
    cold, answers = one_pass(docs)
    check(out, corpus, answers)
    passes = []
    deadline = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        times, answers = one_pass(docs)
        check(out, corpus, answers)
        passes.append(sum(times.values()))
    print(
        "perfbench: dedup cold pass " + " ".join(f"{k}={v:.3f}" for k, v in cold.items())
        + f"; timed passes {[round(p, 3) for p in passes]}",
        file=sys.stderr,
    )
    op_s = median(passes)
    out.metrics.update({
        "setup_s": ctx.session_s,
        "op_p50_s": op_s,
        "items_per_s": N_DOCS / op_s,
    })
    tr = ctx.tracer
    if tr is None:
        return out
    out.metrics["dedup.cold_pass_s"] = sum(cold.values())
    # warm passes, plain and inside spans, in pairs whose order alternates
    # (a later pass is warmer): the tracer's cost is the difference of the
    # two medians over the same work
    plain, spanned = [], []
    deadline = time.perf_counter() + ctx.seconds
    while len(spanned) < 2 or time.perf_counter() < deadline:
        for traced in (len(spanned) % 2 == 1, len(spanned) % 2 == 0):
            if traced:
                t0 = time.perf_counter()
                with tr.span("dedup.pass", trace_id=f"pass{len(spanned)}"):
                    _, answers = one_pass(docs, tr)
                spanned.append(time.perf_counter() - t0)
            else:
                times, answers = one_pass(docs)
                plain.append(times)
            check(out, corpus, answers)
    out.metrics["dedup.minhash_pairs_s"] = median([p["minhash"] for p in plain])
    out.metrics["dedup.simhash_pairs_s"] = median([p["simhash"] for p in plain])
    out.metrics["dedup.winnow_s"] = median([p["winnow"] for p in plain])
    out.metrics["trace.overhead_s"] = median(spanned) - median(
        [sum(p.values()) for p in plain]
    )
    passes = [sp for sp in tr.spans if sp.trace_id.startswith("pass")]
    out.metrics.update(spark_totals(passes, len(spanned)))
    out.metrics.update(_layers(ctx, path, corpus))
    return out
