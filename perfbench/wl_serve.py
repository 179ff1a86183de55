"""Workload ``serve``: one client, closed loop, over a warm ``IndexReader``.

Set-up publishes an index with ``build_index`` (see build_path.py) and opens
the reader; ``setup_s`` is session start plus build, publish and reader
open.  The timed loop then sends a seeded mix, one query at a time:

- ``bm25``: BM25 OR over one head, one mid and one rare term;
- ``bm25_filtered``: head and mid terms with a selective ``lang = ...``
  filter on the doc store;
- ``phrase``: 2-3 consecutive words sampled from a document;
- ``fuzzy``: a 1-edit (transposed) misspelling of a mid-frequency word.

The kinds alternate, one of each per round; the equal shares are an
assumption, not taken from a query log.  The two phrase plans alternate by
round.  The loop stops only after a whole cycle of two rounds, so every run
holds the same mix; at ``--seconds 6`` that is one cycle of 8 queries, which
takes longer than 6 s unless the queries get 1.7x faster.  The first round
is the warm-up and no end-to-end metric; its first query, the first after
the reader opens, is the per-layer ``serve.first_query_s``.

Under tracing every query also runs once more inside a span, for the
tracer's own cost, and is rebuilt from the public pieces ``search`` is made
of, a span around each; the rebuilt answer must equal ``reader.search(...)``.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

import numpy as np

import corpus as corpus_mod
from build_path import (
    build,
    build_layer_metrics,
    check_stats,
    trace_layers,
)
from checks import PhraseOracle, indexed_docs, oracle_index, same_ranking
from harness import Outcome, median
from sparkstats import GroupStats, spark_totals

N_DOCS = 3000  # see README "Corpus size": the build's data work shows in setup_s
K = 10
ROUNDS = 6  # distinct queries per kind; the loop cycles through them
KINDS = ("bm25", "bm25_filtered", "phrase", "fuzzy")
CYCLE = 2 * len(KINDS)  # two rounds, one per phrase plan
MAX_DRIVER_FILTER_DOCS = 500_000  # IndexReader.search's default


@dataclass
class Query:
    kind: str
    text: str
    where: str | None = None
    expected: object = None


def prepare_inputs(seed: int, work: str):
    raw = os.path.join(work, "raw.parquet")
    corpus = corpus_mod.generate(seed, N_DOCS)
    corpus_mod.write_raw_pages(corpus, raw, seed)
    return raw, corpus


def _osa1(a: str, b: str) -> bool:
    from docs_indexer_spark.functions.fuzzy import osa_distance

    return osa_distance(a, b, cap=1) <= 1


def _transpose(rng, word: str) -> str | None:
    spots = [i for i in range(1, len(word) - 2) if word[i] != word[i + 1]]
    if not spots:
        return None
    i = spots[int(rng.integers(0, len(spots)))]
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


def _phrase(rng, corpus, oracle, stop, rare_lead: bool) -> str:
    """2-3 consecutive words of a document, starting and ending on a
    non-stopword, whose terms do (or do not) meet ``phrase_match_blocks``'s
    rarest-lead condition ``df_rare * block_size <= df_max``."""
    from docs_indexer_spark.config import BLOCK_SIZE
    from docs_indexer_spark.functions.analysis import analyze_text

    while True:
        body = corpus.bodies[int(rng.integers(0, len(corpus.bodies)))]
        n = int(rng.integers(2, 4))
        s = int(rng.integers(0, len(body) - n))
        words = body[s:s + n]
        if words[0] in stop or words[-1] in stop:
            continue
        text = " ".join(words)
        dfs = [len(oracle.postings[t]) for t in set(analyze_text(text, "english"))]
        if len(dfs) > 1 and (min(dfs) * BLOCK_SIZE <= max(dfs)) == rare_lead:
            return text


def make_queries(seed: int, corpus, rows: list[dict], oracle, phrases) -> list[Query]:
    """ROUNDS × KINDS queries with their expected answers, all computed
    before anything is timed."""
    from docs_indexer_spark.functions.analysis import analyze_text

    rng = np.random.default_rng(seed + 7)
    stop = set(corpus_mod.STOPWORDS)
    df = Counter(w for b in corpus.bodies for w in set(b) if w not in stop)
    ranked = [w for w, _ in df.most_common()]
    head, mid = ranked[:50], ranked[50:500]
    long_mid = [w for w in mid if len(w) >= 7]  # misspellings of one shape
    rare = [w for w in ranked if df[w] <= 3]

    def pick(pool):
        return pool[int(rng.integers(0, len(pool)))]

    lang_of = {int(r["doc_id"]): r["lang"] for r in rows}
    full_rank = {}

    def ranking(text):
        if text not in full_rank:
            full_rank[text] = oracle.topk(text, k=oracle.n_docs)
        return full_rank[text]

    vocab = list(oracle.postings)
    queries: list[Query] = []
    for r in range(ROUNDS):
        text = f"{pick(head)} {pick(mid)} {pick(rare)}"
        queries.append(Query("bm25", text, expected=oracle.topk(text, K)))

        lang = corpus_mod.LANGS[int(rng.integers(1, len(corpus_mod.LANGS)))]
        text = f"{pick(head)} {pick(mid)}"
        want = [h for h in ranking(text) if lang_of[h[0]] == lang][:K]
        queries.append(Query("bm25_filtered", text, f"lang = '{lang}'", want))

        # alternate the two phrase plans: a head word with a rare one takes
        # the rarest-lead block pruning, two common words do not
        text = _phrase(rng, corpus, oracle, stop, rare_lead=r % 2 == 1)
        queries.append(Query("phrase", text, expected=phrases.topk(text, K)))

        while True:
            word = _transpose(rng, pick(long_mid))
            terms = analyze_text(word or "", "english")
            if len(terms) != 1:
                continue
            # an OSA distance is at least the length difference
            t = terms[0]
            near = {v for v in vocab if abs(len(v) - len(t)) <= 1 and _osa1(v, t)}
            if near:
                break
        queries.append(Query("fuzzy", word, expected=near))
    return queries


def execute(reader, q: Query) -> list[tuple]:
    """The production call for one query, collected."""
    if q.kind in ("bm25", "bm25_filtered"):
        df = reader.search(q.text, k=K, where=q.where)
    elif q.kind == "phrase":
        df = reader.search_phrase(q.text, k=K)
    else:
        df = reader.search_fuzzy(q.text, k=K, fuzziness=1)
    return [tuple(r) for r in df.collect()]


def is_correct(q: Query, got: list[tuple], oracle) -> bool:
    if q.kind in ("bm25", "bm25_filtered"):
        return same_ranking([(int(d), float(s)) for d, s in got], q.expected)
    if q.kind == "phrase":
        return [tuple(int(x) for x in g) for g in got] == q.expected
    # fuzzy: hits exist, and each hit holds a term within one edit
    return bool(got) and all(
        any(int(d) in oracle.postings[t] for t in q.expected) for d, _ in got
    )


def _timed(out: Outcome, reader, q: Query, oracle):
    """Run, time and check one query; returns (seconds, rows), or
    (None, None) when it raised, which counts as a failure."""
    t0 = time.perf_counter()
    try:
        got = execute(reader, q)
    except Exception:  # noqa: BLE001 - one failed query must not end the run
        traceback.print_exc(file=sys.stderr)
        out.check(False, f"{q.kind} {q.text!r} raised")
        return None, None
    dt = time.perf_counter() - t0
    out.check(is_correct(q, got, oracle), f"{q.kind} {q.text!r} where={q.where}: {got}")
    return dt, got


# ---------------------------------------------------------------- tracing


def _spanned(tr, reader, q: Query, qid: str) -> float:
    """Seconds of the production call inside one span: the same work as
    the plain call plus the tracer's job group and status-store reads."""
    t0 = time.perf_counter()
    with tr.span("serve.search", trace_id=qid):
        execute(reader, q)
    return time.perf_counter() - t0


def _idf(rows, n: int) -> tuple[dict, dict]:
    idf = {
        int(r["term_id"]): math.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5))
        for r in rows
    }
    return idf, {int(r["term_id"]): int(r["df"]) for r in rows}


class Recomposer:
    """``IndexReader.search*`` rebuilt from the package's public pieces,
    one span per layer call."""

    def __init__(self, reader, tracer):
        from pyspark.sql import functions as F

        self.reader, self.tr, self.F = reader, tracer, F
        self.spark = reader.spark
        self.bsz = int(reader.meta["metrics"].get("block_size") or 128)
        # what IndexReader caches once per generation
        self.bounds = [
            (int(r["bucket"]), int(r["lo"]), int(r["hi"]))
            for r in reader.blocks.groupBy("bucket").agg(
                F.min("first_doc_id").alias("lo"), F.max("last_doc_id").alias("hi")
            ).collect()
        ]
        self.n_files = len(reader.blocks.inputFiles())
        self.kept: list[float] = []

    def _blocks(self, ids):
        from docs_indexer_spark.sources.catalog import SnapshotCatalog

        with self.tr.span("catalog.read_pruned"):
            try:
                blocks = SnapshotCatalog.read_pruned_at(
                    self.spark, self.reader.gen_path, "blocks.parquet", "term_id",
                    [int(t) for t in ids],
                )
            except (FileNotFoundError, ValueError):
                blocks = self.reader.blocks
            self.kept.append(len(blocks.inputFiles()) / self.n_files)
        return blocks

    def bm25(self, q: Query):
        from docs_indexer_spark.functions.analysis import analyze_text
        from docs_indexer_spark.operators import wand

        F, r = self.F, self.reader
        with self.tr.span("query.idf"):
            terms = sorted(set(analyze_text(q.text, r.analyzer)))
            rows = r.df_stats.filter(F.col("term").isin(terms)).collect()
            idf, dfs = _idf(rows, r.n_docs)
        ids = sorted(idf)
        blocks = self._blocks(ids)
        allowed, est, bounds = None, None, None
        if q.where is not None:
            with self.tr.span("bm25.filter"):
                sel = r.docs_store().filter(F.expr(q.where)).select("doc_id")
                pdf = sel.limit(MAX_DRIVER_FILTER_DOCS + 1).toPandas()
                allowed = np.sort(pdf["doc_id"].to_numpy(dtype=np.int64))
        else:
            bounds = self.bounds
            est = sum(-(-d // self.bsz) + len(bounds) for d in dfs.values())
        with self.tr.span("wand"):
            return wand.wand_topk(
                blocks, idf, ids, k=K, allowed=allowed, split="auto",
                est_n_blocks=est, bounds_rows=bounds,
            ).collect()

    def phrase(self, q: Query):
        from docs_indexer_spark.functions.analysis import analyze_with_positions
        from docs_indexer_spark.functions.xxh import spark_xxhash64_str
        from docs_indexer_spark.operators.phrase import phrase_match_blocks

        F, r = self.F, self.reader
        with self.tr.span("query.idf"):
            tp = analyze_with_positions(q.text, r.analyzer)
            ids = [spark_xxhash64_str(t) for t, _ in tp]
            term_dfs = {
                int(x["term_id"]): int(x["df"])
                for x in r.df_stats.filter(F.col("term_id").isin(ids)).collect()
            }
        blocks = self._blocks(ids)
        with self.tr.span("phrase"):
            return phrase_match_blocks(
                blocks, ids, offsets=[p for _, p in tp], term_dfs=term_dfs,
                block_size=self.bsz,
            ).orderBy(F.desc("n_occurrences"), F.asc("doc_id")).limit(K).collect()

    def fuzzy(self, q: Query):
        from docs_indexer_spark.functions.analysis import analyze_text
        from docs_indexer_spark.operators import bm25
        from docs_indexer_spark.operators.suggest import _deletion_variants
        from docs_indexer_spark.sources.catalog import SnapshotCatalog

        F, r = self.F, self.reader
        terms = sorted(set(analyze_text(q.text, r.analyzer)))
        with self.tr.span("suggest.candidates"):
            dels = SnapshotCatalog.read_at(self.spark, r.gen_path, "deletions.parquet")
            variants = sorted({v for t in terms for v in _deletion_variants(t, 1)})
            cands = dels.filter(F.col("variant").isin(variants)).select("term").distinct()
            rows = r.df_stats.join(F.broadcast(cands), "term").collect()
        idf = {}
        for t in terms:
            verified = sorted(
                (x for x in rows if _osa1(x["term"], t)),
                key=lambda x: (-x["df"], x["term"]),
            )
            idf.update(_idf(verified[:50], r.n_docs)[0])
        ids = sorted(idf)
        blocks = self._blocks(ids)
        with self.tr.span("bm25.exact"):
            return bm25.score_from_blocks(blocks, idf, ids, k=K).collect()

    def run(self, q: Query, qid: str) -> list[tuple]:
        with self.tr.span("query", trace_id=qid):
            rows = getattr(self, "bm25" if q.kind == "bm25_filtered" else q.kind)(q)
        return [tuple(x) for x in rows]


def _traced_metrics(tr, rec: Recomposer, kinds_of: dict) -> dict:
    def mean_of(name, key=None):
        spans = tr.by_name(name)
        if not spans:
            return 0.0
        vals = [
            (sp.end - sp.start) if key is None else sp.stats.totals[key]
            for sp in spans
        ]
        return sum(vals) / len(vals)

    m = {
        "query.idf_s": mean_of("query.idf"),
        "catalog.read_pruned_s": mean_of("catalog.read_pruned"),
        "catalog.files_kept_frac": sum(rec.kept) / max(1, len(rec.kept)),
        "wand.s": mean_of("wand"),
        "wand.tasks": mean_of("wand", "tasks"),
        "wand.blocks_read": mean_of("wand", "input_records"),
        "bm25.filter_s": mean_of("bm25.filter"),
        "bm25.exact_s": mean_of("bm25.exact"),
        "phrase.s": mean_of("phrase"),
        "phrase.blocks_read": mean_of("phrase", "input_records"),
        "suggest.candidates_s": mean_of("suggest.candidates"),
    }
    driver, per_kind = [], {k: [] for k in KINDS}
    query_spans = tr.by_name("query")
    for sp in query_spans:
        acc = GroupStats()
        for s in tr.subtree(sp):
            acc.add(s.stats)
        driver.append((sp.end - sp.start) - acc.job_s)
        per_kind[kinds_of[sp.trace_id]].append(acc)
    m["query.driver_s"] = sum(driver) / max(1, len(driver))
    for kind, accs in per_kind.items():
        n = max(1, len(accs))
        m[f"query.jobs.{kind}"] = sum(a.jobs for a in accs) / n
        m[f"query.stages.{kind}"] = sum(a.stages for a in accs) / n
        m[f"query.tasks.{kind}"] = sum(a.totals["tasks"] for a in accs) / n
    spans = [s for sp in query_spans for s in tr.subtree(sp)]
    m.update(spark_totals(spans, max(1, len(query_spans))))
    return m


def run(ctx, inputs) -> Outcome:
    from docs_indexer_spark.plans.query import IndexReader

    raw, corpus = inputs
    spark, tr = ctx.spark, ctx.tracer
    out = Outcome()

    t0 = time.perf_counter()
    build_metrics, catalog = build(
        spark, raw, os.path.join(ctx.work, "wh"), f"serve-{ctx.seed}", tr
    )
    t1 = time.perf_counter()
    reader = IndexReader(spark, catalog)
    t2 = time.perf_counter()
    setup_s = ctx.session_s + t2 - t0

    rows = indexed_docs(spark, raw)
    oracle = oracle_index(rows)
    check_stats(out, build_metrics, oracle)
    queries = make_queries(ctx.seed, corpus, rows, oracle, PhraseOracle(rows, oracle))
    print(
        f"perfbench: session {ctx.session_s:.2f}s build {t1 - t0:.2f}s "
        f"open {t2 - t1:.2f}s oracle {time.perf_counter() - t2:.2f}s",
        file=sys.stderr,
    )

    # the first round warms every query kind up
    first_s, _ = _timed(out, reader, queries[0], oracle)
    for q in queries[1:len(KINDS)]:
        _timed(out, reader, q, oracle)

    rec = Recomposer(reader, tr) if tr is not None else None
    lat: dict[str, list[float]] = {k: [] for k in KINDS}
    kinds_of, overhead = {}, []
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i % CYCLE or time.perf_counter() < deadline:
        q = queries[(len(KINDS) + i) % len(queries)]
        qid = f"q{i}"
        # under tracing the same call also runs inside a span, before the
        # plain call on odd queries and after it on even ones
        spanned = _spanned(tr, reader, q, qid) if rec is not None and i % 2 else None
        dt, got = _timed(out, reader, q, oracle)
        if dt is not None:
            lat[q.kind].append(dt)
        if rec is not None:
            if spanned is None:
                spanned = _spanned(tr, reader, q, qid)
            if dt is not None:
                overhead.append(spanned - dt)
            kinds_of[qid] = q.kind
            again = rec.run(q, qid)
            out.check(
                again == got,
                f"recomposed {q.kind} {q.text!r} differs from reader.search",
            )
        i += 1
    print(
        "perfbench: serve latencies "
        + " ".join(f"{k}={[round(x, 3) for x in v]}" for k, v in lat.items()),
        file=sys.stderr,
    )

    all_lat = [x for v in lat.values() for x in v]
    out.metrics.update({
        "setup_s": setup_s,
        "op_p50_s": median(all_lat),
        "items_per_s": len(all_lat) / sum(all_lat) if all_lat else 0.0,
    })
    if tr is not None:
        out.metrics.update({f"serve.{k}_p50_s": median(v) for k, v in lat.items()})
        out.metrics["serve.first_query_s"] = first_s or 0.0
        out.metrics.update(_traced_metrics(tr, rec, kinds_of))
        out.metrics["trace.overhead_s"] = median(overhead)
        out.metrics.update(build_layer_metrics(tr, build_metrics, catalog, oracle.n_docs))
        out.metrics.update(trace_layers(ctx, raw))
    reader.close()
    return out
