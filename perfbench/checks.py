"""Oracles the benchmark checks answers against.

The oracle side sees exactly what the build indexed: ``(doc_id, text)`` is
derived through the package's own ``prepare_documents`` and
``with_extracted_text``, then fed to the pure-Python ``OracleIndex``.  All of
this runs outside every timed interval.
"""

from __future__ import annotations

import math
from collections import defaultdict


def indexed_docs(spark, raw_path: str) -> list[dict]:
    """(doc_id, url, lang, text) rows exactly as the build sees them."""
    from docs_indexer_spark.plans.build_index import (
        prepare_documents,
        with_extracted_text,
    )

    docs = with_extracted_text(
        prepare_documents(spark.read.parquet(raw_path), use_extraction=True)
    )
    return [
        r.asDict() for r in docs.select("doc_id", "url", "lang", "text").collect()
    ]


def oracle_index(rows: list[dict]):
    from docs_indexer_spark.oracle.engine import OracleIndex

    oracle = OracleIndex("english")
    for r in rows:
        oracle.add(int(r["doc_id"]), r["text"] or "")
    return oracle


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """docIDs identical and in order, scores within 1e-6 relative."""
    return len(got) == len(want) and all(
        g[0] == w[0] and math.isclose(g[1], w[1], rel_tol=1e-6, abs_tol=1e-12)
        for g, w in zip(got, want)
    )


class PhraseOracle:
    """Exact-phrase answers from the analyzed positional stream: a doc
    matches at anchor ``s`` when every phrase term ``t_i`` sits at
    ``s + offset_i`` (stopwords keep their position increments).

    Only documents the BM25 oracle's postings list under every phrase term
    are analyzed for positions, once each, when a phrase first needs them."""

    def __init__(self, rows: list[dict], oracle):
        self.texts = {int(r["doc_id"]): r["text"] or "" for r in rows}
        self.postings = oracle.postings
        self.pos: dict[int, dict[str, set[int]]] = {}

    def _positions(self, doc_id: int) -> dict[str, set[int]]:
        from docs_indexer_spark.functions.analysis import analyze_with_positions

        if doc_id not in self.pos:
            d: dict[str, set[int]] = defaultdict(set)
            for term, p in analyze_with_positions(self.texts[doc_id], "english"):
                d[term].add(p)
            self.pos[doc_id] = d
        return self.pos[doc_id]

    def topk(self, query: str, k: int) -> list[tuple[int, int, int]]:
        """[(doc_id, n_occurrences, first_pos)] by (occurrences desc,
        doc_id asc)."""
        from docs_indexer_spark.functions.analysis import analyze_with_positions

        tp = analyze_with_positions(query, "english")
        if not tp:
            return []
        docs = set.intersection(*(set(self.postings.get(t, ())) for t, _ in tp))
        hits = []
        for doc_id in docs:
            d = self._positions(doc_id)
            anchors = None
            for term, off in tp:
                s = {p - off for p in d.get(term, ())}
                anchors = s if anchors is None else anchors & s
                if not anchors:
                    break
            if anchors:
                hits.append((doc_id, len(anchors), min(anchors) + tp[0][1]))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits[:k]
