"""Seeded input generator owned by the benchmark.

The inputs live here, not in the package, so a change to the program cannot
move them.  Documents are drawn from topic vocabularies instead of one global
Zipf distribution: with a single distribution every pair of documents looks
alike to simhash at hamming 3 and the near-dup self-joins degenerate to
all-pairs, while topics give the dedup operators the clustered shape real
web text has.  A seeded share of documents are exact copies (new url, same
body) and near copies (a few words replaced), so the dedup checks know which
pairs must be found.

Everything is a pure function of the seed; the program only ever sees the
tables written by :func:`write_raw_pages` and :func:`write_texts`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne", "pa", "ro",
    "su", "ta", "ve", "wo", "xi", "yo", "zu", "bra", "cle", "dri", "flo",
    "gra", "ple", "sta", "tri", "vra", "sno", "qua", "mek", "tor", "lin",
]
STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "for", "on", "with"]
# The shape below is assumed, not measured from a real crawl.  500 topics
# and 5% exact copies are the sizes at which MinHash-LSH returned exactly
# the injected pairs and simhash a bounded pair set at 5k docs; the other
# values are plausible guesses for web text.
N_TOPICS = 500
TOPIC_WORDS = 40  # distinct words per topic vocabulary
BACKGROUND_WORDS = 20_000  # shared vocabulary every topic also draws from
TOPIC_ZIPF, BACKGROUND_ZIPF = 1.3, 1.1  # rank-frequency exponents
STOPWORD_SHARE, TOPIC_SHARE = 0.20, 0.55  # the rest is background
EXACT_FRAC, NEAR_FRAC = 0.05, 0.02  # injected exact and near copies
MIN_LEN, MAX_LEN = 60, 300  # words per document
# lang shares (assumed): "en" dominates; the rare values are the selective
# filters of the serve workload
LANGS = ["en", "de", "fr", "es", "pt", "nl"]
LANG_P = [0.80, 0.06, 0.05, 0.04, 0.03, 0.02]
_BASE_TS = np.datetime64("2026-01-01T00:00:00")


@dataclass
class Corpus:
    """Generated documents plus the ground truth the checks need."""

    urls: list[str]
    bodies: list[list[str]]  # token lists before rendering
    langs: list[str]
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)

    def text(self, i: int) -> str:
        return " ".join(self.bodies[i])


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    out = []
    while len(out) < size:
        n = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[int(j)] for j in rng.integers(0, len(SYLLABLES), n))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def generate(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents; ``EXACT_FRAC`` of them copy an earlier
    original verbatim and ``NEAR_FRAC`` copy one with ~3% of words
    replaced.  No document is empty, so no operator sees a degenerate row."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, BACKGROUND_WORDS + N_TOPICS * TOPIC_WORDS // 2)
    background = vocab[:BACKGROUND_WORDS]
    pool = vocab[BACKGROUND_WORDS:]
    topics = [
        [pool[int(j)] for j in rng.choice(len(pool), TOPIC_WORDS, replace=False)]
        for _ in range(N_TOPICS)
    ]
    n_exact = int(n_docs * EXACT_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_orig = n_docs - n_exact - n_near
    bodies: list[list[str]] = []
    for _ in range(n_orig):
        topic = topics[int(rng.integers(0, N_TOPICS))]
        n = int(rng.integers(MIN_LEN, MAX_LEN))
        kind = rng.random(n)
        t_rank = np.minimum(rng.zipf(TOPIC_ZIPF, n), TOPIC_WORDS) - 1
        b_rank = np.minimum(rng.zipf(BACKGROUND_ZIPF, n), BACKGROUND_WORDS) - 1
        s_idx = rng.integers(0, len(STOPWORDS), n)
        bodies.append([
            STOPWORDS[s_idx[i]] if kind[i] < STOPWORD_SHARE
            else topic[t_rank[i]] if kind[i] < STOPWORD_SHARE + TOPIC_SHARE
            else background[b_rank[i]]
            for i in range(n)
        ])
    exact_pairs, near_pairs = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        exact_pairs.append((src, len(bodies)))
        bodies.append(list(bodies[src]))
    for _ in range(n_near):
        src = int(rng.integers(0, n_orig))
        body = list(bodies[src])
        for j in rng.choice(len(body), max(1, len(body) // 33), replace=False):
            body[int(j)] = background[int(rng.integers(0, BACKGROUND_WORDS))]
        near_pairs.append((src, len(bodies)))
        bodies.append(body)
    langs = [LANGS[int(j)] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    urls = [f"https://site{i % 53}.example/docs/p{i}/" for i in range(n_docs)]
    return Corpus(urls, bodies, langs, exact_pairs, near_pairs)


def render_html(rng: np.random.Generator, words: list[str]) -> str:
    """A raw page: paragraphs plus the markup extraction must drop."""
    paras, cut = [], 0
    while cut < len(words):
        step = int(rng.integers(8, 40))
        paras.append(f"<p>{' '.join(words[cut:cut + step])}</p>")
        cut += step
    extras = []
    if rng.random() < 0.3:
        extras.append("<script>var a = 1;</script>")
    if rng.random() < 0.3:
        extras.append("<style>p{margin:0}</style>")
    if rng.random() < 0.3:
        extras.append("<!-- generated page -->")
    return (
        "<!DOCTYPE html>\n<html><head><title>"
        + " ".join(words[:3])
        + "</title></head>\n<body>\n"
        + "\n".join(paras + extras)
        + "\n</body></html>"
    )


def write_raw_pages(corpus: Corpus, path: str, seed: int) -> None:
    """The input_hint table the build reads: url, warc_ts, html, lang."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 1)
    n = len(corpus.urls)
    html = [render_html(rng, b).encode("utf-8") for b in corpus.bodies]
    ts = _BASE_TS + np.arange(n) * np.timedelta64(137, "s")
    table = pa.table({
        "url": corpus.urls,
        "warc_ts": pa.array(ts.astype("datetime64[us]")),
        "html": pa.array(html, pa.binary()),
        "lang": corpus.langs,
    })
    pq.write_table(table, path, row_group_size=max(1, n // 4))


def write_texts(corpus: Corpus, path: str) -> None:
    """The dedup input: doc_id (the document's index), text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(corpus.bodies)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": [corpus.text(i) for i in range(n)],
    })
    pq.write_table(table, path, row_group_size=max(1, n // 4))
