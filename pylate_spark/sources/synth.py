"""Deterministic synthetic web-pages corpus + reference query set.

Mirrors the reference's test discipline of tiny, self-contained,
deterministic corpora with golden expected outputs
(``/root/reference/tests/test_retriever.py:6-80``) and the BEIR
``(documents, queries, qrels)`` triple (``pylate/evaluation/beir.py:37-87``).

Schema is fixed by BASELINE.json's input_hint:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.

Invariant: ``text`` is a pure function of (doc index, seed) — documents
are generated with a counter-based RNG (Philox keyed per doc), so the
corpus is byte-identical no matter how Spark partitions the generation
job. This carries the "byte-identical extracted text per url" contract.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pylate_spark.worker import forget_archive_importers

# --- fixed vocabulary (FIXTURES.md §1.1) ---------------------------------

HEAD_TERMS: list[str] = [
    "the", "of", "and", "to", "a", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "i",
    "at", "be", "this", "have", "from", "or", "one", "had", "by", "word",
    "but", "not", "what", "all", "were", "we", "when", "your", "can", "said",
    "there", "use", "an", "each", "which", "she", "do", "how", "their", "if",
]
N_BODY_TERMS = 5_000
N_RARE_TERMS = 200

BODY_TERMS: list[str] = [f"w{i:05d}" for i in range(N_BODY_TERMS)]
RARE_TERMS: list[str] = [f"rare{i:04d}" for i in range(N_RARE_TERMS)]

#: real non-ASCII vocabulary injected into the ``lang="de"`` rows
#: (i % 50 == 7) — a Common-Crawl-style corpus is majority non-English,
#: and these rows are what exercises the unicode token definition
#: (functions/tokenize.WORD_RANGES) end to end: build → segments →
#: query → DuckDB oracle. Scripts: Latin-with-diacritics, Greek,
#:  Cyrillic, CJK, Hangul, Arabic, Hebrew, Thai, Devanagari, Viet.
MULTI_TERMS: list[str] = [
    "straße", "grüße", "münchen", "über", "schön",
    "ελλάδα", "αθήνα", "θάλασσα",
    "москва", "привет", "россия",
    "東京", "日本語",
    "서울", "한국어",
    "القاهرة", "مرحبا",
    "שלום", "ירושלים",
    "สวัสดี", "กรุงเทพ",
    "दिल्ली", "नमस्ते",
    "tiếng", "việt",
]

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks**-s
    return p / p.sum()


_HEAD_CUM = np.cumsum(_zipf_probs(len(HEAD_TERMS), 1.1))
_BODY_CUM = np.cumsum(_zipf_probs(N_BODY_TERMS, 1.05))
_HEAD_ARR = np.asarray(HEAD_TERMS, dtype=object)
_BODY_ARR = np.asarray(BODY_TERMS, dtype=object)


def doc_url(i: int) -> str:
    """Unique url; zero-padded so lexicographic url order == doc index order."""
    return f"https://example.org/{i // 1000:04d}/{i % 1000:06d}"


def _rare_map(n_docs: int) -> dict[int, list[str]]:
    """doc index -> injected rare terms (df(rare{r}) <= 3, deterministic)."""
    m: dict[int, list[str]] = {}
    for r in range(N_RARE_TERMS):
        for rep in range(1 + (r % 3)):
            m.setdefault((r * 13 + rep * 7) % n_docs, []).append(RARE_TERMS[r])
    return m


def synth_doc_words(
    i: int, seed: int = 42, n_docs: int | None = None, rare: dict[int, list[str]] | None = None
) -> list[str]:
    """Words for doc ``i`` — pure function of (i, seed, n_docs).

    Zipf sampling is inverse-CDF (searchsorted on a precomputed cumsum)
    — equivalent distribution to ``rng.choice(p=...)`` but ~10× faster,
    which is what makes multi-million-doc corpora generable."""
    rng = np.random.Generator(np.random.Philox(key=seed, counter=i))
    # doc length ~ lognormal, clipped to [5, 400]
    dl = int(np.clip(np.exp(rng.normal(3.6, 0.8)), 5, 400))
    u = rng.random((3, dl))
    is_head = u[0] < 0.45
    head_idx = np.searchsorted(_HEAD_CUM, u[1], side="right")
    body_idx = np.searchsorted(_BODY_CUM, u[2], side="right")
    words = np.where(is_head, _HEAD_ARR[head_idx], _BODY_ARR[body_idx]).tolist()
    if n_docs:
        if rare is None:
            rare = _rare_map(n_docs)
        words.extend(rare.get(i, ()))
    return words


def synth_pages_pandas(n_docs: int, seed: int = 42, indices: np.ndarray | None = None) -> pd.DataFrame:
    """Generate pages rows locally (used by the oracle tests and by the
    per-partition Spark generator below)."""
    idx = np.arange(n_docs, dtype=np.int64) if indices is None else np.asarray(indices, dtype=np.int64)
    rare = _rare_map(n_docs)
    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i in idx.tolist():
        words = synth_doc_words(i, seed=seed, n_docs=n_docs, rare=rare)
        if i % 50 == 7:  # the lang="de" rows carry real non-ASCII terms
            words.extend(MULTI_TERMS[(i + j) % len(MULTI_TERMS)] for j in range(3))
        text = " ".join(words)
        urls.append(doc_url(i))
        tss.append(_EPOCH + timedelta(seconds=int(i)))
        htmls.append(b"<html><body>" + text.encode("utf-8") + b"</body></html>")
        texts.append(text)
        langs.append("de" if i % 50 == 7 else "en")
    return pd.DataFrame(
        {"url": urls, "warc_ts": tss, "html": htmls, "text": texts, "lang": langs}
    )


def synth_pages(spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: ``spark.range`` → ``mapInPandas``.

    Each task generates only its slice; per-doc counter-based RNG keeps
    the output independent of partitioning.
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)
    base = spark.range(0, n_docs, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_archive_importers()
        for pdf in batches:
            if len(pdf):
                yield synth_pages_pandas(n_docs, seed=seed, indices=pdf["id"].to_numpy())

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


# --- reference query set (FIXTURES.md §2) ---------------------------------

def synth_queries_pandas(n_queries: int = 100, seed: int = 42) -> pd.DataFrame:
    """Deterministic query set covering the edge cases FIXTURES.md lists:
    single rare term, single head term, mixed head+body, all-head,
    absent term, duplicated term."""
    fixed = [
        "rare0001",                 # single rare term
        "the",                      # single head term
        "the w00004 w00123",        # mixed head+body
        "the of and",               # all-head
        "zzzznotaword",             # absent from corpus
        "w00010 w00010",            # duplicated term in query
        "rare0002 w00001",          # rare + body
        "zzzznotaword w00002",      # absent + present
        "grüße münchen",            # non-ASCII Latin (unicode tokenizer)
        "привет 東京 नमस्ते",          # mixed-script non-Latin
    ]
    rng = np.random.Generator(np.random.Philox(key=seed + 1, counter=0))
    texts = list(fixed)
    while len(texts) < n_queries:
        n_terms = int(rng.integers(1, 6))
        terms = []
        for _ in range(n_terms):
            if rng.random() < 0.35:
                terms.append(HEAD_TERMS[int(rng.integers(0, len(HEAD_TERMS)))])
            else:
                terms.append(BODY_TERMS[int(rng.integers(0, 200))])
        texts.append(" ".join(terms))
    return pd.DataFrame({"query_id": np.arange(len(texts), dtype=np.int64), "text": texts})


def synth_embeddings_pandas(
    n: int = 2000, dim: int = 64, n_clusters: int = 40, noise: float = 0.30, seed: int = 123
) -> pd.DataFrame:
    """Deterministic *clustered* embeddings (vec_id, embedding) — the
    workload shape real text embeddings have (neighbors at high cosine),
    unlike the near-orthogonal testdata vectors. Used to measure the
    ANN accuracy/probe trade (LSH recall is a property of data geometry;
    it needs clustered data to be meaningful)."""
    rng = np.random.Generator(np.random.Philox(key=seed, counter=0))
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = rng.integers(0, n_clusters, n)
    v = centers[cl] + noise * rng.normal(size=(n, dim)) / np.sqrt(dim)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.astype(np.float32).tolist() for row in v],
        }
    )


def synth_embeddings(spark: SparkSession, n: int = 2000, **kw) -> DataFrame:
    pdf = synth_embeddings_pandas(n, **kw)
    return spark.createDataFrame(
        pdf,
        schema=T.StructType(
            [
                T.StructField("vec_id", T.LongType(), False),
                T.StructField("embedding", T.ArrayType(T.FloatType()), False),
            ]
        ),
    )


def synth_queries(spark: SparkSession, n_queries: int = 100, seed: int = 42) -> DataFrame:
    pdf = synth_queries_pandas(n_queries=n_queries, seed=seed)
    return spark.createDataFrame(
        pdf,
        schema=T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("text", T.StringType(), False),
            ]
        ),
    )
