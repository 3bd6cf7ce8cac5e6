"""Engine configuration.

The reference carries its build plan in ``plan.json`` (``config`` +
corpus estimates; ``collection_indexer.py:81-121,231-244``) and its
search knobs on the index/searcher objects (``plaid.py:126-132``,
``searcher.py:60-83``).  We keep the same split: :class:`BM25Params`
is the scoring contract (the analog of the ColBERT scoring config),
:class:`IndexConfig` is the physical build plan.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class BM25Params:
    """BM25 scoring parameters (BASELINE.json: k1=1.2, b=0.75).

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   [Lucene-style, >= 0]
    tfn(tf, dl) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q, d) = sum_{t in q} idf(t) * tfn(tf_{t,d}, dl_d)
    """

    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class IndexConfig:
    """Physical build plan.

    - ``shard_size``: docids per shard. Sharding by contiguous docid
      range (shard = docid // shard_size) is the salting mechanism for
      head-term skew: no single task ever holds more than one shard's
      slice of a stopword posting list, and salted runs concatenate in
      shard order into globally docid-sorted postings (a SPIMI merge
      with trivial fan-in). The reference's analog is its per-chunk
      index build (``collection_indexer.py:408-449``).
    - ``block_size``: postings per block; per-block (first/max docid,
      max tf, min dl) metadata drives block-max pruning — the analog of
      the reference's centroid-score upper bounds
      (``index_storage.py:140-165``).
    - ``term_buckets``: hash-bucket count for the term dimension of the
      segment layout; query-term scans prune to matching buckets
      (the analog of probing only ``ncells`` IVF cells,
      ``candidate_generation.py:22-39``).
    - ``tokenizer``: the token definition the index is built AND
      queried with — ``"unicode"`` (default; explicit multi-script
      codepoint ranges, ``functions/tokenize.WORD_RANGES``) or
      ``"ascii"`` (``[a-z0-9]+``, the rounds-1-5 definition). Persisted
      in the manifest; query paths always tokenize with the INDEX's
      definition, and manifests from before the key existed resolve to
      ``"ascii"`` so old indexes keep their exact semantics.
    """

    shard_size: int = 1 << 20
    block_size: int = 128
    term_buckets: int = 64
    bm25: BM25Params = field(default_factory=BM25Params)
    tokenizer: str = "unicode"

    @property
    def token_pattern(self) -> str:
        """Resolved regex of this config's token definition."""
        from pylate_spark.functions.tokenize import TOKENIZER_PATTERNS

        return TOKENIZER_PATTERNS[self.tokenizer]

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "IndexConfig":
        bm = d.get("bm25", {})
        return IndexConfig(
            shard_size=int(d["shard_size"]),
            block_size=int(d["block_size"]),
            term_buckets=int(d["term_buckets"]),
            bm25=BM25Params(k1=float(bm.get("k1", 1.2)), b=float(bm.get("b", 0.75))),
            # manifests from before the key existed were built ascii
            tokenizer=str(d.get("tokenizer", "ascii")),
        )


#: Head-term list used by text-analysis operators (language id /
#: quality scoring). Deliberately tiny and deterministic.
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "the", "of", "and", "to", "a", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "i",
    "at", "be", "this", "have", "from", "or", "one", "had", "by", "word",
    "but", "not", "what", "all", "were", "we", "when", "your", "can", "said",
    "there", "use", "an", "each", "which", "she", "do", "how", "their", "if",
)
