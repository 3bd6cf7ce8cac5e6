"""Tokenization — the engine's analog of the reference's subword
tokenizer (``pylate/models/colbert.py:1086-1144``).

The reference's invariant is that encoding is a pure function of the
input text (same text → same token vectors). Ours is stronger and
simpler: ``tokens(text) = regexp_extract_all(prep(text), CLASS+)``
where ``prep`` is lowercasing (plus two tiny case-fold repairs, below)
and ``CLASS`` is an explicit, version-pinned set of codepoint ranges —
deterministic and IDENTICAL in Python (`re`), Spark (pandas UDF /
`F.regexp_extract_all`, Java regex), and DuckDB (RE2), which is what
lets the DuckDB oracle reproduce the engine's results bit-for-bit.

Two token definitions exist:

- ``unicode`` (the default since round 6): an explicit union of
  codepoint ranges covering the major Common-Crawl scripts — Latin
  (incl. Extended A/B/Additional for Vietnamese), Greek, Cyrillic,
  Armenian, Hebrew, Arabic, Devanagari, Thai, Georgian, Kana, CJK,
  Hangul — plus ASCII/Arabic/Devanagari/Thai digits. The ranges are
  LITERAL characters in the class, not ``\\p{L}`` properties, because
  the three engines ship different regex libraries (CPython ``re`` has
  no ``\\p``; Java and RE2 disagree on property semantics across
  Unicode versions) while literal range matching is by-codepoint in
  all of them. Known, documented limits: scripts outside the list
  tokenize to nothing (same as any allowlist), CJK yields run-level
  tokens (no word segmentation), and Arabic harakat / Hebrew niqqud
  split tokens (web text is overwhelmingly unvocalized).
- ``ascii`` (``[a-z0-9]+``): the rounds-1-5 definition, kept for
  backward-compatible indexes (``IndexConfig.tokenizer="ascii"``; old
  manifests without the key resolve to it automatically).

Case-fold portability (the reason ``prep`` is not just ``lower``):
``lower()`` itself diverges across engines in exactly two places that
can reach a token — (1) the Greek final-sigma context rule
(Python/Java map word-final Σ→ς, DuckDB's utf8proc maps Σ→σ always),
repaired by folding ς→σ after lowercasing; (2) U+0130 İ, whose
lowercase is ``i`` + COMBINING DOT ABOVE in Python/Java but plain
``i`` in utf8proc, repaired by stripping U+0307 after lowercasing.
Both folds apply only to the unicode definition (the ascii path stays
byte-identical to rounds 1-5) and are pinned by the tri-engine
hypothesis test (``tests/test_tokenize_unicode.py``).

Unicode NORMALIZATION is deliberately NOT part of ``prep``: Spark has
no native NFC expression, and a pandas-only NFC would desynchronize
the native/pandas twins on the same build (``build.py`` computes dl
natively and tf in pandas). The contract is NFC input — true of
Common-Crawl extracted text — and :func:`nfc_normalize_udf` is the
preprocessing operator for corpora that need it (DuckDB twin:
``nfc_normalize(text)``).

The hot path is :func:`terms_long`: a single ``mapInPandas`` stage
that tokenizes, explodes, and computes per-(doc, term) tf and per-doc
dl entirely map-side with vectorized pandas — no per-row Python, no
Spark shuffle (the SPIMI "map" phase; the reference's analog is the
chunked encode pass, ``collection_indexer.py:408-449``).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pylate_spark.worker import forget_archive_importers

#: rounds-1-5 token definition (backward-compatible indexes)
ASCII_TOKEN_PATTERN = r"[a-z0-9]+"

#: version-pinned codepoint ranges of the unicode token definition.
#: Explicit literals on purpose: these never move with a Unicode-table
#: upgrade in any engine. Endpoints are all letters/digits (no regex
#: metacharacters), so they embed verbatim in a character class.
WORD_RANGES: tuple[tuple[int, int], ...] = (
    (0x0030, 0x0039),  # ASCII digits
    (0x0061, 0x007A),  # ASCII lowercase (input is lowercased first)
    (0x00C0, 0x00D6),  # Latin-1 letters ...
    (0x00D8, 0x00F6),  # ... excluding × (D7) ...
    (0x00F8, 0x00FF),  # ... and ÷ (F7)
    (0x0100, 0x024F),  # Latin Extended-A/B
    (0x0386, 0x0386),  # Greek (modern; tonos forms incl.)
    (0x0388, 0x038A),
    (0x038C, 0x038C),
    (0x038E, 0x03A1),
    (0x03A3, 0x03CE),
    (0x0400, 0x0481),  # Cyrillic letters ...
    (0x048A, 0x04FF),  # ... excluding signs/combining 0482-0489
    (0x0531, 0x0556),  # Armenian upper
    (0x0561, 0x0587),  # Armenian lower
    (0x05D0, 0x05EA),  # Hebrew letters (niqqud excluded)
    (0x0621, 0x063A),  # Arabic letters ...
    (0x0641, 0x064A),  # ... (harakat excluded)
    (0x0660, 0x0669),  # Arabic-Indic digits
    (0x06F0, 0x06F9),  # Extended Arabic-Indic digits
    (0x0900, 0x0963),  # Devanagari incl. matras
    (0x0966, 0x096F),  # Devanagari digits (danda 0964-5 excluded)
    (0x0971, 0x097F),
    (0x0E01, 0x0E3A),  # Thai
    (0x0E40, 0x0E4E),
    (0x0E50, 0x0E59),  # Thai digits
    (0x10D0, 0x10FA),  # Georgian mkhedruli (caseless)
    (0x1E00, 0x1EFF),  # Latin Extended Additional (Vietnamese)
    (0x3041, 0x3096),  # Hiragana
    (0x309D, 0x309F),
    (0x30A1, 0x30FA),  # Katakana
    (0x30FC, 0x30FF),  # (prolonged-sound mark is word-internal)
    (0x3400, 0x4DBF),  # CJK Extension A
    (0x4E00, 0x9FFF),  # CJK Unified
    (0xAC00, 0xD7A3),  # Hangul syllables
)

UNICODE_TOKEN_PATTERN = (
    "["
    + "".join(
        chr(lo) if lo == hi else f"{chr(lo)}-{chr(hi)}" for lo, hi in WORD_RANGES
    )
    + "]+"
)

#: single source of truth for the ENGINE DEFAULT token definition
TOKEN_PATTERN = UNICODE_TOKEN_PATTERN

#: IndexConfig.tokenizer mode name -> pattern
TOKENIZER_PATTERNS: dict[str, str] = {
    "ascii": ASCII_TOKEN_PATTERN,
    "unicode": UNICODE_TOKEN_PATTERN,
}

_FINAL_SIGMA = "ς"  # ς — utf8proc lowers Σ to σ, Python/Java to ς word-finally
_SIGMA = "σ"  # σ
_COMBINING_DOT = "\u0307"  # Python/Java lower İ to i+U+0307, utf8proc to i


def _needs_fold(pattern: str) -> bool:
    """The case-fold repairs apply to every non-ascii definition; the
    ascii path stays byte-identical to rounds 1-5 (no repairs, matching
    the indexes built by them)."""
    return pattern != ASCII_TOKEN_PATTERN


def tokenize_py(text: str, pattern: str = TOKEN_PATTERN) -> list[str]:
    """Pure-python tokenizer (oracle side / driver-side planning)."""
    prepped = text.lower()
    if _needs_fold(pattern):
        prepped = prepped.replace(_FINAL_SIGMA, _SIGMA).replace(_COMBINING_DOT, "")
    return re.findall(pattern, prepped)


def native_tokens_col(col, pattern: str = TOKEN_PATTERN) -> "F.Column":
    """Native (JVM, codegen) tokenizer column — must agree with
    :func:`tokenize_py`; group index 0 = whole match. The fold rides
    ``translate`` (ς→σ; U+0307 has no replacement char, so translate
    deletes it)."""
    c = F.col(col) if isinstance(col, str) else col
    prepped = F.lower(c)
    if _needs_fold(pattern):
        prepped = F.translate(prepped, _FINAL_SIGMA + _COMBINING_DOT, _SIGMA)
    return F.regexp_extract_all(prepped, F.lit(pattern), F.lit(0))


def token_sql(col_sql: str = "text", pattern: str = TOKEN_PATTERN) -> str:
    """The DuckDB twin of :func:`native_tokens_col` — the single source
    every oracle SQL string derives its tokenizer expression from."""
    prepped = f"lower({col_sql})"
    if _needs_fold(pattern):
        prepped = (
            f"replace(replace({prepped}, '{_FINAL_SIGMA}', '{_SIGMA}'),"
            f" chr({ord(_COMBINING_DOT)}), '')"
        )
    return f"regexp_extract_all({prepped}, '{pattern}')"


def _tokenize_series(texts: pd.Series, pattern: str) -> pd.Series:
    forget_archive_importers()
    prepped = texts.str.lower()
    if _needs_fold(pattern):
        prepped = prepped.str.replace(_FINAL_SIGMA, _SIGMA, regex=False).str.replace(
            _COMBINING_DOT, "", regex=False
        )
    return prepped.str.findall(pattern)


def make_tokenize_udf(pattern: str = TOKEN_PATTERN):
    """Vectorized tokenizer UDF for an explicit token definition
    (query paths pass the INDEX's persisted definition so a query is
    always tokenized the way its index was built)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _udf(texts: pd.Series) -> pd.Series:
        return _tokenize_series(texts, pattern)

    return _udf


#: default-definition instance (operators that don't carry an index
#: config — dedup, textstats, streaming — use the engine default)
tokenize_udf = make_tokenize_udf()


@F.pandas_udf(T.StringType())
def nfc_normalize_udf(texts: pd.Series) -> pd.Series:
    """NFC preprocessing operator (apply to input text BEFORE indexing
    when the corpus may contain denormalized unicode; DuckDB twin:
    ``nfc_normalize(text)``). Kept out of the tokenizers themselves —
    see the module docstring for why."""
    import unicodedata

    forget_archive_importers()
    return texts.map(
        lambda t: unicodedata.normalize("NFC", t) if isinstance(t, str) else t
    )


TERMS_LONG_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def terms_long(
    docs: DataFrame,
    id_col: str = "docid",
    text_col: str = "text",
    pattern: str = TOKEN_PATTERN,
) -> DataFrame:
    """(docid, text) → long-format ``(docid, term, tf, dl)``.

    dl = total token count of the document (incl. duplicates); tf is
    per-(doc, term). One row per distinct (doc, term). All counting
    happens inside the Arrow batch (pandas groupby, C-level), so the
    downstream ``groupBy(term)`` shuffle moves pre-aggregated rows only.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            toks = _tokenize_series(pdf[text_col], pattern)
            lens = toks.str.len().to_numpy(dtype=np.int64)
            docids = np.repeat(pdf[id_col].to_numpy(dtype=np.int64), lens)
            if len(docids) == 0:
                continue
            flat = np.concatenate([np.asarray(t, dtype=object) for t in toks])
            df = pd.DataFrame({"docid": docids, "term": flat})
            tf = df.groupby(["docid", "term"], sort=False).size().rename("tf").reset_index()
            dl_map = pd.Series(lens, index=pdf[id_col].to_numpy(dtype=np.int64))
            tf["dl"] = dl_map.reindex(tf["docid"]).to_numpy(dtype=np.int64)
            tf["tf"] = tf["tf"].astype(np.int32)
            tf["dl"] = tf["dl"].astype(np.int32)
            yield tf[["docid", "term", "tf", "dl"]]

    return docs.select(id_col, text_col).mapInPandas(gen, schema=TERMS_LONG_SCHEMA)
