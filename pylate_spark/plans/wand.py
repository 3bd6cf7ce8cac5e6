"""Per-shard BM25 scoring kernels: exhaustive and block-max cascade.

The cascade is the engine's analog of the reference's staged pruning
(``/root/reference/pylate/indexes/stanford_nlp/search/index_storage.py:129-244``:
centroid upper-bound threshold → shrinking top-``ndocs`` →
exact rescoring of survivors). We implement the WAND-family
**block-max MaxScore** strategy rather than document-at-a-time WAND:
DAAT pivoting is a per-document Python loop (forbidden hot path);
MaxScore needs only a loop over *query terms*, with every per-posting
operation vectorized, and takes true score upper bounds from the
per-block metadata (``max_tf``/``min_dl``, reduced to one bound per
term and shard) to stop admitting documents that cannot reach the top
k. It saves scoring work, not decoding: since postings format 2 a
``(shard, term)`` run always decodes whole.

Soundness argument (exactness — required for rank-identity):
- Terms are processed in descending upper-bound order. After the OR
  phase prefix S, any document not yet in the accumulator can score at
  most ``suffix_ub = Σ_{t∉S} UB_t``. We switch to AND mode only when
  ``suffix_ub < θ`` where θ = k-th largest *partial* (hence ≤ final)
  accumulator score — so no unseen document can enter the top k.
- In AND mode, remaining terms are scored only at accumulator docids:
  each remaining term's run is decoded whole and only its postings at
  those docids are scored. Every accumulator doc still receives its
  exact full score, so the final top-k and scores are exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pylate_spark.config import BM25Params
from pylate_spark.functions.bm25 import tfn_np
from pylate_spark.functions.codec import decode_postings
from pylate_spark.plans.segments import blocks_from_row
from pylate_spark.worker import forget_archive_importers

RESULT_COLUMNS = ["query_id", "docid", "score"]


def choose_mode(n_terms: int, k: int) -> str:
    """Per-query strategy selection — the analog of the reference's
    k-banded parameter presets (``stanford_nlp/searcher.py:60-83``,
    which widens ncells/ndocs as k grows and falls back to exact
    scoring for large k).

    - 1 query term: pruning is impossible (suffix bound is 0 after the
      only term), so skip the cascade bookkeeping entirely.
    - large k (>=256): θ (the k-th best partial score) stays low for
      most of the term list, the OR→AND switch fires late or never, and
      the cascade degenerates to exhaustive plus overhead.
    - otherwise: block-max MaxScore cascade.
    """
    if n_terms <= 1 or k >= 256:
        return "exhaustive"
    return "cascade"


def _topk(docids: np.ndarray, scores32: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k by (score desc, docid asc) — deterministic tie-break."""
    if docids.size == 0:
        return docids, scores32
    if docids.size > k:
        # k-th largest score value, then keep everything >= it so that
        # boundary ties survive for the deterministic docid tie-break
        th = np.partition(scores32, docids.size - k)[docids.size - k]
        mask = scores32 >= th
        docids, scores32 = docids[mask], scores32[mask]
    order = np.lexsort((docids, -scores32))[:k]
    return docids[order], scores32[order]


def _in_sorted(values: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership mask of ``values`` in a SORTED array — O(V·log S)
    binary search instead of ``np.isin``'s O((V+S)·log(V+S)) sort."""
    pos = np.searchsorted(sorted_arr, values)
    mask = np.zeros(values.size, dtype=bool)
    inb = pos < sorted_arr.size
    mask[inb] = sorted_arr[pos[inb]] == values[inb]
    return mask


class ShardTerms:
    """Decoded-on-demand view of one shard's matched segment rows."""

    def __init__(
        self,
        pdf: pd.DataFrame,
        tombstones: np.ndarray | None,
        allowed: np.ndarray | None,
        batch_queries: int = 1,
        base: int = 0,
    ):
        #: first docid of this shard — offsets into the dense score
        #: buffer are ``docid - base`` (always < shard_size by the
        #: doc-range sharding construction)
        self.base = base
        # column-array extraction, not iterrows: building a pandas
        # Series per row was ~30% of single-shard kernel time
        cols = ("term", "payload", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off")
        arrs = {c: pdf[c].to_numpy(object) for c in cols}
        terms_arr = arrs["term"]
        self.rows = {
            terms_arr[i]: {c: arrs[c][i] for c in cols} for i in range(len(pdf))
        }
        self.blocks = {t: blocks_from_row(r) for t, r in self.rows.items()}
        self._full: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._contrib: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._ub: dict[str, float] = {}
        self.tombstones = tombstones
        self.allowed = allowed
        # with many queries in the batch, a term will almost surely be
        # probed again — score it fully once and share, instead of
        # paying repeated partial scoring (see contrib_at)
        self.batch_amortized = batch_queries > 8

    def terms(self):
        return self.rows.keys()

    def _mask(self, docids, tfs, dls):
        if self.tombstones is not None and self.tombstones.size:
            keep = ~_in_sorted(docids, self.tombstones)
            docids, tfs, dls = docids[keep], tfs[keep], dls[keep]
        if self.allowed is not None:
            keep = _in_sorted(docids, self.allowed)
            docids, tfs, dls = docids[keep], tfs[keep], dls[keep]
        return docids, tfs, dls

    def full(self, term: str):
        """Decode (and cache) a term's full postings for this shard."""
        if term not in self._full:
            r = self.rows[term]
            out = decode_postings(r["payload"], self.blocks[term])
            self._full[term] = self._mask(*out)
        return self._full[term]

    def contrib(self, term: str, idf: float, avgdl: float, params) -> tuple[np.ndarray, np.ndarray]:
        """(docids, idf·tfn contributions), cached — shared across all
        queries in the batch (a head term's scores are computed once
        per shard, not once per query)."""
        if term not in self._contrib:
            docids, tfs, dls = self.full(term)
            self._contrib[term] = (
                docids,
                # int32 offsets: < shard_size by construction; halves
                # the gather-index traffic in the dense accumulator
                (docids - self.base).astype(np.int32),
                idf * tfn_np(tfs.astype(np.float64), dls.astype(np.float64), avgdl, params),
            )
        d, _, c = self._contrib[term]
        return d, c

    def contrib_off(self, term: str, idf: float, avgdl: float, params) -> tuple[np.ndarray, np.ndarray]:
        """(shard-local offsets, contributions) — the dense-buffer view
        of :meth:`contrib` (offsets cached alongside)."""
        if term not in self._contrib:
            self.contrib(term, idf, avgdl, params)
        _, off, c = self._contrib[term]
        return off, c

    def contrib_at(self, term: str, cand: np.ndarray, idf_t: float, avgdl: float, params):
        """(docids, contributions) restricted to candidate docids.

        Batch amortization: the first probe of a term scores only its
        postings in ``cand`` (a run decodes whole, so the decode is
        cached by :meth:`full`); a term probed a *second* time in the
        same batch — or one already fully scored for another query's OR
        phase — reuses the full cached contributions (no decode, no
        tfn). With many queries per scatter, repeated partial scoring
        of the same head term would otherwise dominate the AND phase
        (measured: ~2× kernel time without this)."""
        if self.batch_amortized or term in self._contrib or term in self._full:
            d_full, c_full = self.contrib(term, idf_t, avgdl, params)
            keep = _in_sorted(d_full, cand)
            return d_full[keep], c_full[keep]
        docids, tfs, dls = self.full(term)
        keep = _in_sorted(docids, cand)
        tfs, dls = tfs[keep].astype(np.float64), dls[keep].astype(np.float64)
        return docids[keep], idf_t * tfn_np(tfs, dls, avgdl, params)

    def shard_ub_inputs(self, term: str) -> tuple[int, int]:
        """(max_tf, min_dl) over this shard's blocks — upper-bound inputs."""
        b = self.blocks[term]
        return int(b.max_tf.max()), int(b.min_dl.min())

    def upper_bound(self, term: str, idf_t: float, avgdl: float, params) -> float:
        """Shard-local true score upper bound for a term — cached, it is
        query-independent (idf is global, block stats are per shard)."""
        ub = self._ub.get(term)
        if ub is None:
            max_tf, min_dl = self.shard_ub_inputs(term)
            ub = idf_t * float(tfn_np(float(max_tf), float(min_dl), avgdl, params))
            self._ub[term] = ub
        return ub


def score_shard(
    pdf: pd.DataFrame,
    queries: dict[int, list[str]],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    params: BM25Params,
    mode: str = "auto",
    tombstones: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    round_to: int | None = None,
    shard_size: int | None = None,
) -> pd.DataFrame:
    """Score all queries against one shard's matched segment rows.

    ``tombstones`` and ``allowed`` MUST be SORTED ascending int64
    arrays — filtering uses binary search (:func:`_in_sorted`), and an
    unsorted array silently filters wrong. The library callers
    (``plans/query.InvertedIndex.search``/``doc_vectors``) sort before
    passing; direct callers must do the same.

    Returns per-shard top-k rows (query_id, docid, score). The score is
    float32 by default; with ``round_to`` set it is float64 rounded to
    that many decimals *before* top-k selection, so boundary ties
    resolve exactly as an engine ranking by the rounded value (the
    cross-engine determinism contract of the DuckDB oracles).

    ``mode="auto"`` picks cascade/exhaustive per query via
    :func:`choose_mode` (the reference's per-k parameter bands).

    ``shard_size`` enables the dense accumulator: doc-range sharding
    guarantees every docid in this group lies in
    ``[shard·shard_size, (shard+1)·shard_size)``, so scores accumulate
    into one reusable float64 buffer of ``shard_size`` slots (fits in
    cache for typical shard sizes) — no per-query sort/unique over
    posting runs, which dominated kernel time and memory bandwidth.
    """
    forget_archive_importers()
    if len(pdf) == 0:
        return _empty_result(np.float64 if round_to is not None else np.float32)
    if shard_size is None:
        # direct-call fallback (tests/microbenches): derive the docid
        # range from the block metadata instead of the index config
        lo = min(int(np.asarray(r).min()) for r in pdf["b_first"] if len(r))
        hi = max(int(np.asarray(r).max()) for r in pdf["b_last"] if len(r))
        base, shard_size = lo, hi - lo + 1
    else:
        base = int(pdf["shard"].iloc[0]) * shard_size
    st = ShardTerms(pdf, tombstones, allowed, batch_queries=len(queries), base=base)
    have = set(st.terms())
    buf = np.zeros(shard_size, dtype=np.float64)
    seen = np.zeros(shard_size, dtype=bool)
    store = np.empty(shard_size, dtype=np.int32)  # touched-offset log
    # rounded-rank safety margin: when ranking by round(score, r), a doc
    # may only be pruned if its score upper bound is a full rounding
    # grid step below θ — otherwise its rounded score could tie the
    # rounded k-th and win the docid tie-break (2× grid for float fuzz)
    eps = 2 * 10.0 ** (-round_to) if round_to is not None else 0.0
    out_q, out_d, out_s = [], [], []
    for qid, qterms in queries.items():
        terms = [t for t in qterms if t in have]
        if not terms:
            continue
        qmode = choose_mode(len(terms), k) if mode == "auto" else mode
        if qmode == "exhaustive":
            docids, scores = _score_exhaustive(st, terms, idf, avgdl, params, buf, seen, store)
        else:
            docids, scores = _score_cascade(
                st, terms, idf, avgdl, k, params, buf, seen, store, eps
            )
        # round_to: select top-k on the rounded float64 value (matching
        # an engine that ranks by the rounded score); default: select on
        # float32 (the emitted dtype), so boundary ties match the emit
        if round_to is not None:
            scores = np.round(scores.astype(np.float64), round_to)
        else:
            scores = scores.astype(np.float32)
        d, s = _topk(docids, scores, k)
        out_q.append(np.full(d.size, qid, dtype=np.int64))
        out_d.append(d)
        out_s.append(s)
    dt = np.float64 if round_to is not None else np.float32
    if not out_q:
        return _empty_result(dt)
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "docid": np.concatenate(out_d),
            "score": np.concatenate(out_s).astype(dt),
        }
    )


def _empty_result(score_dtype=np.float32) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": pd.Series(dtype=np.int64),
            "docid": pd.Series(dtype=np.int64),
            "score": pd.Series(dtype=score_dtype),
        }
    )


def _accumulate(st: ShardTerms, term, idf, avgdl, params, buf, seen, store, n: int) -> int:
    """Add one term's contributions into the dense buffer; append newly
    seen offsets to the candidate store (offsets are unique per term, so
    plain fancy-index += is exact — no np.add.at needed). Returns the
    new candidate count (the store is append-only per query: O(new)
    amortized, no re-concatenation)."""
    off, contrib = st.contrib_off(term, idf[term], avgdl, params)
    if off.size == 0:
        return n
    buf[off] += contrib
    new = off[~seen[off]]
    if new.size:
        seen[new] = True
        store[n:n + new.size] = new
        n += new.size
    return n


def _harvest(buf, seen, store, n: int, cand):
    """Copy candidate scores out and reset the buffer slots this query
    touched (all of ``store[:n]``, including candidates pruned by the
    cascade)."""
    scores = buf[cand].copy()
    allt = store[:n]
    buf[allt] = 0.0
    seen[allt] = False
    return scores


def _score_exhaustive(st: ShardTerms, terms, idf, avgdl, params, buf, seen, store):
    """No-pruning scorer over the dense shard accumulator — the
    in-engine correctness oracle. Cost: one gather-scatter per posting
    plus a candidate harvest; no sorts, no unique (the sort-based
    accumulator was the kernel's memory-bandwidth hot spot)."""
    n = 0
    for t in terms:
        n = _accumulate(st, t, idf, avgdl, params, buf, seen, store, n)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    cand = store[:n]
    docids = cand.astype(np.int64) + st.base  # copy BEFORE the reset
    scores = _harvest(buf, seen, store, n, cand)
    return docids, scores  # float64; caller picks the emit dtype


def _score_cascade(st: ShardTerms, terms, idf, avgdl, k, params, buf, seen, store, eps=0.0):
    """Block-max MaxScore over the dense shard accumulator (see module
    docstring for the soundness argument). Falls back to exhaustive
    behavior when the accumulator never reaches k docs (then the OR
    phase simply runs to the end). ``eps`` slackens every θ comparison
    so pruning stays exact when the caller ranks by ROUNDED scores (a
    doc whose upper bound is within one rounding grid step of θ could
    round-tie the k-th and win the docid tie-break — it must survive)."""
    # shard-local true upper bounds per term (cached across the batch)
    ubs = [st.upper_bound(t, idf[t], avgdl, params) for t in terms]
    order = np.argsort(-np.asarray(ubs), kind="stable")
    terms = [terms[i] for i in order]
    ubs = [ubs[i] for i in order]
    suffix = np.concatenate([np.cumsum(np.asarray(ubs, dtype=np.float64)[::-1])[::-1], [0.0]])

    n_cand = 0
    i = 0
    for i, t in enumerate(terms):
        # switch to AND mode when unseen docs can no longer enter top-k
        if n_cand >= k:
            theta = np.partition(buf[store[:n_cand]], n_cand - k)[n_cand - k]
            if suffix[i] < theta - eps:
                break
        n_cand = _accumulate(st, t, idf, avgdl, params, buf, seen, store, n_cand)
    else:
        i = len(terms)  # OR phase consumed everything

    if n_cand == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    cand = store[:n_cand]

    # AND phase: remaining terms scored only at surviving candidates
    # (each run still decodes whole: postings format 2)
    for j in range(i, len(terms)):
        t = terms[j]
        if cand.size == 0:
            break
        # prune candidates that can no longer reach (or round-tie) the top-k
        if cand.size > k:
            sc = buf[cand]
            theta = np.partition(sc, cand.size - k)[cand.size - k]
            cand = cand[sc + suffix[j] >= theta - eps]
        # int64 before adding the base: cand is int32 (buffer offsets)
        # and base can exceed int32 at 10^12-doc docid ranges
        docids, contrib = st.contrib_at(
            t, np.sort(cand).astype(np.int64) + st.base, idf[t], avgdl, params
        )
        if docids.size:
            buf[docids - st.base] += contrib
    docids = cand.astype(np.int64) + st.base  # copy BEFORE the reset
    scores = _harvest(buf, seen, store, n_cand, cand)
    return docids, scores  # float64; caller picks the emit dtype
