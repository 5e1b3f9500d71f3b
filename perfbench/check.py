"""Correctness checks against the pure-Python oracle."""

from __future__ import annotations

import numpy as np

SCORE_TOL = 1e-6


def same_ranking(got_doc: np.ndarray, got_score: np.ndarray,
                 exp_doc: np.ndarray, exp_score: np.ndarray, k: int) -> bool:
    """Rank identity with scores within SCORE_TOL.

    `exp_*` hold the oracle's top k+1 (fewer when fewer documents match),
    so it is known whether the k limit cuts a tie.  Documents whose
    oracle scores tie (within SCORE_TOL) may come back in either order:
    the engine sums a document's per-term contributions in partition
    order, so an exact tie in the oracle can differ by an ulp in the
    engine.  Inside each tie run the two sides must hold the same
    documents.  In a run the k limit cuts, either side may keep any of
    the tied documents; the engine's must still be distinct and not
    ranked in an earlier run."""
    n = min(k, exp_doc.size)
    if got_doc.size != n:
        return False
    if n == 0:
        return True
    if np.max(np.abs(got_score - exp_score[:n])) > SCORE_TOL:
        return False
    if np.array_equal(got_doc, exp_doc[:n]):
        return True
    breaks = np.flatnonzero(np.abs(np.diff(exp_score)) > SCORE_TOL) + 1
    starts = np.concatenate(([0], breaks))
    ends = np.concatenate((breaks, [exp_doc.size]))
    for a, b in zip(starts, ends):
        if a >= n:
            break
        got = got_doc[a:min(b, n)]
        if b <= n:
            if set(got.tolist()) != set(exp_doc[a:b].tolist()):
                return False
        elif (np.unique(got).size != got.size
              or np.isin(got, exp_doc[:a]).any()):
            return False
    return True


def check_results(rows, pool_ids: dict, fixture, doc_of_docid: np.ndarray,
                  k: int) -> int:
    """Number of queries whose engine results do not match the oracle.

    `rows` is a pandas frame (qid, rank, docid, score); `pool_ids` maps
    each query's qid to its pool index; `doc_of_docid` maps engine docids
    to oracle document indexes (through store.meta docnos)."""
    bad = 0
    rows = rows.sort_values(["qid", "rank"])
    by_qid = {q: g for q, g in rows.groupby("qid", sort=False)}
    for qid, i in pool_ids.items():
        exp_doc, exp_score = fixture.expected(i, k)
        g = by_qid.get(qid)
        if g is None:
            bad += exp_doc.size > 0
            continue
        ranks = g["rank"].to_numpy()
        if not np.array_equal(ranks, np.arange(ranks.size)):
            bad += 1
            continue
        docids = g["docid"].to_numpy()
        if docids.min() < 0 or docids.max() >= doc_of_docid.size:
            bad += 1
            continue
        got_doc = doc_of_docid[docids]
        bad += not same_ranking(got_doc, g["score"].to_numpy(),
                                exp_doc, exp_score, k)
    bad += len(set(by_qid) - set(pool_ids))
    return bad


def corpus_counts(contents) -> dict:
    """num_docs, num_tokens and num_pointers of a corpus as the oracle
    indexes it."""
    from terrier_spark.config import PipelineConfig
    from terrier_spark.oracle import OracleIndex

    oracle = OracleIndex(list(contents), PipelineConfig())
    return {
        "num_docs": oracle.num_docs,
        "num_tokens": oracle.num_tokens,
        "num_pointers": sum(len(p) for p in oracle.postings.values()),
    }
