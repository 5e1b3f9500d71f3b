"""Pure-Python retrieval oracle (FIXTURES.md §5, SURVEY.md §5c).

Computes exact BM25 top-k with the reference formula over an in-memory
corpus, sharing ONLY the text pipeline with the engine (tokenize/stop/
stem are pinned by their own goldens) — the index build, compression and
scoring paths are fully independent, so engine-vs-oracle equality is a
real end-to-end check of docid assignment, posting construction, VByte
round-trip, statistics and scoring.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Dict, List, Sequence, Tuple

from terrier_spark.config import PipelineConfig, QueryConfig
from terrier_spark.text.pipeline import make_pipeline

# Terrier's BM25 parameters (matching/models/BM25.java:43-74), the
# defaults of the engine's models.bm25 kernel
_K1, _K3, _B = 1.2, 8.0, 0.75


def _bm25(tf: int, dl: int, avgdl: float, qtf: float, idf: float) -> float:
    """score = tf*(k3+1)*qtf / ((k3+qtf)*K) * idf with
    K = k1*((1-b) + b*dl/avgdl) + tf: no (k1+1) factor, log2 idf."""
    K = _K1 * ((1 - _B) + _B * dl / avgdl) + tf
    return (tf * (_K3 + 1.0) * qtf / ((_K3 + qtf) * K)) * idf


class OracleFieldIndex:
    """Field-aware oracle: per-doc per-field token streams; BM25F scoring
    per the reference (PerFieldNormWeightingModel + BM + NormalisationB).
    `docs` = list of per-field text tuples in field order."""

    def __init__(self, docs: Sequence[Tuple[str, ...]],
                 pipeline: PipelineConfig):
        pipe = make_pipeline(pipeline)
        self.nf = len(docs[0]) if docs else 0
        self.field_lens: List[List[int]] = []
        # term -> {docid: [tf per field]}
        self.postings: Dict[str, Dict[int, List[int]]] = {}
        for docid, fields in enumerate(docs):
            streams = [pipe.terms(t or "") for t in fields]
            self.field_lens.append([len(s) for s in streams])
            for fi, s in enumerate(streams):
                for term in s:
                    row = self.postings.setdefault(term, {}).setdefault(
                        docid, [0] * self.nf
                    )
                    row[fi] += 1
        self.num_docs = len(docs)
        totals = [0] * self.nf
        for fl in self.field_lens:
            for i, v in enumerate(fl):
                totals[i] += v
        self.avg_field_lens = [
            t / self.num_docs if self.num_docs else 0.0 for t in totals
        ]
        self.pipeline = pipeline

    def search_bm25f(self, query: str, k: int = 1000, weights=None, cs=None,
                     k1=1.2, k3=8.0) -> List[Tuple[int, float]]:
        pipe = make_pipeline(self.pipeline)
        qcounts = Counter(pipe.query_terms(query))
        w = weights or [1.0] * self.nf
        c = cs or [1.0] * self.nf
        acc: Dict[int, float] = {}
        for term, qtf in qcounts.items():
            plist = self.postings.get(term)
            if not plist:
                continue
            nt = len(plist)
            idf = math.log2((self.num_docs - nt + 0.5) / (nt + 0.5))
            qk = (k3 + 1.0) * qtf / (k3 + qtf)
            for docid, ftf in plist.items():
                tfn = 0.0
                for i in range(self.nf):
                    if ftf[i]:
                        norm = 1.0 - c[i] + c[i] * (
                            self.field_lens[docid][i] / self.avg_field_lens[i]
                        )
                        tfn += w[i] * ftf[i] / norm
                if tfn == 0.0:
                    continue
                s = qk * ((k1 + 1.0) * tfn / (k1 + tfn)) * idf
                acc[docid] = acc.get(docid, 0.0) + s
        return sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def search_field_model(self, query: str, model: str, k: int = 1000,
                           weights=None, cs=None) -> List[Tuple[int, float]]:
        """Literal per-posting ports of the reference field models —
        PL2F (PerFieldNormWeightingModel.java:117-132 with PL x
        Normalisation2), ML2 (ML2.java:137-163), MDL2 (MDL2.java:132-166,
        including its `if (tff[fi] > 0) continue;` loop condition) — used
        to verify the engine's vectorized kernels independently."""
        import numpy as _np

        pipe = make_pipeline(self.pipeline)
        qcounts = Counter(pipe.query_terms(query))
        w = list(weights or [1.0] * self.nf)
        c = list(cs or [1.0] * self.nf)
        av = self.avg_field_lens
        N = self.num_docs
        ln2 = math.log(2.0)
        log2 = math.log2
        acc: Dict[int, float] = {}

        def norm2(tf, fl, fi):
            if fl == 0:
                return float(tf)
            return tf * log2(1.0 + c[fi] * av[fi] / fl)

        for term, qtf in qcounts.items():
            plist = self.postings.get(term)
            if not plist:
                continue
            nt = len(plist)
            F = float(sum(sum(v) for v in plist.values()))
            for docid, ftf in plist.items():
                flens = self.field_lens[docid]
                if model == "PL2F":
                    tfn = sum(
                        w[fi] * norm2(ftf[fi], flens[fi], fi)
                        for fi in range(self.nf) if ftf[fi]
                    )
                    if tfn == 0.0:
                        continue
                    f = F / N
                    s = (1.0 / (tfn + 1.0)) * qtf * (
                        tfn * log2(1.0 / f)
                        + f / ln2
                        + 0.5 * log2(2 * math.pi * tfn)
                        + tfn * (log2(tfn) - 1.0 / ln2)
                    )
                elif model == "ML2":
                    p_i = 1.0 / (self.nf * N)
                    score = -math.lgamma(F + 1.0) / ln2
                    q, tf_q, denom = 1.0, F, 0.0
                    for fi in range(self.nf):
                        if ftf[fi] == 0:
                            continue
                        tfn_i = norm2(ftf[fi], flens[fi], fi)
                        score += (
                            math.lgamma(tfn_i + 1.0) - tfn_i * math.log(p_i)
                        ) / ln2
                        denom += tfn_i
                        tf_q -= tfn_i
                        q -= p_i
                    lg = (
                        math.lgamma(tf_q + 1.0)
                        if tf_q + 1.0 > 0 else float("nan")
                    )
                    score += (lg - tf_q * _np.log(q)) / ln2
                    s = qtf * score / (denom + 1.0)
                elif model == "MDL2":
                    fwt = float(sum(1 for v in ftf if v > 0))
                    q, tf_q, denom = 1.0, F, 0.0
                    score = (fwt / 2.0) * math.log(
                        2.0 * math.pi * F
                    ) / ln2
                    for fi in range(self.nf):
                        if ftf[fi] > 0:  # literal reference condition
                            continue
                        p_ = 1.0 / N * fwt * w[fi]
                        tfn_i = norm2(ftf[fi], flens[fi], fi)
                        tf_q -= tfn_i
                        denom += tfn_i
                        q -= p_
                        with _np.errstate(divide="ignore", invalid="ignore"):
                            tmp = tfn_i * _np.log(
                                tfn_i / (F * p_)
                            ) / ln2 + _np.log(tfn_i / F) / (2.0 * ln2)
                        if tmp > 0:
                            score += float(tmp)
                    with _np.errstate(divide="ignore", invalid="ignore"):
                        score += float(
                            tf_q * _np.log(tf_q / (F * q)) / ln2
                            + _np.log(tf_q / F) / (2.0 * ln2)
                        )
                    s = qtf * score / (denom + 1.0)
                else:
                    raise ValueError(model)
                acc[docid] = acc.get(docid, 0.0) + s
        return sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


class OracleIndex:
    def __init__(self, contents: Sequence[str], pipeline: PipelineConfig):
        """contents[i] = content of docid i (caller fixes the docid order)."""
        pipe = make_pipeline(pipeline)
        self.doclen: List[int] = []
        self.postings: Dict[str, Dict[int, int]] = {}
        for docid, text in enumerate(contents):
            terms = pipe.terms(text or "")
            self.doclen.append(len(terms))
            for term, tf in Counter(terms).items():
                self.postings.setdefault(term, {})[docid] = tf
        self.num_docs = len(contents)
        self.num_tokens = sum(self.doclen)
        self.avgdl = self.num_tokens / self.num_docs if self.num_docs else 0.0
        self.pipeline = pipeline

    def nt(self, term: str) -> int:
        return len(self.postings.get(term, {}))

    def tf_collection(self, term: str) -> int:
        return sum(self.postings.get(term, {}).values())

    def search(self, query: str, qcfg: QueryConfig | None = None
               ) -> List[Tuple[int, float]]:
        """-> [(docid, score)] ranked score desc, docid asc, length <= k.

        BM25 is computed inline (fully independent of the engine's
        kernels); other models use the registry kernels scalar-wise —
        their formulas are pinned separately by value goldens in
        tests/test_models.py."""
        qcfg = qcfg or QueryConfig()
        pipe = make_pipeline(self.pipeline)
        qcounts = Counter(pipe.query_terms(query))
        acc: Dict[int, float] = {}
        for term, qtf in qcounts.items():
            plist = self.postings.get(term)
            if not plist:
                continue
            if qcfg.ignore_low_idf and self.tf_collection(term) > self.num_docs:
                continue
            nt = len(plist)
            if qcfg.model == "BM25":
                idf = math.log2((self.num_docs - nt + 0.5) / (nt + 0.5))
                for docid, tf in plist.items():
                    s = _bm25(tf, self.doclen[docid], self.avgdl, qtf, idf)
                    acc[docid] = acc.get(docid, 0.0) + s
            else:
                from terrier_spark.query.models import score_scalar

                F_c = self.tf_collection(term)
                for docid, tf in plist.items():
                    s = score_scalar(
                        qcfg.model, tf, self.doclen[docid], qtf, nt, F_c,
                        self.num_docs, self.avgdl, self.num_tokens,
                    )
                    if math.isnan(s):
                        # mirrors the engine: undefined (NaN) per-posting
                        # contributions are dropped (search.py decode
                        # kernel), never propagated into doc scores
                        continue
                    acc[docid] = acc.get(docid, 0.0) + s
        ranked = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[: qcfg.k]

    def _score_terms(self, weighted: Dict[str, float],
                     qcfg: QueryConfig) -> List[Tuple[int, float]]:
        acc: Dict[int, float] = {}
        for term, qtf in weighted.items():
            plist = self.postings.get(term)
            if not plist:
                continue
            if qcfg.ignore_low_idf and self.tf_collection(term) > self.num_docs:
                continue
            nt = len(plist)
            idf = math.log2((self.num_docs - nt + 0.5) / (nt + 0.5))
            for docid, tf in plist.items():
                s = _bm25(tf, self.doclen[docid], self.avgdl, qtf, idf)
                acc[docid] = acc.get(docid, 0.0) + s
        return sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[: qcfg.k]

    def search_with_expansion(self, query: str,
                              qcfg: QueryConfig | None = None,
                              fb_docs: int = 3, fb_terms: int = 10,
                              qe_model: str = "Bo1",
                              ) -> List[Tuple[int, float]]:
        """PRF mirroring terrier_spark.query.expansion semantics
        (first pass + Bo1/Bo2/KL reweighting + second pass).  Bo1 weights
        are computed inline (independent of the engine's registry);
        Bo2/KL use the registry kernels, which have their own value
        goldens in tests/test_expansion.py."""
        qcfg = qcfg or QueryConfig()
        pipe = make_pipeline(self.pipeline)
        qcounts = Counter(pipe.query_terms(query))
        first = self.search(query, qcfg)[:fb_docs]
        if not first:
            return self.search(query, qcfg)
        fb_ids = [d for d, _ in first]
        total_dl = float(sum(self.doclen[d] for d in fb_ids))
        tf_x: Dict[str, int] = {}
        df_fb: Dict[str, int] = {}
        for term, plist in self.postings.items():
            hits = [plist[d] for d in fb_ids if d in plist]
            if hits:
                tf_x[term] = sum(hits)
                df_fb[term] = len(hits)
        min_df = 0 if len(fb_ids) < 2 else 2

        def weigh(tx: float, F_c: float) -> float:
            if qe_model == "Bo1":
                f = F_c / self.num_docs
                return tx * math.log2((1 + f) / f) + math.log2(1 + f)
            from terrier_spark.query.expansion import QE_MODELS

            w_fn, _ = QE_MODELS[qe_model]
            import numpy as _np

            return float(
                _np.asarray(
                    w_fn(_np.array([tx], float), _np.array([F_c], float),
                         self.num_docs, total_dl, self.num_tokens)
                )[0]
            )

        weights = {}
        for term, tx in tf_x.items():
            if min_df and df_fb[term] < min_df and term not in qcounts:
                weights[term] = 0.0
                continue
            weights[term] = weigh(tx, self.tf_collection(term))
        t_max = max(weights, key=lambda t: weights[t])
        tfm = float(tf_x[t_max])
        if qe_model == "Bo1":
            n_prime = self.num_tokens / self.avgdl
            f_max = tfm / n_prime
            norm = tfm * math.log2((1 + f_max) / f_max) + math.log2(1 + f_max)
        else:
            from terrier_spark.query.expansion import QE_MODELS

            _, norm_fn = QE_MODELS[qe_model]
            norm = norm_fn(tfm, total_dl, self.num_tokens, self.avgdl)
        n_reweight = max(fb_terms, len(qcounts))
        top = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))[:n_reweight]
        merged = {t: float(q) for t, q in qcounts.items()}
        for t, w in top:
            merged[t] = merged.get(t, 0.0) + (w / norm if norm > 0 else 0.0)
        return self._score_terms(merged, qcfg)
