"""Weighting-model registry (SURVEY.md §2.6).

Every model is a vectorized numpy kernel over
(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    tf  term frequency in doc        dl   doc length
    qtf term frequency in query      nt   document frequency
    F   collection term frequency    N    number of documents
    avgdl average doc length         num_tokens collection token count

Formulas are exact ports of the reference score() methods (file:line in
each docstring); all logs base 2 (WeightingModelLibrary.java:40-60).

`prunable` marks models monotone increasing in tf and decreasing in dl,
for which score(max_tf, min_dl) upper-bounds every posting in a block
(clamped at 0, which stays a valid bound when idf goes negative) — the
block-max pruning contract.  Non-monotone models (DPH/DLH/PL2/...) are
covered instead by the EXACT per-block max-score metadata stored at
compaction time (index/maxscore.py) together with each model's
multiplicative `qtf_scale` factor.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Callable, Dict

import numpy as np

from typing import Optional

LOG2E = 1.0 / math.log(2.0)


def _f64(*xs):
    return [np.asarray(x, dtype=np.float64) for x in xs]


def bm25(tf, dl, qtf, nt, F, N, avgdl, num_tokens,
         k1=1.2, k3=8.0, b=0.75):
    """BM25.java:70-74 (no (k1+1) factor; tf inside K)."""
    tf, dl, qtf, nt = _f64(tf, dl, qtf, nt)
    K = k1 * ((1 - b) + b * dl / avgdl) + tf
    idf = np.log2((N - nt + 0.5) / (nt + 0.5))
    return (tf * (k3 + 1.0) * qtf / ((k3 + qtf) * K)) * idf


def tf_idf(tf, dl, qtf, nt, F, N, avgdl, num_tokens, k1=1.2, b=0.75):
    """TF_IDF.java score(): Robertson tf x log2(N/nt + 1)."""
    tf, dl, qtf, nt = _f64(tf, dl, qtf, nt)
    rob = k1 * tf / (tf + k1 * (1 - b + b * dl / avgdl))
    idf = np.log2(N / nt + 1.0)
    return qtf * rob * idf


def dirichlet_lm(tf, dl, qtf, nt, F, N, avgdl, num_tokens, mu=2500.0):
    """DirichletLM.java score() (c=2500; no keyFrequency multiplier —
    reference quirk replicated)."""
    tf, dl, F = _f64(tf, dl, F)
    return (
        np.log2(1.0 + tf / (mu * (F / num_tokens)))
        + np.log2(mu / (dl + mu))
    )


def hiemstra_lm(tf, dl, qtf, nt, F, N, avgdl, num_tokens, lam=0.15):
    """Hiemstra_LM.java score() (lambda=0.15; no keyFrequency —
    reference quirk replicated)."""
    tf, dl, F = _f64(tf, dl, F)
    return np.log2(1.0 + (lam * tf * num_tokens) / ((1 - lam) * F * dl))


def pl2(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """PL2.java score()."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    NORM = 1.0 / (TF + 1.0)
    f = F / N
    return NORM * qtf * (
        TF * np.log2(1.0 / f)
        + f * LOG2E
        + 0.5 * np.log2(2 * math.pi * TF)
        + TF * (np.log2(TF) - LOG2E)
    )


def inl2(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """InL2.java score(); idfDFR = log2((N+1)/(nt+0.5)) (Idf.java:87-89)."""
    tf, dl, qtf, nt = _f64(tf, dl, qtf, nt)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    return TF * np.log2((N + 1.0) / (nt + 0.5)) * qtf * (1.0 / (TF + 1.0))


def lgd(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """LGD.java score()."""
    tf, dl, qtf, nt = _f64(tf, dl, qtf, nt)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    freq = nt / N
    return qtf * np.log2((freq + TF) / freq)


def dph(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """DPH.java score() (parameter-free)."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    with np.errstate(divide="ignore", invalid="ignore"):
        f = tf / dl
        norm = (1.0 - f) * (1.0 - f) / (tf + 1.0)
        return qtf * norm * (
            tf * np.log2((tf * avgdl / dl) * (N / F))
            + 0.5 * np.log2(2 * math.pi * tf * (1.0 - f))
        )


def dlh(tf, dl, qtf, nt, F, N, avgdl, num_tokens, k=0.5):
    """DLH.java score() (k=0.5)."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    with np.errstate(divide="ignore", invalid="ignore"):
        f = tf / dl
        return qtf * (
            tf * np.log2((tf * avgdl / dl) * (N / F))
            + (dl - tf) * np.log2(1.0 - f)
            + 0.5 * np.log2(2 * math.pi * tf * (1.0 - f))
        ) / (tf + k)


def dlh13(tf, dl, qtf, nt, F, N, avgdl, num_tokens, k=0.5):
    """DLH13.java score() (k=0.5; DLH without the (dl-tf)log2(1-f) term)."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    with np.errstate(divide="ignore", invalid="ignore"):
        f = tf / dl
        return qtf * (
            tf * np.log2((tf * avgdl / dl) * (N / F))
            + 0.5 * np.log2(2 * math.pi * tf * (1.0 - f))
        ) / (tf + k)


def in_expb2(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """In_expB2.java score(): Bernoulli after-effect B with the
    n_exp = N(1-e^-f) expected-idf variant."""
    tf, dl, qtf, nt, F = _f64(tf, dl, qtf, nt, F)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    NORM = (F + 1.0) / (nt * (TF + 1.0))
    f = F / N
    n_exp = N * (1.0 - np.exp(-f))
    return TF * np.log2((N + 1.0) / (n_exp + 0.5)) * qtf * NORM


def ifb2(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """IFB2.java score(): inverse-collection-frequency idf with
    Bernoulli after-effect B."""
    tf, dl, qtf, nt, F = _f64(tf, dl, qtf, nt, F)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    NORM = (F + 1.0) / (nt * (TF + 1.0))
    return TF * qtf * np.log2((N + 1.0) / (F + 0.5)) * NORM


def lemur_tf_idf(tf, dl, qtf, nt, F, N, avgdl, num_tokens, k1=1.2, b=0.75):
    """LemurTF_IDF.java score(): Robertson tf x log2(N/nt)^2."""
    tf, dl, qtf, nt = _f64(tf, dl, qtf, nt)
    rob = k1 * tf / (tf + k1 * (1 - b + b * dl / avgdl))
    return qtf * rob * np.log2(N / nt) ** 2


def _stirling(n, m):
    """WeightingModelLibrary.stirlingPower: (m+0.5)log2(n/m)+(n-m)log2(n)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return (m + 0.5) * np.log2(n / m) + (n - m) * np.log2(n)


def bb2(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """BB2.java score(): Bose-Einstein (Bernoulli ratio B) with
    after-effect B and normalisation 2."""
    tf, dl, qtf, nt, F = _f64(tf, dl, qtf, nt, F)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    NORM = (F + 1.0) / (nt * (TF + 1.0))
    return NORM * qtf * (
        -np.log2(N - 1.0) - LOG2E
        + _stirling(N + F - 1.0, N + F - TF - 2.0)
        - _stirling(F, F - TF)
    )


def dfr_bm25(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0,
             k1=1.2, k3=1000.0):
    """DFR_BM25.java score() (k_3 = 1000 in the DFR variant)."""
    tf, dl, qtf, nt = _f64(tf, dl, qtf, nt)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    NORM = 1.0 / (TF + k1)
    return ((k3 + 1.0) * qtf / (k3 + qtf)) * NORM * TF * np.log2(
        (N - nt + 0.5) / (nt + 0.5)
    )


def dfree(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """DFRee.java score() (parameter-free)."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    with np.errstate(divide="ignore", invalid="ignore"):
        prior = tf / dl
        posterior = (tf + 1.0) / (dl + 1.0)
        inv_prior_c = num_tokens / F
        norm = tf * np.log2(posterior / prior)
        return qtf * norm * (
            tf * (-np.log2(prior * inv_prior_c))
            + (tf + 1.0) * np.log2(posterior * inv_prior_c)
            + 0.5 * np.log2(posterior / prior)
        )


def dfree_klim(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """DFReeKLIM.java score() (parameter-free)."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    with np.errstate(divide="ignore", invalid="ignore"):
        p_true = tf / dl
        p_smooth = (tf + 1.0) / (dl + 1.0)
        prior = F / num_tokens
        kl1 = np.log2(p_smooth / p_true)
        kl2 = np.log2(p_true / prior)
        return qtf * tf * kl1 * kl2


def dfic(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """DFIC.java score(): chi-squared divergence from independence;
    0 when tf <= expected."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    e = (F * dl) / num_tokens
    with np.errstate(divide="ignore", invalid="ignore"):
        chi = ((tf - e) ** 2) / e + 1.0
        s = qtf * np.log2(chi)
    return np.where(tf <= e, 0.0, s)


def dfiz(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """DFIZ.java score(): z-score divergence from independence;
    0 when tf <= expected."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    e = (F * dl) / num_tokens
    with np.errstate(divide="ignore", invalid="ignore"):
        z = (tf - e) / np.sqrt(e) + 1.0
        s = qtf * np.log2(z)
    return np.where(tf <= e, 0.0, s)


def js_kls(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """Js_KLs.java score() (parameter-free)."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    with np.errstate(divide="ignore", invalid="ignore"):
        mle = tf / dl
        sp = (tf + 1.0) / (dl + 1.0)
        cp = F / num_tokens
        js = (dl / (dl + 1.0)) * (1.0 - mle) * np.log2((tf + 1.0) / tf)
        kls = np.log2(sp / cp) + tf * np.log2(1.0 + 1.0 / tf)
        return qtf * tf * js * kls


def xsqra_m(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """XSqrA_M.java score() (parameter-free)."""
    tf, dl, qtf, F = _f64(tf, dl, qtf, F)
    with np.errstate(divide="ignore", invalid="ignore"):
        mle = tf / dl
        sp = (tf + 1.0) / (dl + 1.0)
        cp = F / num_tokens
        xsqra = (1.0 - mle) ** 2 / (tf + 1.0)
        delta = (
            (tf + 1.0) * np.log2(sp / cp)
            - tf * np.log2(mle / cp)
            + 0.5 * np.log2(sp / mle)
        )
        return qtf * tf * xsqra * delta


def in_expc2(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """In_expC2.java score() — NOTE the reference uses the NATURAL log for
    the tf normalisation here (Math.log, not WeightingModelLibrary.log),
    replicated exactly."""
    tf, dl, qtf, nt, F = _f64(tf, dl, qtf, nt, F)
    TF = tf * np.log(1.0 + (c * avgdl) / dl)
    NORM = (F + 1.0) / (nt * (TF + 1.0))
    f = F / N
    n_exp = N * (1.0 - np.exp(-f))
    return TF * np.log2((N + 1.0) / (n_exp + 0.5)) * qtf * NORM


def inb2(tf, dl, qtf, nt, F, N, avgdl, num_tokens, c=1.0):
    """InB2.java score()."""
    tf, dl, qtf, nt, F = _f64(tf, dl, qtf, nt, F)
    TF = tf * np.log2(1.0 + (c * avgdl) / dl)
    NORM = (F + 1.0) / (nt * (TF + 1.0))
    return TF * qtf * np.log2((N + 1.0) / (nt + 0.5)) * NORM


def dl_model(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """Dl.java score(): the document length itself (diagnostic model)."""
    tf, dl = _f64(tf, dl)
    return dl + 0.0 * tf


def tf_model(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
    """Tf.java score(): the raw term frequency (diagnostic model)."""
    tf, dl = _f64(tf, dl)
    return tf + 0.0 * dl


# --------------------------------------------------------------------------
# Composable DFR framework (matching/models/DFRWeightingModel.java):
# score = aftereffect.gain(tfn) * basicmodel.score(tfn), with
# tfn = normalisation.normalise(tf).  Component formulas are exact ports of
# models/basicmodel/*.java, models/aftereffect/*.java and
# models/normalisation/Normalisation*.java; all logs base 2 except where
# the reference uses Math.log (Normalisation 2exp).
# Names compose as "DFR(<basic>,<aftereffect>,<normalisation>[,c])", empty
# component = disabled, e.g. "DFR(In_exp,B,2)" == In_expB2,
# "DFR(DFR_BM,,2)" == DFR_BM25.

def _idf_dfr(x, N):
    """Idf.idfDFR (Idf.java:87-89): log2((N+1)/(x+0.5))."""
    return np.log2((N + 1.0) / (x + 0.5))


def _poisson_sum(tfn, f):
    """The shared P/PL/Br Poisson approximation term."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return (
            tfn * np.log2(1.0 / f)
            + f * LOG2E
            + 0.5 * np.log2(2 * math.pi * tfn)
            + tfn * (np.log2(tfn) - LOG2E)
        )


# basic model: fn(tfn, nt, F, qtf, dl, N, num_tokens) -> score
DFR_BASIC_MODELS = {
    "B": lambda tfn, nt, F, qtf, dl, N, T: qtf * (
        -np.log2(N - 1.0) - LOG2E
        + _stirling(N + F - 1.0, N + F - tfn - 2.0)
        - _stirling(F, F - tfn)
    ),
    "BM": lambda tfn, nt, F, qtf, dl, N, T: (
        ((8.0 + 1.0) * qtf / (8.0 + qtf))
        * ((1.2 + 1.0) * tfn / (1.2 + tfn))
        * np.log2((N - nt + 0.5) / (nt + 0.5))
    ),
    "Br": lambda tfn, nt, F, qtf, dl, N, T: qtf * _poisson_sum(tfn, dl / T),
    "IF": lambda tfn, nt, F, qtf, dl, N, T: qtf * tfn * _idf_dfr(F, N),
    "In": lambda tfn, nt, F, qtf, dl, N, T: qtf * tfn * _idf_dfr(nt, N),
    "In_exp": lambda tfn, nt, F, qtf, dl, N, T: qtf * tfn * _idf_dfr(
        N * (1.0 - np.exp(-(F / N))), N
    ),
    "P": lambda tfn, nt, F, qtf, dl, N, T: qtf * _poisson_sum(tfn, F / N),
    "PL": lambda tfn, nt, F, qtf, dl, N, T: (
        (1.0 / (tfn + 1.0)) * qtf * _poisson_sum(tfn, F / N)
    ),
    "DFR_BM": lambda tfn, nt, F, qtf, dl, N, T: (
        ((1000.0 + 1.0) * qtf / (1000.0 + qtf))
        * (1.0 / (tfn + 1.2))
        * tfn
        * np.log2((N - nt + 0.5) / (nt + 0.5))
    ),
}

# after effect (first normalisation): fn(tfn, nt, F, c, avgdl) -> gain
DFR_AFTER_EFFECTS = {
    "B": lambda tfn, nt, F, c, avgdl: (F + 1.0) / (nt * (tfn + 1.0)),
    "L": lambda tfn, nt, F, c, avgdl: 1.0 / (1.0 + tfn),
    "L5": lambda tfn, nt, F, c, avgdl: (
        (1.0 - tfn / (c * avgdl)) ** 2 / (1.0 + tfn)
    ),
    "LL": lambda tfn, nt, F, c, avgdl: np.log2((1.0 + tfn) / tfn),
}

# frequency normalisation: fn(tf, dl, nt, F, c, avgdl, N, num_tokens) -> tfn
DFR_NORMALISATIONS = {
    "0": lambda tf, dl, nt, F, c, avgdl, N, T: tf,
    "1": lambda tf, dl, nt, F, c, avgdl, N, T: tf * c * avgdl / dl,
    "2": lambda tf, dl, nt, F, c, avgdl, N, T: np.where(
        dl == 0, tf, tf * np.log2(1.0 + (c * avgdl) / np.where(dl == 0, 1, dl))
    ),
    "2exp": lambda tf, dl, nt, F, c, avgdl, N, T: tf * np.log(
        1.0 + (c * avgdl) / dl
    ),
    "3": lambda tf, dl, nt, F, c, avgdl, N, T: (
        c * (tf + c * F / T) / (dl + c)
    ),
    "B": lambda tf, dl, nt, F, c, avgdl, N, T: tf / (
        1.0 - c + c * dl / avgdl
    ),
    "F": lambda tf, dl, nt, F, c, avgdl, N, T: tf * (c * dl / avgdl),
    "J": lambda tf, dl, nt, F, c, avgdl, N, T: np.where(
        dl == 0, tf,
        ((1.0 - c) * tf / np.where(dl == 0, 1, dl) + c * F / T) * dl,
    ),
    "JN": lambda tf, dl, nt, F, c, avgdl, N, T: np.where(
        dl == 0, tf,
        ((1.0 - c) * tf / np.where(dl == 0, 1, dl) + c * nt / N) * dl,
    ),
    "P": lambda tf, dl, nt, F, c, avgdl, N, T: tf * (avgdl / dl) ** c,
    "Static": lambda tf, dl, nt, F, c, avgdl, N, T: np.where(
        dl == 0, tf, np.where(tf == 0, 0.0, c)
    ),
}


def dfr_kernel(basic: str, after_effect: str = "", normalisation: str = "",
               c: float = 1.0):
    """Build a standard-signature kernel composing the three DFR
    components (DFRWeightingModel.score, :score method).  Empty
    after_effect/normalisation strings disable that stage, exactly as the
    reference's ENABLE_* flags do."""
    bm = DFR_BASIC_MODELS[basic]
    ae = DFR_AFTER_EFFECTS[after_effect] if after_effect else None
    norm = DFR_NORMALISATIONS[normalisation] if normalisation else None

    def kernel(tf, dl, qtf, nt, F, N, avgdl, num_tokens):
        tf, dl, qtf, nt, F = _f64(tf, dl, qtf, nt, F)
        with np.errstate(divide="ignore", invalid="ignore"):
            tfn = (
                norm(tf, dl, nt, F, c, avgdl, N, num_tokens)
                if norm is not None else tf
            )
            gain = ae(tfn, nt, F, c, avgdl) if ae is not None else 1.0
            return gain * bm(tfn, nt, F, qtf, dl, N, num_tokens)

    kernel.__name__ = f"dfr_{basic}_{after_effect}_{normalisation}"
    return kernel


_DFR_NAME = re.compile(
    r"DFR\(\s*(?P<b>\w+)\s*,?\s*(?P<a>\w*)\s*,?\s*(?P<n>\w*)"
    r"\s*(?:,\s*(?P<c>[\d.]+))?\s*\)"
)


def bm25f(ftf, fln, qtf, nt, F, N, weights, cs, avg_flens, num_tokens,
          k1=1.2, k3=8.0):
    """BM25F (matching/models/BM25F.java = PerFieldNormWeightingModel with
    BasicModel BM x NormalisationB, :118-133):

        tfn_i = w_i * tf_i / (1 - c_i + c_i * len_i/avg_len_i)   [tf_i>0]
        tfn   = sum_i tfn_i;  0 -> score 0
        score = (k3+1)qtf/(k3+qtf) * (k1+1)tfn/(k1+tfn)
                * log2((N - nt + 0.5)/(nt + 0.5))

    ftf/fln: (n_postings, n_fields) arrays; weights/cs/avg_flens:
    per-field vectors (defaults 1.0 per the w.<fi>/c.<fi> properties)."""
    ftf = np.asarray(ftf, dtype=np.float64)
    fln = np.asarray(fln, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    c = np.asarray(cs, dtype=np.float64)
    av = np.asarray(avg_flens, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        norm = 1.0 - c + c * fln / av
        tfn_i = np.where(ftf > 0, w * ftf / norm, 0.0)
    tfn = np.nan_to_num(tfn_i, nan=0.0, posinf=0.0).sum(axis=1)
    qk = (k3 + 1.0) * qtf / (k3 + qtf)
    idf = np.log2((N - float(nt) + 0.5) / (float(nt) + 0.5))
    score = qk * ((k1 + 1.0) * tfn / (k1 + tfn)) * idf
    return np.where(tfn == 0.0, 0.0, score)


def pl2f(ftf, fln, qtf, nt, F, N, weights, cs, avg_flens, num_tokens):
    """PL2F (matching/models/PL2F.java = PerFieldNormWeightingModel with
    BasicModel PL x Normalisation2):

        tfn_i = w_i * tf_i * log2(1 + c_i * avg_len_i / len_i)   [tf_i>0]
        tfn   = sum_i tfn_i;  0 -> score 0
        score = PL(tfn) = (1/(tfn+1)) * qtf * Poisson-sum(tfn, F/N)
    """
    ftf = np.asarray(ftf, dtype=np.float64)
    fln = np.asarray(fln, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    c = np.asarray(cs, dtype=np.float64)
    av = np.asarray(avg_flens, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        # Normalisation2: dl==0 -> tf (reference Normalisation2.java guard)
        tfn_i = np.where(
            ftf > 0,
            w * np.where(fln == 0, ftf,
                         ftf * np.log2(1.0 + c * av / np.where(fln == 0, 1, fln))),
            0.0,
        )
        tfn = tfn_i.sum(axis=1)
        score = (1.0 / (tfn + 1.0)) * qtf * _poisson_sum(tfn, float(F) / N)
    return np.where(tfn == 0.0, 0.0, score)


_lgamma = np.frompyfunc(
    lambda x: math.lgamma(x) if x > 0 else float("nan"), 1, 1
)


def ml2(ftf, fln, qtf, nt, F, N, weights, cs, avg_flens, num_tokens):
    """ML2 (matching/models/ML2.java:137-163, multinomial randomness over
    fields, Plachouras & Ounis ECIR 2007): per-field Normalisation2 tfn,
    gamma-function log terms, field priors p_i = 1/(nf*N).

        score = [ -lnG(F+1) + sum_i (lnG(tfn_i+1) - tfn_i ln p_i)
                  + lnG(tf_q+1) - tf_q ln q ] / (ln2 * (sum_i tfn_i + 1))
        tf_q = F - sum_i tfn_i,  q = 1 - sum_{i: tf_i>0} p_i
    """
    ftf = np.asarray(ftf, dtype=np.float64)
    fln = np.asarray(fln, dtype=np.float64)
    c = np.asarray(cs, dtype=np.float64)
    av = np.asarray(avg_flens, dtype=np.float64)
    nf = ftf.shape[1]
    p_i = 1.0 / (nf * float(N))  # ML2.java:114 (p.<fi> adjust default 1)
    ln2 = math.log(2.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        tfn_i = np.where(
            ftf > 0,
            np.where(fln == 0, ftf,
                     ftf * np.log2(1.0 + c * av / np.where(fln == 0, 1, fln))),
            0.0,
        )
        mask = ftf > 0
        field_terms = np.where(
            mask,
            (_lgamma(tfn_i + 1.0).astype(np.float64) - tfn_i * math.log(p_i))
            / ln2,
            0.0,
        ).sum(axis=1)
        denom = tfn_i.sum(axis=1)
        tf_q = float(F) - denom
        q = 1.0 - mask.sum(axis=1) * p_i
        score = (
            -math.lgamma(float(F) + 1.0) / ln2
            + field_terms
            + (_lgamma(tf_q + 1.0).astype(np.float64) - tf_q * np.log(q)) / ln2
        ) / (denom + 1.0)
    return qtf * score


def mdl2(ftf, fln, qtf, nt, F, N, weights, cs, avg_flens, num_tokens):
    """MDL2 (matching/models/MDL2.java:132-166), ported LITERALLY incl.
    the reference's loop condition `if (tff[fi] > 0) continue;`: fields
    CONTAINING the term are skipped, fields without it contribute only
    q -= fieldsWithTerm * w_i / N (their tfn is 0, and the tmp term is
    NaN so never added).  The net per-posting score is therefore

        score = qtf * ( (fwt/2) * log2(2*pi*F) + F * log2(1/q) )
        q = 1 - sum_{i: tf_i==0} fwt * w_i / N,  fwt = #fields with term
    """
    ftf = np.asarray(ftf, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        fwt = (ftf > 0).sum(axis=1).astype(np.float64)
        q = 1.0 - ((ftf == 0) * (fwt[:, None] * w / float(N))).sum(axis=1)
        score = (fwt / 2.0) * np.log2(2 * math.pi * float(F)) + float(
            F
        ) * np.log2(1.0 / q)
    return qtf * score


def per_field_kernel(basic: str, normalisation: str):
    """PerFieldNormWeightingModel (matching/models/
    PerFieldNormWeightingModel.java:117-132): tfn = sum over fields of
    w_i * Norm_i(tf_i, len_i) with per-field c_i/avg_i, then the DFR
    basic model scores (tfn, doclen) once; tfn == 0 -> 0.  BM25F ==
    PerField(BM,B), PL2F == PerField(PL,2)."""
    bm = DFR_BASIC_MODELS[basic]
    norm = DFR_NORMALISATIONS[normalisation]

    def kernel(ftf, fln, qtf, nt, F, N, weights, cs, avg_flens, num_tokens):
        ftf = np.asarray(ftf, dtype=np.float64)
        fln = np.asarray(fln, dtype=np.float64)
        w = np.asarray(weights, dtype=np.float64)
        c = np.asarray(cs, dtype=np.float64)
        av = np.asarray(avg_flens, dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            tfn_i = np.empty_like(ftf)
            for fi in range(ftf.shape[1]):
                tfn_i[:, fi] = norm(
                    ftf[:, fi], fln[:, fi], float(nt), float(F),
                    float(c[fi]), float(av[fi]), N, num_tokens,
                )
            tfn_i = np.where(ftf > 0, w * tfn_i, 0.0)
            tfn = np.nan_to_num(tfn_i, nan=0.0, posinf=0.0).sum(axis=1)
            dl = fln.sum(axis=1)
            s = bm(tfn, float(nt), float(F), qtf, dl, N, num_tokens)
        return np.where(tfn == 0.0, 0.0, s)

    kernel.__name__ = f"per_field_{basic}_{normalisation}"
    return kernel


_PER_FIELD_NAME = re.compile(
    r"PerField\(\s*(?P<b>\w+)\s*,\s*(?P<n>\w+)\s*\)"
)


def single_field_kernel(base: str, field_ids: tuple):
    """SingleFieldModel (matching/models/SingleFieldModel.java): score the
    base model on (sum of active fields' tfs, sum of active fields'
    lengths); tf==0 -> 0.  Collection statistics are restricted to the
    ACTIVE fields (setCollectionStatistics:107-125: numberOfTokens = sum
    of active fields' token counts, averageDocumentLength = that / N;
    setEntryStatistics:128-142: collection TF = sum of active fields'
    frequencies, documentFrequency stays global) — `num_tokens` and `F`
    arrive here ALREADY restricted by the search layer."""

    def kernel(ftf, fln, qtf, nt, F, N, weights, cs, avg_flens, num_tokens):
        ftf = np.asarray(ftf, dtype=np.float64)
        fln = np.asarray(fln, dtype=np.float64)
        ids = list(field_ids)
        tf = ftf[:, ids].sum(axis=1)
        dl = fln[:, ids].sum(axis=1)
        avgdl = float(num_tokens) / N
        base_kernel = get_model(base).kernel
        with np.errstate(divide="ignore", invalid="ignore"):
            s = base_kernel(tf, dl, qtf, nt, F, N, avgdl, num_tokens)
        return np.where(tf == 0, 0.0, s)

    kernel.__name__ = f"single_field_{base}_{'_'.join(map(str, field_ids))}"
    return kernel


_SINGLE_FIELD_NAME = re.compile(
    r"SingleField\(\s*(?P<base>[\w().,]+?)\s*,(?P<ids>[\d,\s]+)\)"
)


# --------------------------------------------------------------------------
# qtf factorisation: in EVERY reference model the query term frequency
# enters the score as a multiplicative factor with factor(1) == 1 —
# score(tf, dl, qtf, ...) == qtf_scale(qtf) * score(tf, dl, 1, ...).
# That makes an index-time stored max of the UNIT score (qtf=1, clamped
# at 0) a valid per-block upper bound for ANY qtf > 0:
#     score(posting, qtf) = qtf_scale(qtf) * unit_score(posting)
#                        <= qtf_scale(qtf) * stored_max.
# The lambdas below use only overloaded arithmetic so the SAME callable
# works on numpy arrays (the search kernel's block bounds) and on Spark
# Columns.

def _qtf_linear(q):
    return q


def _qtf_none(q):
    return 1.0 + 0.0 * q


def _qtf_saturating(k3: float):
    def scale(q):
        return (k3 + 1.0) * q / (k3 + q)

    scale.__name__ = f"qtf_saturating_{k3}"
    return scale


@dataclass(frozen=True)
class ModelSpec:
    kernel: Callable
    prunable: bool  # monotone in tf (inc) and dl (dec): block-max safe
    needs_fields: bool = False  # scores from per-field tf/length vectors
    # field-model block-max bound: fn(max_ftf, min_fln, qtf, nt, N,
    # weights, cs, avg_flens) -> per-block score upper bound, where
    # max_ftf/min_fln are the block's per-field (n_blocks, nf) metadata.
    # Only set for field models whose score is monotone increasing in
    # every ftf_i and decreasing in every fln_i over the feasible domain.
    field_bound: Optional[Callable] = None
    # SingleFieldModel stat restriction: field ids whose token/TF sums
    # replace the global collection statistics (documentFrequency global)
    active_fields: Optional[tuple] = None
    # exact multiplicative qtf factor (see block comment above); numpy-
    # and Column-compatible.  Linear (score = qtf * base) is the common
    # case; DirichletLM/Hiemstra_LM/Dl/Tf ignore qtf entirely; the
    # BM25-family saturates at (k3+1)qtf/(k3+qtf).
    qtf_scale: Callable = _qtf_linear


def bm25f_field_ub(max_ftf, min_fln, qtf, nt, N, weights, cs, avg_flens,
                   k1=1.2, k3=8.0):
    """Per-block upper bound for BM25F.  Each tfn_i = w_i*tf_i/norm_i with
    norm_i = 1 - c_i + c_i*len_i/av_i is increasing in tf_i and decreasing
    in len_i, and a real posting with tf_i > 0 has len_i >= tf_i >= 1, so
    evaluating at (block max_ftf_i, max(block min_fln_i, 1)) bounds every
    posting's tfn_i; BM's (k1+1)tfn/(k1+tfn) is increasing in tfn; the
    0-clamp keeps the bound valid when idf goes negative (every actual
    score is then negative)."""
    mf = np.asarray(max_ftf, dtype=np.float64)
    ml = np.maximum(np.asarray(min_fln, dtype=np.float64), 1.0)
    w = np.asarray(weights, dtype=np.float64)
    c = np.asarray(cs, dtype=np.float64)
    av = np.asarray(avg_flens, dtype=np.float64)
    qtf, nt = _f64(qtf, nt)
    with np.errstate(divide="ignore", invalid="ignore"):
        norm = 1.0 - c + c * ml / av
        tfn_i = np.where(mf > 0, w * mf / norm, 0.0)
    tfn = np.nan_to_num(tfn_i, nan=0.0, posinf=0.0).sum(axis=1)
    qk = (k3 + 1.0) * qtf / (k3 + qtf)
    idf = np.log2((N - nt + 0.5) / (nt + 0.5))
    ub = qk * ((k1 + 1.0) * tfn / (k1 + tfn)) * idf
    return np.maximum(np.where(tfn == 0.0, 0.0, ub), 0.0)


MODELS: Dict[str, ModelSpec] = {
    "BM25": ModelSpec(bm25, True, qtf_scale=_qtf_saturating(8.0)),
    "TF_IDF": ModelSpec(tf_idf, True),
    "DirichletLM": ModelSpec(dirichlet_lm, True, qtf_scale=_qtf_none),
    "Hiemstra_LM": ModelSpec(hiemstra_lm, True, qtf_scale=_qtf_none),
    "PL2": ModelSpec(pl2, False),   # TF*log2(TF) term is not monotone
    "InL2": ModelSpec(inl2, True),
    "LGD": ModelSpec(lgd, True),
    "DPH": ModelSpec(dph, False),
    "DLH": ModelSpec(dlh, False),
    "DLH13": ModelSpec(dlh13, False),
    # TF/(TF+1) increasing in TF and the rest constant per term -> monotone
    "In_expB2": ModelSpec(in_expb2, True),
    "IFB2": ModelSpec(ifb2, True),
    "LemurTF_IDF": ModelSpec(lemur_tf_idf, True),
    "BB2": ModelSpec(bb2, False),        # Bose-Einstein term not monotone
    "DFR_BM25": ModelSpec(dfr_bm25, True,
                          qtf_scale=_qtf_saturating(1000.0)),
    "DFRee": ModelSpec(dfree, False),
    "DFReeKLIM": ModelSpec(dfree_klim, False),
    "DFIC": ModelSpec(dfic, False),      # thresholded at the expectation
    "DFIZ": ModelSpec(dfiz, False),
    "Js_KLs": ModelSpec(js_kls, False),
    "XSqrA_M": ModelSpec(xsqra_m, False),
    "In_expC2": ModelSpec(in_expc2, True),
    "InB2": ModelSpec(inb2, True),
    # Dl grows with doc length, so (max_tf, min_dl) does NOT bound it
    "Dl": ModelSpec(dl_model, False, qtf_scale=_qtf_none),
    "Tf": ModelSpec(tf_model, True, qtf_scale=_qtf_none),
    # field-aware: needs ftf/fln block vectors.  BM25F additionally has an
    # analytic per-field bound valid for ANY weights/cs; all of them are
    # exactly prunable via the stored per-block max-score metadata when
    # the query runs with the index-time default field parameters.
    "BM25F": ModelSpec(bm25f, False, needs_fields=True,
                       field_bound=bm25f_field_ub,
                       qtf_scale=_qtf_saturating(8.0)),
    "PL2F": ModelSpec(pl2f, False, needs_fields=True),
    "ML2": ModelSpec(ml2, False, needs_fields=True),
    "MDL2": ModelSpec(mdl2, False, needs_fields=True),
}

# qtf factor of each DFR basic model (the only place qtf appears in a
# DFR(...) / PerField(...) composition): BM and DFR_BM saturate, the rest
# are linear multipliers.
_DFR_BASIC_QTF = {
    "BM": _qtf_saturating(8.0),
    "DFR_BM": _qtf_saturating(1000.0),
}


def get_model(name: str) -> ModelSpec:
    try:
        return MODELS[name]
    except KeyError:
        pass
    # generic per-field DFR composition: "PerField(<basic>,<norm>)"
    m = _PER_FIELD_NAME.fullmatch(name.strip())
    if m:
        try:
            spec = ModelSpec(
                per_field_kernel(m.group("b"), m.group("n")),
                prunable=False, needs_fields=True,
                qtf_scale=_DFR_BASIC_QTF.get(m.group("b"), _qtf_linear),
            )
        except KeyError as e:
            raise ValueError(
                f"unknown PerField component {e} in {name!r}; basic "
                f"models: {sorted(DFR_BASIC_MODELS)}, normalisations: "
                f"{sorted(DFR_NORMALISATIONS)}"
            ) from None
        MODELS[name] = spec
        return spec
    # in-field-only scoring: "SingleField(<base model>,<fid>[,<fid>...])"
    m = _SINGLE_FIELD_NAME.fullmatch(name.strip())
    if m:
        base = m.group("base").strip()
        ids = tuple(int(x) for x in m.group("ids").split(",") if x.strip())
        base_spec = get_model(base)  # validate base name eagerly
        spec = ModelSpec(
            single_field_kernel(base, ids), prunable=False,
            needs_fields=True, active_fields=ids,
            qtf_scale=base_spec.qtf_scale,
        )
        MODELS[name] = spec
        return spec
    # composable DFR framework names: "DFR(<basic>,<aftereffect>,<norm>[,c])"
    m = _DFR_NAME.fullmatch(name.strip())
    if m:
        try:
            spec = ModelSpec(
                dfr_kernel(
                    m.group("b"), m.group("a") or "", m.group("n") or "",
                    float(m.group("c")) if m.group("c") else 1.0,
                ),
                prunable=False,  # conservative: composed bound not proven
                qtf_scale=_DFR_BASIC_QTF.get(m.group("b"), _qtf_linear),
            )
        except KeyError as e:
            raise ValueError(
                f"unknown DFR component {e} in {name!r}; basic models: "
                f"{sorted(DFR_BASIC_MODELS)}, after effects: "
                f"{sorted(DFR_AFTER_EFFECTS)}, normalisations: "
                f"{sorted(DFR_NORMALISATIONS)}"
            ) from None
        MODELS[name] = spec  # memoize so repeated lookups share the kernel
        return spec
    raise ValueError(
        f"unknown weighting model {name!r}; available: {sorted(MODELS)} "
        "or DFR(<basic>,<aftereffect>,<normalisation>[,c])"
    )


def score_scalar(name: str, tf: float, dl: float, qtf: float, nt: int,
                 F: int, N: int, avgdl: float, num_tokens: int) -> float:
    out = get_model(name).kernel(
        np.array([tf]), np.array([dl]), np.array([qtf]), np.array([nt]),
        np.array([F]), N, avgdl, num_tokens
    )
    return float(out[0])
