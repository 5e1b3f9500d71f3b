"""Weighting models: hand-computed value goldens (independent of the
kernels) + engine-vs-oracle rank identity per model."""

import math

import numpy as np
import pytest

from terrier_spark.config import IndexConfig, QueryConfig
from terrier_spark.index.builder import build_index
from terrier_spark.index.corpus import synth_source_corpus
from terrier_spark.oracle import OracleIndex
from terrier_spark.query.models import MODELS, score_scalar
from terrier_spark.query.search import search

# shared statistics for the hand goldens
TF, DL, QTF, NT, FC = 3.0, 100.0, 1.0, 50, 200
N, AVGDL, T = 1000, 80.0, 80000


def log2(x):
    return math.log(x) / math.log(2.0)


def test_bm25_golden():
    K = 1.2 * ((1 - 0.75) + 0.75 * DL / AVGDL) + TF
    exp = (TF * 9.0 * QTF / ((8.0 + QTF) * K)) * log2((N - NT + 0.5) / (NT + 0.5))
    assert score_scalar("BM25", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_tf_idf_golden():
    rob = 1.2 * TF / (TF + 1.2 * (1 - 0.75 + 0.75 * DL / AVGDL))
    exp = QTF * rob * log2(N / NT + 1)
    assert score_scalar("TF_IDF", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_dirichlet_golden():
    exp = log2(1 + TF / (2500.0 * (FC / T))) + log2(2500.0 / (DL + 2500.0))
    assert score_scalar("DirichletLM", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_hiemstra_golden():
    exp = log2(1 + (0.15 * TF * T) / (0.85 * FC * DL))
    assert score_scalar("Hiemstra_LM", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_pl2_golden():
    TFn = TF * log2(1 + AVGDL / DL)
    f = FC / N
    exp = (1 / (TFn + 1)) * QTF * (
        TFn * log2(1 / f)
        + f * (1 / math.log(2))
        + 0.5 * log2(2 * math.pi * TFn)
        + TFn * (log2(TFn) - 1 / math.log(2))
    )
    assert score_scalar("PL2", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_inl2_golden():
    TFn = TF * log2(1 + AVGDL / DL)
    exp = TFn * log2((N + 1) / (NT + 0.5)) * QTF / (TFn + 1)
    assert score_scalar("InL2", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_lgd_golden():
    TFn = TF * log2(1 + AVGDL / DL)
    freq = NT / N
    exp = QTF * log2((freq + TFn) / freq)
    assert score_scalar("LGD", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_dph_golden():
    f = TF / DL
    norm = (1 - f) ** 2 / (TF + 1)
    exp = QTF * norm * (
        TF * log2((TF * AVGDL / DL) * (N / FC)) + 0.5 * log2(2 * math.pi * TF * (1 - f))
    )
    assert score_scalar("DPH", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_dlh_golden():
    f = TF / DL
    exp = QTF * (
        TF * log2((TF * AVGDL / DL) * (N / FC))
        + (DL - TF) * log2(1 - f)
        + 0.5 * log2(2 * math.pi * TF * (1 - f))
    ) / (TF + 0.5)
    assert score_scalar("DLH", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_dlh13_golden():
    f = TF / DL
    exp = QTF * (
        TF * log2((TF * AVGDL / DL) * (N / FC))
        + 0.5 * log2(2 * math.pi * TF * (1 - f))
    ) / (TF + 0.5)
    assert score_scalar("DLH13", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_in_expb2_golden():
    TFn = TF * log2(1 + AVGDL / DL)
    NORM = (FC + 1) / (NT * (TFn + 1))
    f = FC / N
    n_exp = N * (1 - math.exp(-f))
    exp = TFn * log2((N + 1) / (n_exp + 0.5)) * QTF * NORM
    assert score_scalar("In_expB2", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


def test_ifb2_golden():
    TFn = TF * log2(1 + AVGDL / DL)
    NORM = (FC + 1) / (NT * (TFn + 1))
    exp = TFn * QTF * log2((N + 1) / (FC + 0.5)) * NORM
    assert score_scalar("IFB2", TF, DL, QTF, NT, FC, N, AVGDL, T) == pytest.approx(exp, rel=1e-12)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("midx"))
    corpus = synth_source_corpus(spark, n_docs=250)
    cfg = IndexConfig()
    store = build_index(spark, corpus, out, cfg, bucket_span=64)
    oracle = OracleIndex(corpus.toPandas()["content"].tolist(), cfg.pipeline)
    return store, oracle


@pytest.mark.parametrize(
    "model",
    sorted(m for m, spec in MODELS.items() if not spec.needs_fields),
)
def test_rank_identity_per_model(spark, engine, model):
    store, oracle = engine
    queries = [
        ("q1", "sym1 sym7 class"),
        ("q2", "sym0 sym2 sym3 return"),
        ("q3", "sym12 sym40 while def"),
    ]
    qcfg = QueryConfig(k=25, model=model)
    got = search(spark, store, queries, qcfg).orderBy("qid", "rank").toPandas()
    by_qid = {qid: grp for qid, grp in got.groupby("qid")}
    nonempty = 0
    for qid, text in queries:
        exp = oracle.search(text, qcfg)
        grp = by_qid.get(qid)
        act = list(zip(grp["docid"], grp["score"])) if grp is not None else []
        assert len(act) == len(exp), f"{model} {qid}"
        nonempty += bool(exp)
        for (gd, gs), (ed, es) in zip(act, exp):
            assert gd == ed, f"{model} {qid}: {gd} != {ed}"
            if not (math.isnan(gs) and math.isnan(es)):
                assert gs == pytest.approx(es, abs=1e-6), f"{model} {qid} {gd}"
    assert nonempty > 0  # at least one query returns results
