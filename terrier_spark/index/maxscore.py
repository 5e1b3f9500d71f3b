"""Index-time exact per-block max-score metadata (generic Maxscore).

The fork's Maxscore prunes with the EXACT per-term maximum score,
computed by a pre-scan over the term's actual postings
(org/terrier/matching/daat/Maxscore.java:60-96) — a bound that is valid
for ANY weighting model, monotone or not, because it never extrapolates
beyond the postings that exist.  This module pays that pre-scan once at
compaction time instead of per query: for a registered list of models it
decodes each (already-being-rewritten) posting block, evaluates every
model's kernel at qtf=1 with the term's collection statistics, and
stores `max over postings of clamp(unit_score, 0)` as a `max_score`
array column aligned with the manifest's `maxscore_models` list.

Query-time use (query/search.py::_block_bounds, read by the search
kernel's block skip): since qtf enters every reference model as a
multiplicative factor with factor(1) == 1 (ModelSpec.qtf_scale), the
per-(query-term, block) upper bound is

    block_ub = max_score[model_idx] * qtf_scale(qtf)

— one multiply, no kernel evaluation, and valid for the non-monotone models
(PL2, DPH, DLH, BB2, DFRee, ...) that the (max_tf, min_dl) bound cannot
cover.  Blocks without the metadata (segments appended after the last
compaction) get a +inf bound, i.e. are never pruned.

Validity guard: the unit scores bake in index-wide statistics (N, avgdl,
num_tokens) and per-term (nt, F).  The manifest records the stats
snapshot (`maxscore_stats`); IndexStore.maxscore_index() refuses to use
the metadata when the live stats have drifted (e.g. incremental appends
since the compaction), so a stale bound can never prune.

Field models (BM25F/PL2F/ML2/MDL2) are scored with the index-time
default field parameters (weights = cs = 1.0, the reference's w.<fi> /
c.<fi> property defaults); the search layer only consumes their stored
maxima when the query runs with those defaults.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from terrier_spark.query.models import get_model

# Registered by default at compaction: every non-monotone scalar model
# (the ones block-max pruning cannot otherwise cover) plus the prunable
# heavy hitters, for which the exact max is strictly tighter than the
# (max_tf, min_dl) kernel bound.
DEFAULT_MAXSCORE_MODELS: tuple = (
    "BM25", "TF_IDF", "DirichletLM", "PL2", "InL2", "DPH", "DLH", "DLH13",
    "BB2", "DFRee", "DFReeKLIM", "DFIC", "DFIZ", "Js_KLs", "XSqrA_M",
)
# Added when the index carries fields (per-field tf/length payloads).
DEFAULT_FIELD_MAXSCORE_MODELS: tuple = ("BM25F", "PL2F", "ML2", "MDL2")


def resolve_maxscore_models(models: Optional[Sequence[str]],
                            nf: int) -> list:
    """The model list a compaction will register: explicit list, or the
    defaults (field defaults only when the index has fields).  Field
    models are dropped when nf == 0 — their kernels need ftf/fln."""
    if models is None:
        models = list(DEFAULT_MAXSCORE_MODELS)
        if nf:
            models += list(DEFAULT_FIELD_MAXSCORE_MODELS)
    out = []
    for name in models:
        spec = get_model(name)  # raises on unknown names, eagerly
        if spec.needs_fields and not nf:
            continue
        out.append(name)
    return out


def with_max_scores(blocks: DataFrame, lexicon: DataFrame,
                    models: Sequence[str], stats: dict,
                    nf: int = 0) -> DataFrame:
    """blocks (BLOCK_SCHEMA rows) -> same rows with the max_score column
    filled for `models`.  One decode pass (mapInPandas, Arrow-batched);
    the lexicon join rides the same term key the blocks are already
    organised by."""
    from terrier_spark.index.builder import (
        BLOCK_COLUMNS,
        BLOCK_SCHEMA,
        decode_blocks,
    )

    models = list(models)
    if not models:
        return blocks
    N = stats["num_docs"]
    avgdl = stats["avg_doclen"]
    T = stats["num_tokens"]
    avg_flens = stats.get("avg_field_lens") or []
    specs = [get_model(m) for m in models]
    needs_any_fields = any(s.needs_fields for s in specs)
    if needs_any_fields and not nf:
        raise ValueError("field models registered on a field-less index")
    ones = [1.0] * nf

    out_cols = BLOCK_COLUMNS

    # Shape note (measured): each Arrow batch is decoded in one
    # decode_blocks call, but the model kernels still run per BLOCK, over
    # the ~1024 postings inside, NOT once over the whole batch.
    # 1024-element arrays keep every kernel intermediate in L1/L2 cache;
    # the concatenated variant (np.repeat nt/tfc + maximum.reduceat over
    # ~2M-element arrays) materializes a 16 MB temporary per numpy op
    # per model and measured 2.4x SLOWER (1.03 s vs 2.51 s for 2000
    # blocks x 15 models on this box).  The loop is the cache-optimal
    # shape, paid once at compaction.
    def block_maxes(tfs, dls, ftf, fln, nt, tfc) -> list:
        vals = []
        with np.errstate(divide="ignore", invalid="ignore"):
            for spec in specs:
                if spec.needs_fields:
                    if ftf is None:
                        vals.append(float("nan"))  # never prunes
                        continue
                    s = spec.kernel(ftf, fln, 1.0, nt, tfc, N, ones, ones,
                                    avg_flens, T)
                else:
                    s = spec.kernel(tfs, dls, 1.0, nt, tfc, N, avgdl, T)
                v = float(np.max(s))
                # clamp at 0 (negative scores are bounded by 0);
                # NaN propagates -> the bound never prunes
                vals.append(v if np.isnan(v) else max(v, 0.0))
        return vals

    def score_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            maxes = [None] * len(pdf)
            # rows with field payloads decode them; rows without score
            # NaN for the field models
            has_f = pdf["ftf"].notna().to_numpy() & needs_any_fields
            for with_f in (True, False):
                rows = np.flatnonzero(has_f == with_f)
                part = pdf.iloc[rows]
                _, tfs, dls, n, _, ftf, fln = decode_blocks(
                    part, nf=nf if with_f else 0)
                at = np.cumsum(n) - n
                for r, a, m, nt, tfc in zip(rows, at, n, part["nt"],
                                            part["tfc"]):
                    maxes[r] = block_maxes(
                        tfs[a:a + m], dls[a:a + m],
                        ftf[a:a + m] if with_f else None,
                        fln[a:a + m] if with_f else None, nt, tfc)
            out = pdf[[c for c in out_cols if c != "max_score"]].copy()
            out["max_score"] = maxes
            yield out[out_cols]

    lex = lexicon.select("term", "nt", F.col("tf").alias("tfc"))
    joined = blocks.drop("max_score").join(lex, "term")
    return joined.mapInPandas(score_blocks, schema=BLOCK_SCHEMA)
