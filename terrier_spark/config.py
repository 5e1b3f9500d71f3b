"""Engine configuration.

The reference configures everything through a global properties file
(org/terrier/utility/ApplicationSetup.java) with reflection-based plugin
loading; here the same knobs are plain dataclasses (SURVEY.md §1.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence


# Default stopword list committed to the repo (FIXTURES.md §2) so tests never
# depend on an external stopword-list.txt.  Reference format: one word per
# line (org/terrier/terms/Stopwords.java:118-149).
DEFAULT_STOPWORDS: tuple[str, ...] = (
    "the", "of", "and", "a", "in", "to", "is", "was", "it", "for",
    "with", "as", "be", "on", "not", "he", "this", "are", "or", "his",
    "from", "at", "which", "but", "have", "an", "had", "they", "you",
    "were",
)


@dataclass(frozen=True)
class PipelineConfig:
    """Tokenizer + term-pipeline knobs.

    Defaults mirror the reference:
      * max_term_length = 20   (org/terrier/utility/ApplicationSetup.java:459)
      * max_digits = 4, max_conseq = 3, lowercase
        (org/terrier/indexing/tokenisation/EnglishTokeniser.java:61-74,155-181)
      * default pipeline "Stopwords,PorterStemmer"
        (org/terrier/structures/indexing/Indexer.java:275-279)
    """

    max_term_length: int = 20
    max_digits: int = 4
    max_conseq: int = 3
    lowercase: bool = True
    stopwords: Optional[Sequence[str]] = DEFAULT_STOPWORDS
    stem: bool = True  # PorterStemmer on/off (classic default chain)
    # Stemmer registry name overriding the boolean: one of
    # "porter" (classic, terms/PorterStemmer.java),
    # "weak_porter" (terms/WeakPorterStemmer.java — step 1 only),
    # "trv2_porter" / "trv2_weak_porter" (terms/TRv2PorterStemmer.java,
    #   TRv2WeakPorterStemmer.java — Amati's Terrier-v2 variants),
    # "snowball_en" (terms/EnglishSnowballStemmer.java — Porter2),
    # "none".  None -> derive from `stem`.
    stemmer: Optional[str] = None
    # Tokeniser class (indexing/tokenisation/*Tokeniser.java):
    # "english" ([A-Za-z0-9] runs), "utf" (Unicode letter/digit classes,
    # UTFTokeniser.java), "identity" (whole input as one token,
    # IdentityTokeniser.java).
    tokeniser: str = "english"
    # Explicit term-pipeline chain, the reference's `termpipelines`
    # property (structures/indexing/Indexer.java:275-308): an ordered
    # tuple of stage names replacing the default Stopwords->Stemmer
    # chain.  Accepts reference class names or registry short names:
    # "Stopwords", any STEMMERS key or *Stemmer class name, "NoOp"
    # (terms/NoOpTermPipeline? -- identity), "CropTerm"
    # (terms/CropTerm.java: crop overlong terms to max_term_length
    # instead of dropping them), "DumpTerm" (terms/DumpTerm.java: log
    # and pass through), and "SkipTermPipeline:w1,w2" (terms/
    # SkipTermPipeline.java: the listed terms bypass the rest of the
    # chain unchanged).  None -> the stopwords/stem knobs above.
    stages: Optional[tuple] = None

    def key(self) -> tuple:
        sw = tuple(sorted(self.stopwords)) if self.stopwords else ()
        # stages=() is an EXPLICIT empty chain (identity pipeline), not
        # the default chain: only stages=None may collapse to None here,
        # or the two collide in the make_pipeline cache
        return (self.max_term_length, self.max_digits, self.max_conseq,
                self.lowercase, sw, self.stem, self.stemmer, self.tokeniser,
                tuple(self.stages) if self.stages is not None else None)


# A pipeline that can be mirrored exactly in ANSI SQL (DuckDB oracle): the
# tokenizer validity rules are regex-expressible, stopwords are a literal
# IN-list, and there is no stemmer.  Used by the driver correctness gate.
SQL_SAFE_PIPELINE = PipelineConfig(stem=False)


@dataclass(frozen=True)
class IndexConfig:
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)
    # Posting-block chunk size, as the reference's chunked integer codec
    # (org/terrier/structures/integer/IntegerCodecCompressionConfiguration.java:63,145).
    block_size: int = 1024
    # Assign docids in (sort_docids_by) order instead of ingest order --
    # the Spark-native analog of the fork's docid-reordering experiments
    # (org/terrier/applications/InvertedIndexReordering.java:114-140).
    sort_docids_by: Optional[Sequence[str]] = None
    # Store per-posting position arrays ("blocks",
    # org/terrier/structures/indexing/classical/BlockIndexer.java:84-99):
    # enables index-backed phrase/proximity at ~1-2 bytes/token extra.
    positions: bool = False
    # Ordered (field_name, corpus_column) pairs.  When set, each document
    # is tokenized per field (streams concatenated in this order for
    # positions/doclen, as the reference's FieldTags processing,
    # org/terrier/utility/FieldScore.java:54-86) and postings carry
    # per-field tf + field-length vectors, enabling BM25F and field
    # restriction.  E.g. (("path", "path"), ("content", "content")).
    field_cols: Optional[tuple] = None


@dataclass(frozen=True)
class QueryConfig:
    # weighting model name from terrier_spark.query.models.MODELS (the
    # reference's trec.model property / WeightingModelFactory surface)
    model: str = "BM25"
    # matching.retrieved_set_size default (org/terrier/matching/BaseMatching.java:283-284)
    k: int = 1000
    # Drop query terms whose collection frequency exceeds N
    # (org/terrier/matching/PostingListManager.java:217-219, default on in
    # this fork's version).
    ignore_low_idf: bool = True
    # Block-max pruning on/off: the decode kernel skips a (query, docid
    # bucket) group whose score upper bound is below the query's running
    # k-th best score.  Results are identical either way (bound-safe).
    # The bound is the exact per-block maximum stored at compaction
    # (index/maxscore.py) when it is valid, else an analytic one.
    prune: bool = True
    # Per-field weights / NormalisationB c parameters for BM25F, aligned
    # with the index's field order; None -> all 1.0 (the reference's
    # w.<fi> / c.<fi> property defaults,
    # matching/models/PerFieldNormWeightingModel.java:147-155).
    field_weights: Optional[tuple] = None
    field_c: Optional[tuple] = None

