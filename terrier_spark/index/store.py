"""IndexStore — handle over a persisted index directory.

Layout (all parquet + a JSON manifest; Iceberg-shaped: each table is an
independent dataset and the manifest plays the catalog role the
reference's .properties file plays, org/terrier/structures/
CollectionStatistics.java:40-43):

    out_dir/
      segments/seg_*/     one committed segment per build partition,
                          merge input or stream micro-batch partition:
        docs.parquet      docid, docno, doclen
        meta.parquet      docid, docno, repo, path, commit, lang, sha256,
                          doclen[, field_lens]
        postings.parquet  term, bucket, block_id, n, first_docid,
                          last_docid, max_tf, min_dl, tf_sum, block,
                          pos, ftf, fln, per-field block metadata,
                          max_score (builder.BLOCK_SCHEMA)
        _SUCCESS
      postings_compact/   optional: the postings of the segments listed in
                          manifest["compacted_segments"], re-blocked by
                          resumable.compact_postings
      lexicon/            term, termid, nt, tf, max_tf, min_dl
                          [, field_tf, max_ftf_f, min_fln_f]
      checkpoints/        build plan and per-partition lineage
      manifest.json       layout "segmented" or "segmented_compacted"
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


LAYOUTS = ("segmented", "segmented_compacted")


def where_term_in(df: DataFrame, terms) -> DataFrame:
    """`df` filtered to `term IN (terms)`: the same In predicate as
    `F.col("term").isin(terms)`, which Spark pushes into a parquet scan,
    built with a fixed number of py4j calls.  isin pays a few round
    trips PER literal (seconds of plan construction for a few thousand
    terms); here the terms cross as one string, joined on a character
    none of them contains, and are split back into a java.util.List for
    Column.isInCollection."""
    # sorted, so an empty term comes first: the split keeps a leading
    # empty string but drops trailing ones
    terms = sorted({str(t) for t in terms})
    if not terms:
        return df.filter(F.col("term").isin([]))
    used = set().union(*terms)
    sep = next(c for c in map(chr, range(1, 0x110000)) if c not in used)
    split = df.sparkSession.sparkContext._jvm.java.util.regex.Pattern.compile(
        f"\\Q{sep}\\E")
    values = split.splitAsStream(sep.join(terms)).toList()
    return df.filter(Column(df._jdf.col("term").isInCollection(values)))


def committed_segments(path: str) -> list[str]:
    """The committed segments under path/segments, sorted: those with a
    _SUCCESS marker, but not a `<name>.tmp-<hex>` directory a segment
    commit stages in (a task killed mid-commit leaves one behind)."""
    seg_root = os.path.join(path, "segments")
    if not os.path.isdir(seg_root):
        return []
    return sorted(
        d for d in os.listdir(seg_root)
        if ".tmp-" not in d
        and os.path.exists(os.path.join(seg_root, d, "_SUCCESS"))
    )


def data_files(directory: str) -> list[str]:
    """The data files of a directory Spark wrote, sorted: Spark's own
    listing rule skips `_SUCCESS`, `.crc` and every other `_`/`.` file."""
    return [os.path.join(directory, f) for f in sorted(os.listdir(directory))
            if not f.startswith(("_", "."))]


def segment_files(path: str, table: str) -> list[str]:
    """The file of one table in every committed segment, by explicit path
    (a directory glob would also match staging directories)."""
    seg_root = os.path.join(path, "segments")
    return [os.path.join(seg_root, d, f"{table}.parquet")
            for d in committed_segments(path)]


def read_segments(spark: SparkSession, path: str, table: str) -> DataFrame:
    """One table of every committed segment (segment_files)."""
    # no committed segment: Spark raises PATH_NOT_FOUND on a path that
    # does not exist, as it did on a glob that matched nothing
    return spark.read.parquet(*(segment_files(path, table) or [
        os.path.join(path, "segments", f"{table}.parquet")]))


class PostingDirectory:
    """The live block rows held on the driver, the COLUMNS a search's
    kernel input and block bounds read, stably sorted by term, so each
    term's rows are one contiguous range in posting_files() order, plus
    a term -> row-range directory."""

    COLUMNS = ["term", "bucket", "n", "block", "ftf", "fln", "max_tf",
               "min_dl", "max_ftf_f", "min_fln_f", "max_score"]

    def __init__(self, files: list[str]):
        # builder imports this module
        from terrier_spark.index.builder import POSTINGS_ARROW_SCHEMA

        table = ds.dataset(files, schema=POSTINGS_ARROW_SCHEMA,
                           format="parquet").to_table(columns=self.COLUMNS)
        self.table = table.sort_by("term").combine_chunks()
        terms = self.table["term"].to_numpy(zero_copy_only=False)
        new = np.ones(len(terms), dtype=bool)
        new[1:] = terms[1:] != terms[:-1]
        starts = np.flatnonzero(new)
        self.terms = pd.Index(terms[starts])
        self.bounds = np.append(starts, len(terms))

    def take(self, terms, columns) -> pa.Table:
        """The `columns` of the block rows of `terms`, term by term in
        term order."""
        at = self.terms.get_indexer(pd.unique(pd.Series(terms, dtype=object)))
        at = np.sort(at[at >= 0])
        starts = self.bounds[at]
        sizes = self.bounds[at + 1] - starts
        out_starts = np.cumsum(sizes) - sizes
        rows = np.arange(sizes.sum()) + np.repeat(starts - out_starts, sizes)
        return self.table.select(columns).take(rows)


class IndexStore:
    # Lexicons up to this many terms are read once, with pyarrow, and
    # looked up on the driver; larger ones are scanned per lookup.
    LEXICON_CACHE_MAX_TERMS = 200_000
    # Posting files up to this many bytes on disk are held on the driver
    # (PostingDirectory) to answer small searches, and the documents'
    # meta (driver_meta, for with_meta) when posting and meta files
    # together fit.  Resident the postings take about 2.3x their size on
    # disk (11.77 MB for the 5.05 MB of the perfbench fixture), so about
    # 150 MB at this budget; the meta about its size on disk (1.44 MB,
    # 88 B per document, for 1.51 MB).
    DRIVER_POSTINGS_MAX_BYTES = 64 << 20

    def __init__(self, path: str):
        self.path = path
        self._load()
        # the build_index run that returned this handle: its timing and
        # partitions built/cached (None when opened from disk)
        self.build_metrics = None

    def _load(self) -> None:
        """Read the manifest and empty the driver-side caches."""
        path = self.path
        self._fingerprint = self._segment_fingerprint()
        with open(os.path.join(path, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        if self.layout not in LAYOUTS:
            raise ValueError(
                f"{path}: index layout {self.layout!r} is not supported "
                f"(expected one of {LAYOUTS}); rebuild it with build_index"
            )
        if (self.layout == "segmented_compacted"
                and "compacted_segments" not in self.manifest):
            raise ValueError(
                f"{path}: a segmented_compacted manifest must list its "
                "compacted_segments; rebuild it with build_index"
            )
        # driver-side caches, valid while the fingerprint holds: repeated
        # searches against the same store skip the lexicon read and the
        # posting reads (the reference keeps its lexicon memory-mapped
        # and its posting files in memory for the same reason)
        self._lexicon_cols = None
        self._lexicon_pdf = None
        self._directory = None  # a PostingDirectory, or False: too large
        self._driver_meta = None  # a pyarrow Table, or False: too large
        self._postings_df = None
        self._postings_app = None

    def refresh(self) -> None:
        """Re-read the manifest and empty the caches when the index on
        disk changed since they were filled: a segment appended, or the
        manifest rewritten by a compaction or an in-place rebuild."""
        if self._segment_fingerprint() != self._fingerprint:
            self._load()

    @property
    def stats(self) -> dict:
        return self.manifest["stats"]

    @property
    def bucket_span(self) -> int:
        return self.manifest["bucket_span"]

    @property
    def block_size(self) -> int:
        return self.manifest.get("block_size", 1024)

    def maxscore_index(self, model: str):
        """1-based position of `model` in the stored per-block max_score
        arrays (for element_at), or None when the metadata is absent,
        does not cover the model, or is STALE — the stats snapshot taken
        at compaction time no longer matches the live collection stats
        (segments appended since), in which case the unit-score maxima
        are no longer valid bounds and must not prune."""
        models = self.manifest.get("maxscore_models") or []
        if model not in models:
            return None
        snap = self.manifest.get("maxscore_stats") or {}
        if (
            snap.get("num_docs") != self.stats.get("num_docs")
            or snap.get("num_tokens") != self.stats.get("num_tokens")
        ):
            return None
        return models.index(model) + 1

    @property
    def layout(self) -> str:
        return self.manifest.get("layout")

    def segment_names(self) -> list[str]:
        return committed_segments(self.path)

    def docs(self, spark: SparkSession) -> DataFrame:
        return read_segments(spark, self.path, "docs")

    def meta(self, spark: SparkSession) -> DataFrame:
        return read_segments(spark, self.path, "meta")

    def lexicon(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.path}/lexicon")

    def _lexicon_columns(self) -> list[str]:
        """The lexicon columns a lookup returns, read from the lexicon
        files' schema once per load."""
        if self._lexicon_cols is None:
            cols = ["term", "nt", "tf", "max_tf", "min_dl"]
            if self.stats.get("fields"):
                # field indexes carry per-term per-field collection stats
                # (FieldEntryStatistics analog) when built by this version
                names = ds.dataset(data_files(f"{self.path}/lexicon"),
                                   format="parquet").schema.names
                cols += [c for c in ("field_tf", "max_ftf_f", "min_fln_f")
                         if c in names]
            self._lexicon_cols = cols
        return self._lexicon_cols

    def lexicon_lookup(self, spark: SparkSession, terms):
        """Lexicon rows for `terms` as a pandas frame.  Small lexicons are
        read once with pyarrow and served driver-side afterwards (no Spark
        job); large ones fall back to a term-pruned parquet scan."""
        self.refresh()
        cols = self._lexicon_columns()
        if self._lexicon_pdf is None and (
            self.stats.get("num_terms", 1 << 60) <= self.LEXICON_CACHE_MAX_TERMS
        ):
            self._lexicon_pdf = (
                ds.dataset(data_files(f"{self.path}/lexicon"),
                           format="parquet")
                .to_table(columns=cols).to_pandas()
                .set_index("term", drop=False)
            )
        if self._lexicon_pdf is not None:
            at = self._lexicon_pdf.index.get_indexer(
                pd.unique(pd.Series(terms, dtype=object)))
            return self._lexicon_pdf.iloc[at[at >= 0]].reset_index(drop=True)
        return (
            where_term_in(self.lexicon(spark), terms)
            .select(*cols)
            .toPandas()
        )

    def driver_blocks(self, terms, columns):
        """The `columns` of the block rows of `terms` as a pyarrow Table,
        term by term in term order, each term's rows in posting_files()
        order, from the driver-resident PostingDirectory built on the
        first call; None when the live posting files hold more than
        DRIVER_POSTINGS_MAX_BYTES on disk."""
        self.refresh()
        if self._directory is None:
            files = self.posting_files()
            self._directory = (sum(map(os.path.getsize, files))
                               <= self.DRIVER_POSTINGS_MAX_BYTES
                               and PostingDirectory(files))
        if not self._directory:
            return None
        return self._directory.take(terms, columns)

    def driver_meta(self):
        """(docid, docno, sha256) of every document as a pyarrow Table,
        read on the first call and held beside the posting directory;
        None when the live posting files and the meta files together
        hold more than DRIVER_POSTINGS_MAX_BYTES on disk."""
        self.refresh()
        if self._driver_meta is None:
            files = segment_files(self.path, "meta")
            fits = (sum(map(os.path.getsize, self.posting_files() + files))
                    <= self.DRIVER_POSTINGS_MAX_BYTES)
            self._driver_meta = fits and ds.dataset(
                files, format="parquet",
            ).to_table(columns=["docid", "docno", "sha256"])
        return None if self._driver_meta is False else self._driver_meta

    def postings(self, spark: SparkSession) -> DataFrame:
        # Memoized per session and load: building the reader costs ~90ms
        # of py4j/file-listing round trips per call, which dominates
        # interactive single-query latency.  refresh() re-lists the
        # segment directory (cheap, driver-local), so an incremental index
        # that appended segments since the last call gets a fresh plan
        # instead of a stale one.  Keyed on applicationId, not id(spark):
        # a stopped session's object id can be recycled by a new
        # SparkSession, which would hand out a DataFrame bound to a dead
        # JVM session.
        self.refresh()
        app = spark.sparkContext.applicationId
        if self._postings_df is None or self._postings_app != app:
            self._postings_df = self._postings_uncached(spark)
            self._postings_app = app
        return self._postings_df

    def postings_for(self, spark: SparkSession, terms) -> DataFrame:
        """The posting blocks of `terms` only: the postings scan with the
        term filter pushed into parquet (where_term_in)."""
        return where_term_in(self.postings(spark), terms)

    def _segment_fingerprint(self) -> tuple:
        try:  # catches in-place rebuilds/compactions on a reused object
            mtime = os.stat(os.path.join(self.path, "manifest.json")).st_mtime_ns
        except OSError:
            mtime = 0
        seg_root = os.path.join(self.path, "segments")
        if not os.path.isdir(seg_root):
            return (mtime,)
        return (mtime, *sorted(os.listdir(seg_root)))

    def posting_files(self) -> list[str]:
        """Every parquet file of the live postings, the files both search
        paths read: each committed segment's postings.parquet or, once
        compacted, the postings_compact part files plus the postings of
        the segments appended after the recorded compaction."""
        segs = self.segment_names()
        files = []
        if self.layout == "segmented_compacted":
            files = data_files(os.path.join(self.path, "postings_compact"))
            covered = set(self.manifest["compacted_segments"])
            segs = [d for d in segs if d not in covered]
        seg_root = os.path.join(self.path, "segments")
        return files + [os.path.join(seg_root, d, "postings.parquet")
                        for d in segs]

    def _postings_uncached(self, spark: SparkSession) -> DataFrame:
        files = self.posting_files()
        if not files:
            # Spark raises PATH_NOT_FOUND on a path that does not exist
            files = [os.path.join(self.path, "segments", "postings.parquet")]
        return spark.read.parquet(*files)

    def pipeline_config(self):
        from terrier_spark.config import PipelineConfig

        p = dict(self.manifest["pipeline"])
        p["stopwords"] = tuple(p.get("stopwords") or ())
        if p.get("stages") is not None:
            p["stages"] = tuple(p["stages"])
        return PipelineConfig(**p)
