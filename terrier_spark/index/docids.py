"""Deterministic dense docid assignment.

The Spark analog of the reference's Hadoop-indexing docid renumbering:
each map task counts its documents into "side files" and the reducer adds
per-split offsets (org/terrier/structures/indexing/singlepass/hadoop/
Hadoop_BasicSinglePassIndexer.java:430-448,560-592).  Here: a mapInPandas
pass tags every row with (partition_id, local_seq); per-partition counts
are tiny, so the cumulative offsets are computed driver-side and
broadcast-joined back.  docid = offset[pid] + local_seq — dense 0..N-1 in
ingest order (BasicSinglePassIndexer.java:86,372), never
monotonically_increasing_id (which is neither dense nor stable).
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tag_partitions(df: DataFrame) -> DataFrame:
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = f"{fields}, __pid int, __seq long"

    def tag(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        for batch in iterator:
            batch = batch.copy()
            batch["__pid"] = pid
            batch["__seq"] = range(seen, seen + len(batch))
            seen += len(batch)
            yield batch

    return df.mapInPandas(tag, schema=out_schema)


def assign_docids(df: DataFrame, order_by: Optional[Sequence[str]] = None,
                  id_col: str = "docid") -> DataFrame:
    """Add a dense 0..N-1 `id_col` in deterministic ingest order (or in
    `order_by` order — the fork's docid-reordering-for-compression idea,
    org/terrier/applications/InvertedIndexReordering.java:114-140)."""
    if order_by:
        # range partitioning + local sort gives a deterministic global order
        df = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    # pin ONE tagging for the counts job and the join (the input's row
    # order need not survive recomputation).  A local checkpoint, not a
    # persist: a cached plan would be served to any later read of the same
    # files, stale once a rebuilt segment replaces one at the same path;
    # checkpoint blocks are freed with the DataFrame.
    tagged = _tag_partitions(df).localCheckpoint(eager=False)
    counts = (
        tagged.groupBy("__pid").agg(F.count("*").alias("n"))
        .orderBy("__pid").collect()
    )
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["__pid"]] = acc
        acc += row["n"]
    spark = df.sparkSession
    offsets_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "__pid int, __off long"
    )
    out = (
        tagged.join(F.broadcast(offsets_df), "__pid")
        .withColumn(id_col, (F.col("__off") + F.col("__seq")).cast("long"))
        .drop("__pid", "__seq", "__off")
    )
    return out
