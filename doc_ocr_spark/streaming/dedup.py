"""Streaming URL dedup — custom stateful operator.

Incremental crawl semantics: a url already extracted in ANY earlier
micro-batch must not be re-extracted.  State = one flag per url key in
the state store; first arrival wins, duplicates (within or across
batches) are dropped.  At corpus scale this is the streaming twin of
the batch job's resume anti-join — state is sharded by the group key
exactly like the batch bucket exchange.

Implementation note: Spark 4.x's successor API
(``transformWithStateInPandas``) requires the protobuf-based streaming
python runner, which is not importable in this environment
(``ImportError: cannot import name 'descriptor' from google.protobuf``),
so this uses ``applyInPandasWithState`` — same state-store semantics,
same sharding.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from doc_ocr_spark.sources.corpus import PAGES_SCHEMA

_OUT_SCHEMA = "url STRING, n_bytes BIGINT"
_STATE_SCHEMA = "seen BOOLEAN"


def _dedup_group(key, pdf_iter, state: GroupState):
    """Emit one row per key ever; drop everything afterwards.

    Within a micro-batch the representative is DETERMINISTIC: the row
    with min (warc_ts, n_bytes) across all chunks — chunk arrival order
    is shuffle-dependent, so 'first row of the first chunk' would make
    n_bytes flap across reruns when duplicate urls carry different html.
    Across batches, first-batch-wins is deterministic under availableNow
    (trigger boundaries are file-ordered)."""
    if state.exists:
        return
    best = None
    for pdf in pdf_iter:
        for ts, nb in zip(pdf["warc_ts"], pdf["n_bytes"]):
            cand = (ts, int(nb))
            if best is None or cand < best:
                best = cand
    if best is not None:
        state.update((True,))
        yield pd.DataFrame({"url": [key[0]], "n_bytes": [best[1]]})


def streaming_dedup_urls(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "stream_url_dedup",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the dedup stream over all available files; returns the memory
    sink with exactly one row per distinct url ever seen."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir).selectExpr(
        "url", "warc_ts", "CAST(length(html) AS BIGINT) AS n_bytes"
    )
    deduped = pages.groupBy("url").applyInPandasWithState(
        _dedup_group,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
