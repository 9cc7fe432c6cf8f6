"""Custom stateful streaming operator: streaming near-dup flagging with
``applyInPandasWithState`` (SURVEY.md §2.9).

State per MinHash-LSH band bucket: the first-seen doc id. Every later
arrival in the bucket is flagged with that id; a bucket idle past its
processing-time TTL is evicted, so state stays bounded by the recent
traffic.

Termination: with ``ProcessingTimeTimeout`` state, Spark asks for a
no-data micro-batch after every batch, so an ``availableNow`` run ends
only when ``spark.sql.streaming.noDataMicroBatches.enabled=false`` (as
``tests/conftest.no_data_batches_off`` sets it); otherwise the query
stays active after its input is drained. With no-data batches off,
timeouts fire only in data batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)


# ---------------------------------------------------------------------------
# streaming near-dup: one MinHash-LSH band table, first-seen-wins
# ---------------------------------------------------------------------------
NEAR_DUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("band_key", LongType()),
        StructField("first_id", StringType()),
        StructField("is_first", IntegerType()),
    ]
)

NEAR_DUP_STATE_SCHEMA = StructType([StructField("first_id", StringType())])


def make_near_dup_fn(state_ttl_minutes: int = 120):
    ttl_ms = max(state_ttl_minutes * 60 * 1000, 1000)

    def near_dup_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (band_key,) = key
        if state.hasTimedOut:
            # bucket idle past the TTL: evict — state stays bounded by
            # the recent-traffic working set, like the watermark in
            # dedup_stream (recrawl duplicates cluster in time)
            state.remove()
            return
        (first_id,) = state.get if state.exists else (None,)
        out = []
        for pdf in pdfs:
            # deterministic within a micro-batch: event time then id
            for r in pdf.sort_values(["ts_us", "doc_id"]).itertuples(index=False):
                if first_id is None:
                    first_id = r.doc_id
                    out.append(
                        {"doc_id": r.doc_id, "band_key": band_key,
                         "first_id": r.doc_id, "is_first": 1}
                    )
                else:
                    out.append(
                        {"doc_id": r.doc_id, "band_key": band_key,
                         "first_id": first_id, "is_first": 0}
                    )
        state.update((first_id,))
        state.setTimeoutDuration(ttl_ms)
        if out:
            yield pd.DataFrame(out)

    return near_dup_fn


def near_dup_stream(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
    k: int = 4,
    state_ttl_minutes: int = 120,
) -> DataFrame:
    """Streaming near-dup via ONE MinHash-LSH band table: each page's
    k minhashes (native expressions, computed map-side) concatenate
    into a single 64-bit band key; pages colliding on the key are
    near-dup candidates, and the stateful operator marks every
    non-first arrival with the bucket's first-seen id.

    Semantics and limits, stated honestly:
    * One band of ``k`` minhashes fires with probability s^k for
      true Jaccard similarity s (s=0.9, k=4 → 0.66). Higher recall =
      T parallel tables (this operator instantiated with T disjoint
      permutation-seed ranges; union the outputs), the standard LSH
      schedule 1-(1-s^k)^T. Exact duplicates (s=1) always collide.
    * Collisions are CANDIDATES — the batch operators
      (operators/dedup.ppjoin_pairs / simhash_near_dup) are the exact
      verifiers; a streaming ingest typically drops exact-band hits
      and defers gray-zone pairs to the nightly batch pass.

    Scale shape: the shuffle keys on the 8-byte band key; state per
    bucket is ONE id string (never text or signatures), evicted after
    ``state_ttl_minutes`` idle — memory is O(active buckets in the
    TTL window), the streaming analogue of dedup_stream's watermark
    bound.
    """
    from pyspark.sql import functions as F

    from textcleaning_spark.operators.dedup import minhash_signature

    keyed = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
    )
    # ts passes THROUGH the signature projection — a join back onto the
    # source would be a stream-stream join, which is not what this is
    sigs = minhash_signature(keyed, "doc_id", "text", k=k, keep_cols=("ts_us",))
    banded = sigs.withColumn(
        "band_key",
        F.xxhash64(F.concat_ws("|", *[F.col(f"sig_{i}") for i in range(k)])),
    ).select("doc_id", "ts_us", "band_key")
    return banded.groupBy("band_key").applyInPandasWithState(
        make_near_dup_fn(state_ttl_minutes),
        outputStructType=NEAR_DUP_OUTPUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
