"""ST8 span twin: per-event span-shaped records for processed CDC events.

Spark translation of the reference's per-event OTel span
(utils/ViewUpdateTracingUtils.kt:23-37: span ``eventstoreCDCEvent`` with
eventCode / transactionId / eventCreationDate / outcome attributes, emitted
per processed event with outcome OK, or ERROR on an error signal —
EcommerceCDCEventDispatcherService.kt:87-91).

A 1000-executor cluster cannot call a tracing SDK per row from the driver;
the Spark-idiomatic twin is a SPAN TABLE: a map-only projection of the
prepared event stream into rows whose column names ARE the reference's OTel
attribute keys, written as a side output (its own ``writeStream`` against
the same source, checkpointed independently — the standard side-output
idiom). An OTel collector tails the table; attribute parity is asserted
field-for-field in tests/test_listeners.py against the Kotlin constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# -- names mirrored from ViewUpdateTracingUtils.kt:12-21 --------------------
SPAN_NAME = "eventstoreCDCEvent"
ATTR_EVENT_CODE = "ecommerce.cdc.processedEvent.eventCode"
ATTR_TRANSACTION_ID = "ecommerce.cdc.processedEvent.transactionId"
ATTR_CREATION_DATE = "ecommerce.cdc.processedEvent.eventCreationDate"
ATTR_OUTCOME = "ecommerce.cdc.processedEvent.outcome"

# outcome values, EcommerceCDCEventDispatcherService.kt:89
OUTCOME_OK = "OK"
OUTCOME_ERROR = "ERROR"

SPAN_COLUMNS = [
    "span_name",
    ATTR_EVENT_CODE,
    ATTR_TRANSACTION_ID,
    ATTR_CREATION_DATE,
    ATTR_OUTCOME,
]


def event_spans(prepared: DataFrame, error_ids: DataFrame | None = None) -> DataFrame:
    """One span row per processed event (map-only; works on the streaming
    ``prepare_events`` output and on a micro-batch DataFrame alike).

    ``error_ids`` — an optional (id) DataFrame of events whose downstream
    processing failed (the reference's ST4 poison-pill path) —
    flips those events' outcome to ERROR, the twin of the reference's
    ON_ERROR signal branch. The join is a broadcast against a tiny error
    set; everything else never shuffles.
    """
    df = prepared
    if error_ids is not None:
        err = F.broadcast(
            error_ids.select(F.col("id").alias("_err_id")).distinct()
        )
        df = df.join(err, df["id"] == err["_err_id"], "left")
        outcome = F.when(
            F.col("_err_id").isNotNull(), F.lit(OUTCOME_ERROR)
        ).otherwise(F.lit(OUTCOME_OK))
    else:
        outcome = F.lit(OUTCOME_OK)
    return df.select(
        F.lit(SPAN_NAME).alias("span_name"),
        F.col("eventCode").alias(ATTR_EVENT_CODE),
        F.col("transactionId").alias(ATTR_TRANSACTION_ID),
        F.col("creationDate").alias(ATTR_CREATION_DATE),
        outcome.alias(ATTR_OUTCOME),
    )


def start_span_stream(
    prepared_stream: DataFrame, span_dir: str, checkpoint_dir: str
):
    """Attach the span table as a side output of the event stream (append
    mode, parquet — an OTel collector or downstream job tails it)."""
    return (
        event_spans(prepared_stream)
        .writeStream.format("parquet")
        .option("path", span_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
