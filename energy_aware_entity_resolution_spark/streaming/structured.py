"""Structured Streaming surface (SURVEY.md §2.10).

The reference's streaming entry is a Kafka consumer with count windows
(kafkaconsumer.py:404-524). The production-shaped Spark equivalent:

    readStream (kafka | files) → parse → foreachBatch(incremental update)

Count-based windows aren't native, so each micro-batch plays the role
of one window (W1); `Trigger.AvailableNow` gives the reference's
idle-timeout finalization (W3: drain everything, then stop).

`stream_transcripts_demo` drives the whole loop from a parquet
directory source so tests exercise the real streaming machinery
(offsets, micro-batch planning, foreachBatch) without a broker. For
Kafka, swap the reader for `spark.readStream.format("kafka")` +
`from_json` — same downstream code (see `kafka_reader` below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from energy_aware_entity_resolution_spark.config import PipelineConfig

TRANSCRIPT_STRUCT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def file_reader(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Parquet-directory stream: each file (or group) = one micro-batch
    = one count-window analog."""
    return (
        spark.readStream.schema(TRANSCRIPT_STRUCT)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def parse_kafka_value(raw: DataFrame) -> DataFrame:
    """Decode Kafka-shaped rows (binary ``value``) into transcript rows
    (reference kafkaconsumer.py:448 json.loads's flat records). Split
    out from kafka_reader so the parse contract is testable without
    the connector jar: any DataFrame with a binary/string ``value``
    column — including a static fixture — goes through the exact
    expression the streaming source uses. Malformed JSON yields NULL
    fields (PERMISSIVE), never a poison-pill batch failure."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), TRANSCRIPT_STRUCT).alias("r")
    ).select("r.*")


def kafka_reader(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """Kafka JSON source (reference kafkaconsumer.py:404-492 consumes
    JSON records). Requires the kafka connector jar at runtime."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load()
    )
    return parse_kafka_value(raw)


ASSEMBLED_STRUCT = "conv_id string, n_turns int, doc string"
_ASSEMBLY_STATE = "turn_idx array<int>, text array<string>"


def stream_assemble_conversations(
    stream: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    per-conversation turn accumulation. Each micro-batch merges the
    arriving turns into the conversation's keyed state (sorted by
    turn_idx, replay-deduped) and emits the UPDATED assembly — the
    streaming analog of assemble_conversations and of the reference's
    evolving-conversation refit (kafkaconsumer.py:511-560 re-processes
    a record's accumulated window content each round).

    State is per-key and Spark-managed (checkpointed with the query);
    out-of-order arrival is handled by the sort, duplicate turn
    replays by first-wins dedup on turn_idx. Output mode: update.

    idle_timeout_ms bounds total state at scale (10^12 turns of
    long-dead conversations must not live in the state store): a
    conversation receiving no turns for that long is finalized — its
    state evicted (W3 idle-finalization; the last update-mode emission
    already carried its final assembly). None keeps state forever
    (test/demo scale).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if idle_timeout_ms is not None and state.hasTimedOut:
            state.remove()  # finalized: last emission was the full doc
            return
        tis: list[int] = []
        txts: list[str] = []
        if state.exists:
            old_tis, old_txts = state.get
            tis, txts = list(old_tis), list(old_txts)
        for pdf in pdfs:
            tis += [int(x) for x in pdf["turn_idx"]]
            txts += ["" if t is None else str(t) for t in pdf["text"]]
        seen: dict[int, str] = {}
        for ti, tx in zip(tis, txts):
            if ti not in seen:  # first-wins on replayed turn_idx
                seen[ti] = tx
        order = sorted(seen)
        state.update(([int(i) for i in order], [seen[i] for i in order]))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [len(order)],
                "doc": [" ".join(seen[i] for i in order)],
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy("conv_id").applyInPandasWithState(
        update, ASSEMBLED_STRUCT, _ASSEMBLY_STATE, "update", timeout
    )


def make_process_batch(
    cfg: PipelineConfig,
    state_dir: str,
    run_scope: str | None = None,
):
    """Build the foreachBatch callable (exposed so tests can drive
    replay semantics directly): one micro-batch = one incremental
    round, the SAME shared step (and state layout) as
    streaming.incremental — per-batch feature/match deltas, per-round
    scored snapshots (W5), component remap records; per-batch writes
    proportional to the batch. Global decision configs (ratio/mutual)
    re-decide over accumulated scored state, exactly like the chunked
    loop.

    Idempotent under foreachBatch's at-least-once replay: a re-delivered
    epoch (crash between the commit marker and the checkpoint commit)
    is detected by its marker text and skipped — without this, the
    replay would re-ingest the same records under a fresh batch id and
    the duplicated scored pairs would make a global-mode ratio test
    revoke genuine matches (each pair becomes its own runner-up).

    run_scope scopes the replay guard to ONE checkpointed query: epoch
    ids restart at 0 for every fresh checkpoint location, so a marker
    keyed on the epoch id alone would make a NEW query over the same
    state_dir silently skip its first batches (they collide with old
    markers). Pass the query's checkpoint_dir (stream_incremental_er
    does) — the marker text is then ``md5(run_scope)[:12]:epoch_id``,
    unique per (checkpoint, epoch). None keeps the bare epoch for
    single-query callers (tests driving the callable directly). A
    scoped query never matches an unscoped query's markers, nor the
    reverse."""
    import hashlib

    from energy_aware_entity_resolution_spark.streaming.incremental import (
        process_one_batch,
    )
    from energy_aware_entity_resolution_spark.streaming.state import (
        epoch_already_processed,
        last_complete_batch,
    )

    scope = (
        hashlib.md5(run_scope.encode()).hexdigest()[:12] + ":"
        if run_scope
        else ""
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        marker = f"{scope}{epoch_id}"
        if epoch_already_processed(state_dir, marker):
            return  # replayed epoch of THIS query: already committed
        b = last_complete_batch(state_dir) + 1
        process_one_batch(
            batch_df.sparkSession, batch_df, cfg, state_dir, b,
            marker_text=marker,
        )

    return process_batch


def stream_incremental_er(
    stream: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    checkpoint_dir: str,
):
    """foreachBatch wiring: every micro-batch of turns runs one
    incremental ER round against the accumulated state (W4). Returns
    the StreamingQuery; callers stop it or use Trigger.AvailableNow.
    """
    return (
        stream.writeStream.foreachBatch(
            make_process_batch(cfg, state_dir, run_scope=checkpoint_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
