"""The streaming rule-evaluation pipeline.

readStream (parquet dir of turns; swap for Iceberg/Kafka source when
jars exist — same plan) → envelope → compiled ruleset projection →
exactly-once sink. This is the Spark replacement for the reference's
coordinator→worker→rules-sink loop (ref: worker/sinks/sink/
rules_sink.py:137-174, SURVEY.md §3.1).

Admission control: ``maxFilesPerTrigger`` plays the coordinator
priority queue's backpressure role (ref: osprey_coordinator/src/
priority_queue.rs) — bounded micro-batches instead of ack/nack.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compiler.compile import CompiledRuleset
from ..turns import with_envelope
from .sink import ExactlyOnceParquetSink, MultiSink

TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


class StreamingRuleEngine:
    def __init__(
        self,
        spark: SparkSession,
        ruleset: CompiledRuleset,
        input_dir: str,
        output_dir: str,
        checkpoint_dir: Optional[str] = None,
        schema: T.StructType = TURNS_SCHEMA,
        # default passthrough deliberately excludes `role`/`text`: the
        # usual rulesets extract `Role`/`TurnText` and a passthrough
        # that case-insensitively collides with an extracted feature is
        # rejected by apply() (ambiguous under default Spark sessions)
        passthrough: tuple[str, ...] = ("conv_id", "turn_idx", "ts"),
        max_files_per_trigger: Optional[int] = None,
        envelope_fn: Callable[[DataFrame], DataFrame] = with_envelope,
        n_buckets: int = 32,
        repartition_buckets: bool = True,
        salt_span: Optional[int] = None,
        tee: Optional[dict] = None,
        tee_console: bool = False,
        source_format: str = "parquet",
        source_options: Optional[dict] = None,
        sample_config: Optional[dict] = None,
        labels_df: Optional[DataFrame] = None,
        dedup_ids: Optional[tuple[str, ...]] = None,
        dedup_watermark: str = "10 minutes",
        partition_hour: bool = False,
        observe_dq: bool = False,
    ):
        """``tee``: multi-target fan-out (ref: output_sink.py:46-89) —
        a dict name -> (transform_fn, sink_kwargs) handed to MultiSink;
        every micro-batch then lands in N tables under one shared
        commit log. When None, the single exactly-once results sink."""
        self.spark = spark
        self.ruleset = ruleset
        self.input_dir = input_dir
        self.schema = schema
        self.passthrough = list(passthrough)
        self.max_files_per_trigger = max_files_per_trigger
        self.envelope_fn = envelope_fn
        self.checkpoint_dir = checkpoint_dir or os.path.join(output_dir, "_checkpoint")
        self.source_format = source_format
        self.source_options = dict(source_options or {})
        # per-action-name sampling ahead of rule evaluation
        # (ref: rules_sink.py:47-70; deterministic md5 roll — a
        # resumed/replayed micro-batch drops the same events)
        self.sample_config = sample_config
        # label snapshot for HasLabel rulesets (stream-static
        # broadcast join; refresh by restarting from checkpoint)
        self.labels_df = labels_df
        # ingest dedup for at-least-once upstreams (Kafka redelivery,
        # firehose replays): dropDuplicatesWithinWatermark on the
        # natural key keeps ONE copy of each event per watermark
        # horizon in the state store — upstream effectively-once to
        # match the sink's exactly-once (the reference relies on its
        # queue's ack semantics instead, input_stream.py:413-444)
        self.dedup_ids = list(dedup_ids) if dedup_ids else None
        self.dedup_watermark = dedup_watermark
        # per-micro-batch ingest-quality counters riding the existing
        # pass via observe() (operators/dq.py) — surfaced in every
        # progress event's observedMetrics and recorded by
        # JsonMetricsListener
        self.observe_dq = observe_dq
        # north rule: sink "partitioned by hash(conv_id) and ts-hour" —
        # the hash buckets are always on; this adds the event-time-hour
        # partition column so time-range reads prune at the directory
        # level (Iceberg: an hours(ts) transform beside bucket(N, conv_id))
        self.partition_hour = partition_hour
        # state-bucket checkpoint stability (streaming/buckets.py): the
        # bucket id is the state-store key, so resuming a checkpoint
        # with a different resolved count would strand every key's
        # state in its old bucket. Record the layout on first run and
        # fail LOUDLY on mismatch instead of silently losing state;
        # transform() passes this one resolution to apply(), so no op
        # re-resolves the count at plan time.
        from .buckets import record_layout, state_bucket_count

        self.state_layout = record_layout(self.checkpoint_dir)
        recorded, current = self.state_layout.n, state_bucket_count()
        if recorded != current:
            raise ValueError(
                f"checkpoint {self.checkpoint_dir} was created with "
                f"{recorded} state buckets but this session resolves "
                f"{current} (cores or env changed); set "
                f"OSPREY_WC_STATE_BUCKETS={recorded} to resume safely"
            )
        if tee is not None:
            self.sink = MultiSink(output_dir, tee, console=tee_console)
        else:
            self.sink = ExactlyOnceParquetSink(
                output_dir,
                partition_by=["ts_hour"] if partition_hour else (),
                n_buckets=n_buckets,
                bucket_col="conv_id",
                repartition_buckets=repartition_buckets,
                salt_span=salt_span,
            )

    def source(self) -> DataFrame:
        if self.source_format in ("kafka", "kafka_file"):
            # ref: input_stream.py:413-444 KafkaInputStream. input_dir
            # is unused; source_options carries bootstrap/subscribe
            # (see streaming.kafka.kafka_source_options). "kafka"
            # requires the spark-sql-kafka connector jars; "kafka_file"
            # is the wire-compatible Python data source
            # (streaming.kafka_file — register_kafka_file first), same
            # decode plan, executes in this container.
            from .kafka import kafka_reader

            return kafka_reader(
                self.spark,
                self.schema,
                self.source_options,
                fmt=self.source_format,
            )
        from ..sources import read_turns

        opts = dict(self.source_options)
        if self.max_files_per_trigger:
            opts["maxFilesPerTrigger"] = str(self.max_files_per_trigger)
        return read_turns(
            self.spark,
            self.input_dir,
            fmt=self.source_format,
            streaming=True,
            schema=self.schema,
            **opts,
        )

    def transform(self, stream: DataFrame) -> DataFrame:
        if self.observe_dq:
            from ..operators.dq import dq_observe_exprs

            stream = stream.observe("dq", *dq_observe_exprs())
        if self.dedup_ids:
            stream = stream.withWatermark("ts", self.dedup_watermark)
            stream = stream.dropDuplicatesWithinWatermark(self.dedup_ids)
        env = self.envelope_fn(stream)
        out = self.ruleset.apply(
            env,
            passthrough=self.passthrough,
            sample_config=self.sample_config,
            labels_df=self.labels_df,
            state_layout=self.state_layout,
        )
        if self.partition_hour:
            out = out.withColumn("ts_hour", F.date_format("ts", "yyyy-MM-dd-HH"))
        return out

    def start(self, available_now: bool = True, processing_time: Optional[str] = None):
        out = self.transform(self.source())
        writer = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(self.sink.write_batch)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_to_completion(self) -> None:
        q = self.start(available_now=True)
        q.awaitTermination()

    def results(self, table: Optional[str] = None) -> DataFrame:
        if isinstance(self.sink, MultiSink):
            return self.sink.read_committed(self.spark, table or "results")
        return self.sink.read_committed(self.spark)


def verdict_label_tee(n_buckets: int = 32) -> dict:
    """The standard production fan-out (ref: worker/main.py wires
    StoredExecutionResult + Label + Kafka sinks behind one
    MultiOutputSink): full results table bucketed by conv_id +
    label-effect changelog bucketed by entity_id."""
    from .state import explode_label_effects

    return {
        "results": (None, {"n_buckets": n_buckets, "bucket_col": "conv_id"}),
        "labels": (
            explode_label_effects,
            {"n_buckets": n_buckets, "bucket_col": "entity_id"},
        ),
    }
