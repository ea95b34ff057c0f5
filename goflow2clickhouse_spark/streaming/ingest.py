"""The ingest pipeline — the reference's hot path re-expressed as one
Structured Streaming query (SURVEY.md §3.1):

reference (/root/reference/main.go)             this engine
-----------------------------------             --------------------------
N UDP listeners (main.go:246-256)               N source streams (sources/)
Publish → shared chan (main.go:43,101-105)      fan_in (unionByName)
per-row project/cast/format (main.go:127-150)   flow_transform (codegen)
size-OR-time batcher (main.go:111-152)          trigger(processingTime=T)
                                                + per-trigger source caps
PrepareBatch/AppendStruct/Send (main.go:157-169) foreachBatch → sink
log-and-drop errors (main.go:158-172)           checkpointed retry
skip empty batch (main.go:156)                  empty-batch guard

Semantics deltas (documented, both upgrades):
- delivery: reference is at-most-once (insert errors drop the batch);
  checkpointed foreachBatch gives at-least-once, and exactly-once into
  idempotent sinks (parquet per-batch-id paths, ClickHouse
  ReplacingMergeTree).
- trigger: the reference batches on size OR time, whichever first
  (main.go:121-152, defaults 10000 rows / 10 s — main.go:36-37). Spark
  triggers on time and caps batch size at the source
  (maxFilesPerTrigger / maxOffsetsPerTrigger), so "size" bounds above
  rather than triggers early. Backpressure is the micro-batch model
  itself (≡ the unbuffered channel, main.go:43).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.flows import fan_in, flow_transform
from ..sources.streaming import open_stream, parse_listen

SinkFn = Callable[[DataFrame, int], None]


@dataclass
class IngestConfig:
    """CLI-flag parity with the reference (main.go:31-40)."""

    listen: str = "file:///tmp/flows-in"          # -listen (main.go:31)
    batch_max_time: str = "10 seconds"            # -batchmaxtime (main.go:37)
    batch_size: int = 10_000                      # -batchsize (main.go:36)
    checkpoint: str = "/tmp/goflow2spark-ckpt"
    options: dict[str, str] = field(default_factory=dict)


class IngestPipeline:
    """source(s) → transform → fan-in → micro-batched sink."""

    def __init__(self, spark: SparkSession, config: IngestConfig, sink: SinkFn):
        self.spark = spark
        self.config = config
        self.sink = sink
        self._specs = parse_listen(config.listen)

    def stream(self) -> DataFrame:
        """The transformed streaming DataFrame (22-column flows).

        -workers parity (main.go:35): a udp://-family spec with
        ?workers=N opens N SO_REUSEPORT listener streams on the same
        port (kernel spreads datagrams across them) and fans them in —
        N decode loops for one listener, like the reference's N
        FlowRoutine goroutines."""
        raws: list[DataFrame] = []
        for s in self._specs:
            if self.config.options:
                # config-level options apply to every source; per-URL
                # options win on conflict (the field was previously
                # declared but never read — a dead knob, r6 review)
                s = replace(s, options={**self.config.options, **s.options})
            workers = int(s.options.get("workers", "1"))
            if workers > 1 and s.scheme in {"udp", "sflow", "netflow", "nfl"}:
                opts = {k: v for k, v in s.options.items() if k != "workers"}
                opts["reuseport"] = "true"
                spec_n = replace(s, options=opts)
                raws.extend(
                    open_stream(self.spark, spec_n,
                                batch_size=self.config.batch_size)
                    for _ in range(workers)
                )
            else:
                raws.append(
                    open_stream(self.spark, s,
                                batch_size=self.config.batch_size)
                )
        # transform each source before the union: udp:// sources carry
        # string addresses, the others packed bytes, and the 22-column
        # outputs all agree
        return fan_in(*map(flow_transform, raws))

    def start(
        self, query_name: str = "flows_ingest", available_now: bool = False
    ) -> StreamingQuery:
        """`available_now=True` drains everything currently available
        then stops — the replay/catch-up mode (and the test mode)."""

        def _feed(batch_df: DataFrame, batch_id: int) -> None:
            # No isEmpty() pre-check here: that extra action re-scans
            # the source every batch (doubling input metrics and I/O).
            # Empty-batch elision (main.go:156) lives in the sinks that
            # pay per-batch round trips (clickhouse_jdbc_sink).
            self.sink(batch_df, batch_id)

        writer = self.stream().writeStream.queryName(query_name)
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.config.batch_max_time)
        return (
            writer.option("checkpointLocation", self.config.checkpoint)
            .foreachBatch(_feed)
            .start()
        )


def run_batch_etl(raw: DataFrame) -> DataFrame:
    """Batch-mode ETL twin (BASELINE.json's 'Structured Streaming or
    batch ingestion'): identical transform, batch writer."""
    return flow_transform(raw)
