"""source_webhook operator: end-to-end webhook ingestion.

Spins the webhook DataSource (HTTP receiver on the driver), POSTs the
first 1000 events of the fixture from a client thread (webhook-style
JSON bodies), streams them through from_json -> complete-mode agg, and
returns the per-type counts — which must equal the batch/DuckDB answer
over the same 1000 events (the SQL oracle).
"""

from __future__ import annotations

import json
import threading
import time
import uuid

import duckdb

from pyspark.sql import functions as F

from ..io import duck_parquet_src
from ..regutil import registrar
from ..session import shuffle_partitions, tune
from ..sources.webhook import WebhookDataSource, free_port, post_events
from .core import STREAM_STATE_PARTITIONS, checkpoint_dir, drain, read_replay_stream

QUERIES: dict = {}
ORACLE: dict = {}
op = registrar(QUERIES, ORACLE)

N_POST = 1000

PAYLOAD_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, "
    "value double, props string"
)


def _bodies(sf_dir: str) -> list[str]:
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        FROM read_parquet('{duck_parquet_src(f'{sf_dir}/events.parquet')}')
        ORDER BY event_id LIMIT {N_POST}
        """
    ).fetchall()
    con.close()
    cols = ["event_id", "ts_us", "user_id", "event_type", "value", "props"]
    return [json.dumps(dict(zip(cols, r))) for r in rows]


@op(
    "source_webhook",
    sql=f"""
    SELECT event_type, COUNT(*) AS n FROM (
        SELECT * FROM events ORDER BY event_id LIMIT {N_POST}
    ) GROUP BY event_type
    """,
)
def source_webhook(spark, sf_dir):
    """Streaming HTTP webhook source: POSTs buffered by the Python DataSource reader, exactly-once offset replay (see sources/webhook.py)."""
    tune(spark)
    spark.dataSource.register(WebhookDataSource)

    port = free_port()
    bodies = _bodies(sf_dir)
    n_expected = len(bodies)

    poster = threading.Thread(
        target=post_events, args=(port, bodies), daemon=True
    )
    poster.start()

    raw = (
        spark.readStream.format("webhook")
        .option("port", port)
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("body"), PAYLOAD_SCHEMA).alias("e")
    ).select("e.*")
    agg = parsed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    name = f"webhook_{uuid.uuid4().hex[:10]}"
    # the query plans against a clone of the session taken at start()
    with shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", checkpoint_dir())
            .trigger(processingTime="100 milliseconds")
            .start()
        )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = (
                spark.table(name).agg(F.sum("n").alias("total")).collect()[0]["total"]
                or 0
            )
            if got >= n_expected:
                break
            time.sleep(0.1)
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name)


@op(
    "sink_webhook",
    sql=f"""
    SELECT event_type, COUNT(*) AS n_delivered FROM (
        SELECT * FROM events ORDER BY event_id LIMIT {N_POST}
    ) GROUP BY event_type
    """,
)
def sink_webhook(spark, sf_dir):
    """Outbound webhook DELIVERY: stream the events replay through
    foreachBatch, where each micro-batch is delivered by
    ``foreachPartition`` — executor-side, one keep-alive HTTP client
    per partition, bounded retry + raise-to-replay (at-least-once).
    A local threaded collector stands in for the remote consumer; the
    result is the per-type count of what the consumer RECEIVED, which
    the oracle checks against the fixture — proving no event was lost
    or duplicated across micro-batches. At 100 TB/day the same shape
    fans out: partitions are the delivery parallelism unit, and the
    per-partition client batches/pools connections."""
    from ..sources.webhook import WebhookCollector, deliver_partition

    tune(spark)
    collector = WebhookCollector()
    port = collector.port

    s = read_replay_stream(spark, sf_dir, files_per_trigger=2).filter(
        F.col("event_id") < N_POST
    )

    def deliver_batch(batch_df, epoch_id):
        batch_df.foreachPartition(lambda rows: deliver_partition(port, rows))

    name = f"wh_sink_{uuid.uuid4().hex[:10]}"
    drain(s.writeStream.foreachBatch(deliver_batch).queryName(name))
    collector.stop()

    received = spark.createDataFrame(
        [(json.loads(b)["event_type"],) for b in collector.bodies],
        "event_type string",
    )
    return received.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_delivered")
    )
