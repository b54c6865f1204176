"""Streaming ingest pipeline (reference ``spark_stream/spark_stream.py``).

The reference subscribes to a Kafka topic (``:206-211``), casts
key/value to strings (``:213``), and appends micro-batches to
Cassandra via ``foreachBatch`` (``:217-224``) with **no checkpoint and
no idempotence** — duplicate writes on any restart (Appendix B.7).
It also defines, but never wires, the ``from_json`` parse path
(``:159-171``).

This module keeps the same shape with the holes closed:

- the parse path IS the pipeline (``parse_events``), the raw
  key/value stream is the bronze layer;
- every sink is checkpointed;
- ``write_idempotent_foreach_batch`` makes the micro-batch write
  exactly-once by recording committed batch ids next to the data
  (the parquet-friendly analogue of Delta's ``txnAppId/txnVersion``).

At scale: ``foreachBatch`` bodies run JVM-side DataFrame writes (the
Python callback only *plans*), so the driver-side Python cost per
batch is constant, not per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_lake_project_spark import fs

# Reference schema: four non-null strings (spark_stream.py:160-165).
EVENT_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("order_date", StringType(), False),
        StructField("product_name", StringType(), False),
        StructField("quantity", StringType(), False),
    ]
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The exact reader-option dict the reference pipeline needs
    (``spark_stream.py:206-211``: subscribe + bootstrap servers; plus
    the two knobs any production deployment sets explicitly):

    - ``startingOffsets``: where a FRESH checkpoint begins — after
      that, progress comes from the checkpoint, not this option;
    - ``failOnDataLoss``: ``false`` by default so a topic whose
      retention expired offsets the checkpoint still references
      resumes (with a logged gap) instead of killing the stream —
      flip to ``true`` where a gap must be fatal.

    Factored out of :func:`kafka_source` so the contract is pinned by
    a broker-less test (``test_kafka_reader_options_contract``), the
    same fake-seam pattern as the Delta MERGE test.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka streaming source (S1, ``spark_stream.py:132-144,206-211``).

    Requires the spark-sql-kafka connector on the classpath; in
    connector-less test environments use ``file_stream_source`` with
    the same downstream pipeline (the contract is identical: a
    streaming DataFrame with binary ``key``/``value`` columns).
    """
    return (
        spark.readStream.format("kafka")
        .options(
            **kafka_reader_options(
                bootstrap_servers, topic, starting_offsets, fail_on_data_loss
            )
        )
        .load()
    )


def file_stream_source(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based stand-in for the Kafka transport: JSON-lines files
    of ``{"key": ..., "value": ...}`` become the same (key, value)
    binary-pair stream. Used by the batch↔stream equivalence tests.
    """
    schema = StructType(
        [
            StructField("key", StringType(), True),
            StructField("value", StringType(), True),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
        .select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
    )


def parse_events(raw: DataFrame) -> DataFrame:
    """P1+P2: cast transport bytes to strings, parse JSON, flatten.

    Reference ``spark_stream.py:159-171`` (defined there but never
    wired into main — here it is the real path). Malformed JSON rows
    yield nulls from ``from_json``; they are kept (bronze keeps
    everything) and a silver filter drops them.
    """
    return (
        raw.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
        .select(
            F.col("key"),
            F.from_json(F.col("value"), EVENT_SCHEMA).alias("data"),
        )
        .select("key", "data.*")
    )


def to_silver(parsed: DataFrame) -> DataFrame:
    """Typed silver projection: explicit casts the reference never did
    (SURVEY.md §1.2 mapping — order_date → date, quantity → int)."""
    return parsed.filter(F.col("id").isNotNull()).select(
        "id",
        F.to_date("order_date").alias("order_date"),
        "product_name",
        F.col("quantity").cast("int").alias("quantity"),
    )


def write_idempotent_foreach_batch(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
):
    """Checkpointed, effectively-once ``foreachBatch`` sink (S3 analog).

    Fixes reference Appendix B.7 with TWO independent layers:

    1. **Idempotent by construction**: each micro-batch lands in its
       own ``data/__batch=<id>`` subdirectory with ``overwrite`` mode,
       so a replayed batch (restart, lost checkpoint) rewrites the
       same directory instead of appending duplicates — correct even
       if the marker write below is lost.
    2. **Committed-batch markers** as a fast skip: a marker file per
       durable batch short-circuits the replay without re-running the
       batch plan. Markers live next to the data and go through the
       Hadoop FileSystem API (``fs`` module), so the protocol works on
       the same URI space as the data (``hdfs://``, ``s3a://``) — not
       just the driver's local disk.

    Read the sink back with ``read_sink`` (drops the ``__batch``
    partition column). With Delta available this collapses to
    ``.writeStream.format("delta")`` + ``txnAppId``; the layered
    protocol keeps plain parquet correct.

    The crash window between the data write and the marker write
    (ADVICE round 1) is closed by layer 1: the replay overwrites, so
    the marker is purely an optimization and "crash after append,
    before marker" no longer duplicates.
    """
    commits_dir = f"{out_dir.rstrip('/')}/_committed_batches"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{commits_dir}/{batch_id}"
        if fs.exists(spark, marker):
            return  # replayed batch after restart: already durable
        df = batch_df
        if key_cols:
            df = df.dropDuplicates(key_cols)
        df.write.mode("overwrite").parquet(
            f"{out_dir.rstrip('/')}/data/__batch={batch_id}"
        )
        fs.write_text(spark, marker, "committed")

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def read_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back a ``write_idempotent_foreach_batch`` sink: the
    ``__batch=<id>`` partition directories are an implementation
    detail, so the discovered ``__batch`` column is dropped."""
    return spark.read.parquet(f"{out_dir.rstrip('/')}/data").drop("__batch")


def write_stream_upsert(stream: DataFrame, table, checkpoint_dir: str):
    """The reference's actual streaming sink shape — Kafka → keyed
    Cassandra table (``spark_stream.py:217-224``) — composed from the
    engine's parts: each micro-batch MERGEs into a ``KeyedTable``
    (``sources.KeyedTable.upsert``). Replays are safe without any
    marker protocol because the MERGE itself is idempotent: upserting
    the same batch twice converges to the same keyed state. The
    upsert is bucket-scoped, so a micro-batch costs O(batch + touched
    buckets) regardless of table size."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.upsert(batch_df)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def _apply_once(spark, marker: str, apply) -> None:
    """The replay-marker protocol of the stateful sinks
    (:func:`write_stream_scd2`, :func:`write_stream_ivm`), whose fold
    reads its own prior output and so cannot be re-run: a
    ``committed`` marker skips the batch, a ``pending`` one raises for
    operator repair, and otherwise the marker goes ``pending`` ->
    ``apply()`` -> ``committed``."""
    if fs.exists(spark, marker):
        if fs.read_text(spark, marker).strip() == "committed":
            return  # same batch content already folded
        raise RuntimeError(
            f"stream sink: marker {marker} is 'pending' — a prior "
            "attempt on this batch started and did not commit, so its "
            "fold may be fully, partially, or not at all applied. "
            "Verify the rows the batch touches against it (or rebuild "
            "them), then delete the marker to resume."
        )
    fs.write_text(spark, marker, "pending")
    apply()
    fs.write_text(spark, marker, "committed")


def write_stream_scd2(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    entity_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
):
    """Streaming SCD2 maintenance: each micro-batch flows through
    ``lakehouse.scd2_apply`` — open intervals of touched entities are
    bucket-prune-read, folded against the batch, and MERGEd back as
    re-closed + newly-opened version rows. With in-order per-entity
    delivery the table converges to exactly the q67 batch derivation
    (``test_stream_scd2_equals_batch``).

    Replay safety needs the MARKER protocol, not merge idempotence:
    unlike a plain keyed upsert, re-folding an already-applied batch
    against the post-batch open intervals would mint spurious new
    versions (the fold is stateful — its input includes its own prior
    output). Markers are keyed by a CONTENT fingerprint of the batch —
    count + seq extremes + an order-independent hash over the FULL
    event tuple (seq, entity, ts, attr), so a "replay" carrying the
    same seq ids but corrected payloads fingerprints differently and
    is NOT silently swallowed — NOT by batch_id: a stream restarted
    with a fresh checkpoint renumbers batches from 0, so an id-keyed
    marker would silently swallow every NEW batch. Content addressing
    skips exactly the batches whose events were already folded,
    whatever their id. (A corrected replay then usually hits
    ``scd2_apply``'s out-of-order guard and fails loudly — the guard
    is strict-``<``, so a correction whose EARLIEST event sits
    exactly at the open interval's ``valid_from`` folds as a new
    same-timestamp observation instead; upstream corrections need a
    rebuild either way, never an in-place re-fold. The fingerprint
    formula is part of the marker namespace: changing it orphans
    every existing marker, so upgrades that touch it must drain the
    stream — no replayable batches in flight — first.)

    Crash windows are DETECTED, not silent: the marker is written in
    state ``pending`` BEFORE the merge and flipped to ``committed``
    after, so a replay that finds a pending marker raises for
    operator repair instead of re-folding. ``pending`` means exactly
    "an attempt started and did not commit" — the merge may have
    fully landed (crash before the flip), partially landed, or never
    started (transient failure before the merge); the repair is to
    compare the entity histories against the batch and either fold
    manually or delete the marker, and correctness is chosen over
    availability here deliberately (a transiently-failed batch also
    parks the stream until the operator clears it). Delta's txnAppId
    transaction log closes the window atomically on a real
    deployment. Markers accumulate one tiny file per batch — prune
    anything older than the source's replay horizon with
    :func:`marker_gc` on the ``_scd2_committed`` dir (a replay can
    only re-deliver what the source retains)."""
    from data_lake_project_spark.lakehouse import scd2_apply

    commits_dir = f"{table.path}/_scd2_committed"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp_row = batch_df.agg(
            F.count("*").alias("n"),
            F.min(seq_col).alias("lo"),
            F.max(seq_col).alias("hi"),
            # bit_xor: order-independent fold that can't overflow
            # (ANSI mode rejects a plain long sum of hashes); hash the
            # WHOLE tuple so corrected payloads change the fingerprint
            F.expr(
                f"bit_xor(xxhash64(`{seq_col}`, `{entity_col}`, "
                f"`{ts_col}`, `{attr_col}`))"
            ).alias("h"),
        ).first()
        if fp_row["n"] == 0:
            return
        marker = (
            f"{commits_dir}/"
            f"{fp_row['n']}_{fp_row['lo']}_{fp_row['hi']}_{fp_row['h']}"
        )
        _apply_once(
            spark,
            marker,
            lambda: scd2_apply(
                table,
                batch_df,
                entity_col=entity_col,
                attr_col=attr_col,
                ts_col=ts_col,
                seq_col=seq_col,
            ),
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def ensure_topic(
    bootstrap_servers: str,
    topic: str,
    num_partitions: int = 1,
    replication_factor: int = 1,
) -> None:  # pragma: no cover - needs a broker + kafka client
    """S2: create the topic if absent (``spark_stream.py:12-40``).

    Driver-side admin setup, not a data operator. The kafka client is
    an optional extra; at scale the partition count should match the
    consuming job's target parallelism (the reference's 1 partition
    caps the whole stream at one task).
    """
    try:
        from kafka.admin import KafkaAdminClient, NewTopic  # type: ignore
        from kafka.errors import TopicAlreadyExistsError  # type: ignore
    except ImportError as exc:
        raise NotImplementedError(
            "kafka-python not installed; install the 'kafka' extra "
            "on the cluster image"
        ) from exc
    admin = KafkaAdminClient(bootstrap_servers=bootstrap_servers)
    try:
        admin.create_topics(
            [NewTopic(topic, num_partitions, replication_factor)]
        )
    except TopicAlreadyExistsError:
        pass
    finally:
        admin.close()


def write_stream_ivm(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    key_col: str,
    count_col: str = "n",
    sum_cols: dict[str, str] | None = None,
    op_col: str = "op",
):
    """Streaming continuous aggregate: each micro-batch of row-level
    changes (``op_col`` = +1 insert / -1 delete) folds into a keyed
    COUNT/SUM materialized view held in a :class:`KeyedTable` via
    ``lakehouse.ivm_apply`` — the stream-maintained rollup that keeps
    a gold table fresh without ever rescanning base data. Per batch:
    bucket-prune-read the touched keys' current rows, fold the delta,
    MERGE back — O(batch + touched buckets) regardless of view size.

    The keyed MERGE cannot delete rows, so keys folded to zero
    persist as count-0 TOMBSTONES (``ivm_apply(keep_zero=True)``);
    read the view through :func:`read_ivm`, which filters them.

    Like the SCD2 sink (and unlike the plain keyed upsert), the fold
    reads its own prior output, so replays need the content-marker
    protocol, not merge idempotence: the marker key is the foreachBatch
    ``batch_id`` PLUS a content fingerprint (count + order-independent
    hash over the full change tuple). The batch_id component makes two
    legitimately distinct micro-batches with identical content (a
    change log's tuples can repeat: ``+1 (a, 10.0)`` arriving again
    later is a real second increment) fold separately — batch_id is
    monotone within a checkpoint lineage, so only a true replay of the
    SAME batch matches its marker. The content component guards
    cross-checkpoint replays: a restarted query with a fresh checkpoint
    re-reads the same source offsets into the same (batch_id, content)
    pairs and is skipped; if the offsets-to-batch mapping changed, the
    view must be rebuilt from base data (documented operational
    contract — same as Delta's txnAppId/version story). A committed
    marker is skipped, a pending one raises for operator repair. Prune
    old markers with :func:`marker_gc` on the ``_ivm_committed`` dir.
    """
    from data_lake_project_spark.lakehouse import ivm_apply

    sum_cols = sum_cols or {}
    commits_dir = f"{table.path}/_ivm_committed"
    hash_cols = ", ".join(
        f"`{c}`" for c in [op_col, key_col, *sum_cols.keys()]
    )

    def fold(batch_df: DataFrame) -> None:
        touched = batch_df.select(key_col).distinct()
        existing = table.read_for(touched, keys_col=key_col)
        if count_col in existing.columns:
            base = existing.select(
                key_col, count_col, *sum_cols.values()
            )
        else:  # first batch, table not created yet: empty base
            base = touched.limit(0).withColumn(
                count_col, F.lit(0).cast("long")
            )
            for out in sum_cols.values():
                base = base.withColumn(
                    out, F.lit(0).cast("decimal(38,2)")
                )
        folded = ivm_apply(
            base,
            batch_df,
            [key_col],
            count_col=count_col,
            sum_cols=sum_cols,
            op_col=op_col,
            keep_zero=True,
        )
        table.upsert(folded)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp_row = batch_df.agg(
            F.count("*").alias("n"),
            F.expr(f"bit_xor(xxhash64({hash_cols}))").alias("h"),
        ).first()
        if fp_row["n"] == 0:
            return
        marker = f"{commits_dir}/b{batch_id}_{fp_row['n']}_{fp_row['h']}"
        _apply_once(spark, marker, lambda: fold(batch_df))

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_ivm(table, count_col: str = "n") -> DataFrame:
    """The live view behind :func:`write_stream_ivm`: the maintained
    aggregate minus the zero-count tombstones the keyed MERGE cannot
    physically delete."""
    return table.read().filter(F.col(count_col) != 0)


def marker_gc(
    spark, commits_dir: str, max_age_s: float, now_ms: int | None = None
) -> int:
    """Prune ``committed`` replay markers older than ``max_age_s``
    seconds from any content-marker sink dir (``_scd2_committed``,
    ``_ivm_committed``). ``pending`` markers are NEVER pruned — they
    flag an unrepaired crash window. Returns markers deleted."""
    import time

    cutoff = (
        now_ms if now_ms is not None else int(time.time() * 1000)
    ) - int(max_age_s * 1000)
    deleted = 0
    for name, _size, mtime in fs.list_statuses(spark, commits_dir):
        if mtime < cutoff and fs.read_text(spark, name).strip() == "committed":
            fs.delete(spark, name, recursive=False)
            deleted += 1
    return deleted
