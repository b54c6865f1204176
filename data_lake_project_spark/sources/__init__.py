"""Sources & sinks (SURVEY.md §2.1).

The reference's ingest surface re-expressed:

- S6/S7 CSV read/write with the same delimiter/quote semantics as
  ``pd.read_csv(file_path, delimiter=',', quotechar='"')``
  (``dags/GetData.py:32-35``).
- S8/S9 HDFS round-trip: Spark reads/writes ``hdfs://``/``s3a://``
  URIs natively — no WebHDFS client needed (``GetData.py:106-126``).
- S9's UUID-keyed JSON record stream (``GetData.py:113-126``).
- S10 Kafka produce (``GetData.py:101-104``) — format("kafka") write.
- S11 binary landing-zone ingest (see ``multimodal``).
- XML landing-zone read/write (Spark 4 built-in source; Avro stays
  env-blocked — external jar, see SCALE.md blockers).
- Keyed lakehouse table with idempotent MERGE-on-key upsert (S4/S5
  analog — fixes the reference's at-least-once Cassandra sink).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_project_spark import fs


def read_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    quote: str = '"',
    header: bool = True,
    infer_schema: bool = True,
    multiline: bool = True,
) -> DataFrame:
    """S6: CSV scan matching the reference's pandas semantics
    (``GetData.py:33``): delimiter, quotechar, header row, inferred
    dtypes, quoted fields may contain separators/newlines."""
    return (
        spark.read.option("sep", sep)
        .option("quote", quote)
        .option("escape", quote)  # RFC-4180 doubled-quote escaping
        .option("header", str(header).lower())
        .option("inferSchema", str(infer_schema).lower())
        .option("multiLine", str(multiline).lower())
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S7: CSV materialization (``GetData.py:35``)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — Spark-native columnar format beyond the reference's
    CSV/JSON/parquet surface: predicate pushdown, column pruning and
    vectorized reads all apply exactly as for parquet (the plan shows
    PushedFilters/ReadSchema on the OrcScan node). Rounds out the
    warehouse-interchange formats a lake ingests from (Hive/Trino
    deployments commonly hand over ORC)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC materialization (overwrite) — columnar sink twin of
    :func:`read_orc`; schema round-trips losslessly for the engine's
    scalar/array/struct types (CI-pinned)."""
    df.write.mode("overwrite").orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: str | None = None,
) -> DataFrame:
    """Landing-zone XML ingest (Spark 4's built-in XML source — no
    external jar): one DataFrame row per ``row_tag`` element, schema
    inferred unless pinned. Splittable like JSON for multi-file
    inputs; a single giant document parses on one task, so landing
    zones should shard by file."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    df.write.mode("overwrite").format("xml").option(
        "rowTag", row_tag
    ).save(path)


def read_json_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Bronze-layer quarantine ingest: parse JSON lines PERMISSIVEly
    against a pinned schema and split the result into (good, bad) —
    rows that parsed cleanly vs rows captured in the corrupt-record
    column (malformed JSON, schema-violating shapes). The standard
    landing-zone contract: bad rows are never dropped (they route to
    a quarantine sink for replay after a schema fix), and the good
    lane is typed end-to-end.

    Spark requires the corrupt column to be declared in the schema
    AND the parsed frame to be cached/materialized before filtering
    on it (the parser populates it lazily per-access) — both handled
    here. One scan, two narrow filters.
    """
    full = f"{schema}, {corrupt_col} string"
    df = spark.read.schema(full).json(path)
    # referencing the corrupt column straight off a JSON scan raises
    # AnalysisException (Spark requires materialization first)
    df = df.localCheckpoint(eager=True)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    return good, bad


def to_keyed_json_records(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """S9: rows → (key, value) JSON pairs; key is a provided column or
    a fresh UUID per record (``GetData.py:124-126`` semantics, with
    Spark's distributed ``uuid()`` instead of a driver loop)."""
    key = F.col(key_col).cast("string") if key_col else F.expr("uuid()")
    return df.select(
        key.alias("key"), F.to_json(F.struct(*df.columns)).alias("value")
    )


def write_kafka(
    df: DataFrame, bootstrap_servers: str, topic: str
) -> None:  # pragma: no cover - needs connector + broker
    """S10: produce (key, value) pairs to a topic
    (``GetData.py:101-104``); requires the Kafka connector jar."""
    (
        df.selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def delta_available() -> bool:
    """True when the delta-spark package (and so the Delta jars) can
    load. In this environment it returns False (verified: no jars);
    on a cluster image with the 'delta' extra the MERGE paths below
    switch to native ``MERGE INTO`` automatically."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


class KeyedTable:
    """S4/S5 analog: a keyed lakehouse table with idempotent upsert.

    The reference's Cassandra sink (``spark_stream.py:64-69,92-108``)
    is a text-keyed table written at-least-once. Here: a hash-bucketed
    parquet layout with a partition-scoped MERGE-on-key (with Delta
    available this becomes a real ``MERGE INTO``; the interface is
    the contract).

    Layout: ``<path>/buckets/__kbucket=<i>/...`` where the bucket is
    ``pmod(xxhash64(key), n_buckets)``, plus a tiny JSON meta file
    recording ``n_buckets`` so every writer buckets identically — the
    engine's ONE hash-bucket layout (streaming sinks, id-bucketed lane
    tables, the AV keyframes).

    Scale contract — O(delta), not O(table): an upsert or erase reads
    and rewrites ONLY the buckets its batch touches; all other bucket
    directories are never opened (asserted by a file-mtime test). A
    daily trickle update against a 100 TB table costs
    ``|delta| + |touched buckets|``, and ``n_buckets`` bounds the
    worst case at full-table for a batch that spans every bucket.
    Every filesystem side-step goes through the Hadoop FileSystem API
    so the same code works on ``hdfs://``/``s3a://`` paths. Opening
    the table finishes a rewrite a crash cut short, so open it only
    while no rewrite of it is running.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "key",
        n_buckets: int = 16,
        table_format: str = "auto",
        bucket_by: str | None = None,
    ):
        """``table_format``: 'auto' picks Delta when the jars are on
        the classpath (``delta_available``), else the bucketed-parquet
        protocol; 'parquet' / 'delta' force a choice. The public
        surface (exists/read/append/upsert) is identical either way —
        the format is the config flip, not an API change.

        ``bucket_by``: physical placement column, defaulting to
        ``key_col``. Split them when the MERGE identity is finer than
        the access pattern — e.g. an SCD2 history merging on
        (entity, version) row keys but bucketed by ENTITY, so one
        entity's whole history co-locates and ``read_for`` can prune
        to the entity's bucket."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_col = key_col
        self.bucket_by = bucket_by or key_col
        if table_format == "auto":
            table_format = "delta" if delta_available() else "parquet"
        if table_format not in ("parquet", "delta"):
            raise ValueError(f"unknown table_format {table_format!r}")
        self.table_format = table_format
        self._buckets = f"{self.path}/buckets"
        self._delta = f"{self.path}/delta"
        self._meta = f"{self.path}/_keyed_meta.json"
        self._tmp = f"{self.path}/__upsert_tmp"
        if fs.exists(spark, self._meta):
            # the table's recorded bucketing wins over the argument —
            # mixing bucket counts would scatter a key across buckets
            meta = json.loads(fs.read_text(spark, self._meta))
            self.n_buckets = meta["n_buckets"]
            self.bucket_by = meta.get("bucket_by", self.bucket_by)
            self.bucket_dtype = meta.get("bucket_dtype")
            self._recover()
        else:
            self.n_buckets = n_buckets
            self.bucket_dtype: str | None = None

    def _bucket_expr(self, col):
        """xxhash64 is TYPE-sensitive (hash(7 INT) != hash(7 BIGINT)),
        so every hash — writes and pruned reads alike — goes through
        the table's recorded bucket dtype; a caller passing keys in a
        different-but-castable type still lands on the right bucket."""
        if self.bucket_dtype:
            col = col.cast(self.bucket_dtype)
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if self.bucket_dtype is None:
            # first write pins the bucket dtype for the table's life
            self.bucket_dtype = dict(df.dtypes)[self.bucket_by]
        return df.withColumn(
            "__kbucket", self._bucket_expr(F.col(self.bucket_by))
        )

    def _bucket_dir(self, b) -> str:
        return f"{self._buckets}/__kbucket={b}"

    def _write_meta(self) -> None:
        fs.write_text(
            self.spark,
            self._meta,
            json.dumps(
                {
                    "n_buckets": self.n_buckets,
                    "key_col": self.key_col,
                    "bucket_by": self.bucket_by,
                    "bucket_dtype": self.bucket_dtype,
                }
            ),
        )

    def _touched(
        self, keys: DataFrame, col: str
    ) -> tuple[list[int], DataFrame | None]:
        """The ONE touched-bucket resolver (read_for, upsert, erase):
        the buckets ``keys[col]`` hash to — a driver list bounded by
        ``n_buckets`` — and a scan of the live ones with ``__kbucket``
        kept (None when none is live)."""
        rows = keys.select(self._bucket_expr(F.col(col))).distinct().collect()
        touched = sorted(r[0] for r in rows)
        live = [self._bucket_dir(b) for b in touched]
        live = [d for d in live if fs.exists(self.spark, d)]
        if not live:
            return touched, None
        scan = self.spark.read.option("basePath", self._buckets)
        return touched, scan.parquet(*live)

    def _recover(self) -> None:
        """Finish a rewrite a crash cut short: roll back each
        ``__upsert_old_<b>`` whose live bucket is missing (it holds
        the bucket's only rows), drop it when both copies exist, and
        only then delete the tmp dir."""
        for old in fs.glob(self.spark, f"{self.path}/__upsert_old_*"):
            live = self._bucket_dir(old.rsplit("_", 1)[1])
            if fs.exists(self.spark, live):
                fs.delete(self.spark, old)
            else:
                fs.rename(self.spark, old, live)
        fs.delete(self.spark, self._tmp)

    def _rewrite(self, touched: list[int], rows: DataFrame) -> None:
        """Replace the ``touched`` buckets by ``rows`` (which carry
        ``__kbucket``): ONE Spark write into a tmp dir, then a
        metadata-only swap per bucket (Hadoop FS rename) — the data
        is written exactly once, and a crash mid-swap leaves every
        bucket with at least one complete copy on disk, which
        :meth:`_recover` puts back. A touched bucket left with no rows
        is deleted."""
        rows.write.partitionBy("__kbucket").mode("overwrite").parquet(self._tmp)
        for b in touched:
            live, new = self._bucket_dir(b), f"{self._tmp}/__kbucket={b}"
            old = f"{self.path}/__upsert_old_{b}"
            if fs.exists(self.spark, live):
                fs.rename(self.spark, live, old)
            if fs.exists(self.spark, new):
                fs.rename(self.spark, new, live)
            fs.delete(self.spark, old)
        fs.delete(self.spark, self._tmp)

    def read_for(self, keys: DataFrame, keys_col: str | None = None) -> DataFrame:
        """Bucket-pruned read: only the bucket directories that could
        hold rows whose ``bucket_by`` value appears in ``keys`` are
        opened — the O(touched) point-lookup path. ``keys`` is a
        (usually small) DataFrame; its relevant column defaults to the
        table's ``bucket_by`` name. Returns the full rows of those
        buckets (callers filter further); an absent table reads empty.
        """
        if not self.exists():
            return self.read_empty()
        _, current = self._touched(keys, keys_col or self.bucket_by)
        if current is None:
            return self.read_empty()
        return current.drop("__kbucket")

    def read_empty(self) -> DataFrame:
        """Zero-row frame with the table's schema (or no columns when
        the table doesn't exist yet)."""
        if self.exists():
            return self.read().limit(0)
        return self.spark.createDataFrame([], "__missing string").limit(0)

    def exists(self) -> bool:
        if self.table_format == "delta":
            return fs.exists(self.spark, f"{self._delta}/_delta_log")
        return fs.exists(self.spark, self._meta)

    def read(self) -> DataFrame:
        if self.table_format == "delta":
            return self.spark.read.format("delta").load(self._delta)
        return self.spark.read.parquet(self._buckets).drop("__kbucket")

    def append(self, df: DataFrame) -> None:
        """Append rows into their buckets, one file per bucket (shattered
        bucket dirs scan slower, the ``retrieval.py`` measurement)."""
        if self.table_format == "delta":
            df.write.format("delta").mode("append").save(self._delta)
            return
        self._with_bucket(df).repartition("__kbucket").write.mode(
            "append"
        ).partitionBy("__kbucket").parquet(self._buckets)
        if not self.exists():
            self._write_meta()

    def upsert(self, updates: DataFrame, version_col: str | None = None) -> None:
        """MERGE on key, scoped to the touched buckets.

        New rows win over existing rows. Within the update batch the
        row with the highest ``version_col`` wins; without one, the
        tie-break is a CONTENT hash of the full row (``xxhash64`` over
        every column) — deterministic regardless of the batch's
        partition layout, so upserting the same (even shuffled) batch
        twice always yields identical table state. Which of two
        same-key-different-content rows wins is then arbitrary but
        stable; pass a real version column when "latest" must mean
        something.

        (Round 2 used ``monotonically_increasing_id`` here, whose
        ordering depends on partition layout — a repartitioned batch
        could flip winners between runs.)

        Delta format: the same contract via native ``MERGE INTO``
        (file-level pruning plays the role of bucket scoping; the
        transaction log replaces the rename swap).
        """
        if self.table_format == "delta":
            self._upsert_delta(updates, version_col)
            return
        u = self._with_bucket(
            updates.withColumn("__seq", self._batch_seq(updates, version_col))
            .withColumn("__prio", F.lit(0))
        )
        if not self.exists():
            first = self._dedup(u).drop("__prio", "__seq")
            first.write.mode("overwrite").partitionBy("__kbucket").parquet(
                self._buckets
            )
            self._write_meta()
            return
        self._recover()
        touched, current = self._touched(u, self.bucket_by)
        if current is not None:
            u = u.unionByName(
                current.withColumn("__seq", F.lit(-1).cast("long"))
                .withColumn("__prio", F.lit(1))
            )
        self._rewrite(touched, self._dedup(u).drop("__prio", "__seq"))

    def erase(self, ids: DataFrame) -> int:
        """Erase every row whose ``bucket_by`` value is in ``ids`` (a
        frame carrying that column, any castable type); returns rows
        erased. The touched buckets come from the ids themselves, so
        only they are read and swapped. Parquet layout only."""
        if self.table_format == "delta":
            raise ValueError("KeyedTable.erase: parquet layout only")
        if not self.exists():
            return 0
        self._recover()
        col = self.bucket_by
        key = F.col(col).cast(self.bucket_dtype).alias(col)
        ids = F.broadcast(ids.select(key).distinct())
        touched, current = self._touched(ids, col)
        if current is None:
            return 0
        n = current.join(ids, col, "left_semi").count()
        if n:
            self._rewrite(touched, current.join(ids, col, "left_anti"))
        return n

    def compact(self, target_files_per_bucket: int = 1) -> None:
        """Maintenance: merge each bucket's small-file accretion
        (streaming upserts land one file batch per touched bucket)
        into ``target_files_per_bucket`` files, one bucket at a time
        via the crash-safe ``lakehouse.compact`` swap. Buckets are
        independent — on a cluster this loop is per-bucket jobs, and
        only oversized buckets need running (callers can filter by
        ``fs.total_size``)."""
        from data_lake_project_spark.lakehouse import compact as _compact

        for b in range(self.n_buckets):
            bdir = self._bucket_dir(b)
            if fs.exists(self.spark, bdir):
                _compact(self.spark, bdir, target_files_per_bucket)

    @staticmethod
    def _batch_seq(updates: DataFrame, version_col: str | None):
        """Intra-batch winner ordering: the version column when given,
        else a content hash over every column — partition-layout-
        independent, so the merge outcome is a pure function of the
        batch's ROWS, not of how Spark happened to split them.

        ``xxhash64`` rejects MapType inputs, so map columns enter the
        hash as their canonical (key-sorted) JSON entry list — the
        hash still covers full row content, and two rows differing
        only in a map column still order deterministically."""
        if version_col:
            return F.col(version_col)
        from pyspark.sql.types import MapType

        parts = []
        for f in updates.schema.fields:
            if isinstance(f.dataType, MapType):
                parts.append(
                    F.to_json(F.array_sort(F.map_entries(F.col(f.name))))
                )
            else:
                parts.append(F.col(f.name))
        return F.xxhash64(*parts)

    def _upsert_delta(self, updates: DataFrame, version_col: str | None) -> None:
        from delta.tables import DeltaTable

        u = updates.withColumn(
            "__seq", self._batch_seq(updates, version_col)
        )
        w = Window.partitionBy(self.key_col).orderBy(F.col("__seq").desc())
        u = (
            u.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )
        if not self.exists():
            u.write.format("delta").save(self._delta)
            return
        t = DeltaTable.forPath(self.spark, self._delta)
        (
            t.alias("t")
            .merge(u.alias("u"), f"t.{self.key_col} = u.{self.key_col}")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )

    def _dedup(self, tagged: DataFrame) -> DataFrame:
        w = Window.partitionBy(self.key_col).orderBy(
            F.col("__prio").asc(), F.col("__seq").desc()
        )
        return (
            tagged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
