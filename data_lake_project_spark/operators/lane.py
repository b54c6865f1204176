"""One lifecycle for every persisted index lane.

A lane is a directory of named parquet tables plus ONE ``params.json``
sidecar, written last: a reader that sees the sidecar sees every
table. The dedup, BM25, SQ, ANN and pHash indexes are thin adapters
over :class:`Lane`; each declares its tables and hands over how it
encodes a delta, and this module owns save, load, the O(delta) fold
and erase. The kNN-graph lane uses only the sidecar and save/load
helpers (its exact fold and bounded erase are not row appends), and
the HLL rollup keeps its own layout (sketches have no replay guard
and erase by rebuilding touched keys).

The layout is a property of the TABLE, declared once, never re-derived
by an access path (the irregular-partitioning argument of Jigsaw,
SIGMOD 2021):

- plain — one parquet directory;
- partitioned on a pruning key (IVF codes by ``__bucket``, BM25
  postings by the token bucket ``__tb``) — repartitioned by the key
  before every write so each directory holds one file (shattered
  bucket dirs scanned SLOWER than an unpartitioned table at bench
  scale); ``load_type`` casts the key back to its build-side type
  (partition inference reads a bigint ``__tb`` back as int); erase
  rewrites only the partitions holding erased ids;
- id-bucketed — opt-in per save (``id_buckets=N``, plain tables only,
  recorded in the sidecar so no access path probes for it): a parquet
  ``sources.KeyedTable`` keyed on the lane's id column, the engine's
  one hash-bucket layout. Appends keep the layout, erase
  prunes to the buckets the erased ids hash to, and load drops the
  bucket column, so serving never sees it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_project_spark import fs
from data_lake_project_spark.operators.erasure import _erase_rows, _resolve_ids
from data_lake_project_spark.sources import KeyedTable

SIDECAR = "params.json"


@dataclass(frozen=True)
class Table:
    """One parquet table of a lane and its on-disk layout."""

    name: str
    partition_col: str | None = None
    load_type: str | None = None


def _layout(spark: SparkSession, path: str) -> tuple[dict, bool]:
    """(params, whether the plain tables are id-bucketed) from the
    sidecar: the layout is recorded at save, never probed for, and
    dropped from the params adapters splat into their builders."""
    params = json.loads(fs.read_text(spark, f"{path.rstrip('/')}/{SIDECAR}"))
    return params, params.pop("id_buckets", None) is not None


def read_params(spark: SparkSession, path: str) -> dict:
    """The lane's sidecar params (every lane keeps its id column in
    ``id_col``)."""
    return _layout(spark, path)[0]


def _keyed(
    spark: SparkSession, table: Table, path: str, id_col: str, bucketed: bool
) -> KeyedTable | None:
    """A plain table of an id-bucketed lane, as its ``KeyedTable``;
    else None."""
    if not bucketed or table.partition_col is not None:
        return None
    return KeyedTable(spark, path, id_col, table_format="parquet")


def _scan(
    spark: SparkSession, table: Table, path: str, id_col: str, bucketed: bool
):
    """One table's rows under its layout (bucket column dropped)."""
    kt = _keyed(spark, table, path, id_col, bucketed)
    return kt.read() if kt is not None else spark.read.parquet(path)


def _write(df: DataFrame, c: str | None, path: str, mode: str) -> None:
    if c is None:
        df.write.mode(mode).parquet(path)
    else:
        df.repartition(c).write.mode(mode).partitionBy(c).parquet(path)


@dataclass(frozen=True)
class Lane:
    """A persisted lane: ``tables`` in write order, the LAST of which
    holds exactly one row per id (the replay guard and erase count)."""

    tables: tuple[Table, ...]

    def save(
        self,
        path: str,
        frames,
        params: dict,
        id_buckets: int | None = None,
    ) -> None:
        """Write every table (overwrite) by its layout, then the
        sidecar. ``frames`` carries one DataFrame attribute per table
        name (the adapter's index dataclass); ``id_buckets``
        id-buckets every plain table (recorded in the sidecar)."""
        p = path.rstrip("/")
        for t in self.tables:
            df, tp = getattr(frames, t.name), f"{p}/{t.name}"
            if id_buckets is not None and t.partition_col is None:
                fs.delete(df.sparkSession, tp)
                kt = KeyedTable(
                    df.sparkSession, tp, params["id_col"], id_buckets, "parquet"
                )
                kt.append(df)
            else:
                _write(df, t.partition_col, tp, "overwrite")
        sidecar = dict(params, id_buckets=id_buckets)
        fs.write_text(df.sparkSession, f"{p}/{SIDECAR}", json.dumps(sidecar))

    def load(
        self, spark: SparkSession, path: str
    ) -> tuple[dict, dict[str, DataFrame]]:
        """(sidecar, {table name: parquet scan}) — scans, so partition
        pruning and pushdown apply as with any table."""
        p = path.rstrip("/")
        (params, bucketed), frames = _layout(spark, p), {}
        for t in self.tables:
            df = _scan(spark, t, f"{p}/{t.name}", params["id_col"], bucketed)
            if t.load_type is not None:
                df = df.withColumn(
                    t.partition_col, F.col(t.partition_col).cast(t.load_type)
                )
            frames[t.name] = df
        return params, frames

    def fold(
        self,
        spark: SparkSession,
        path: str,
        rows: DataFrame,
        encode: Callable[[dict, DataFrame], object],
    ) -> None:
        """O(delta) append: drop the ``rows`` whose id is already
        stored, ``encode(params, new_rows)`` them into one delta frame
        per table (attributes, as for :meth:`save`), and append each by
        its layout, the id table last.

        The replay guard anti-joins the ids of the LAST table, which
        holds exactly one row per id, so a replayed or overlapping
        batch folds in as a no-op instead of duplicating rows
        (duplicate codes duplicate search results; duplicate bands
        inflate every candidate set). A table that may hold no row for
        some id cannot guard: dedup ``bands`` has none for an
        empty-text document, which let that id in again on every
        replay. The guard is one column-pruned scan + distinct of the
        stored ids, O(index ids), evaluated lazily inside the appends
        (no extra Spark job); the standing tables' content is never
        re-read."""
        p = path.rstrip("/")
        params, bucketed = _layout(spark, p)
        id_col = params["id_col"]
        last = self.tables[-1]
        stored = (
            _scan(spark, last, f"{p}/{last.name}", id_col, bucketed)
            .select(id_col)
            .distinct()
        )
        delta = encode(params, rows.join(stored, id_col, "left_anti"))
        for t in self.tables:
            tp, df = f"{p}/{t.name}", getattr(delta, t.name)
            kt = _keyed(spark, t, tp, id_col, bucketed)
            if kt is not None:
                kt.append(df)
            else:
                _write(df, t.partition_col, tp, "append")

    def erase(self, spark: SparkSession, path: str, ids: DataFrame) -> int:
        """Erase ``ids`` from every table under its layout
        (``KeyedTable.erase`` or ``erasure._erase_rows``); returns the
        distinct ids erased — the rows erased from the one-row-per-id
        table, the uniform ``erase_*`` unit."""
        p = path.rstrip("/")
        params, bucketed = _layout(spark, p)
        id_col = params["id_col"]
        ids = _resolve_ids(ids, id_col, "Lane.erase")
        n = 0
        for t in self.tables:
            tp = f"{p}/{t.name}"
            kt = _keyed(spark, t, tp, id_col, bucketed)
            if kt is not None:
                n = kt.erase(ids)
            else:
                n = _erase_rows(spark, tp, id_col, ids, t.partition_col)
        return n


def ingest_batch(
    batch: DataFrame,
    batch_id: int,
    out_dir: str,
    gate: Callable[[], tuple[DataFrame, Callable[[DataFrame], object]]],
) -> None:
    """One micro-batch of a lane's streaming ingest-AND-fold loop,
    exactly-once under foreachBatch's at-least-once contract by
    construction across every crash window:

    - committed marker present -> pure no-op (fast replay skip);
    - ``gate()`` returns (survivors, fold). It must gate against the
      index state EXCLUDING the batch's own ids, so a replay after the
      fold landed but before the marker re-derives the IDENTICAL
      survivor set instead of rejecting every survivor as a duplicate
      of its own folded rows (silent data loss, the window a naive
      gate-then-fold leaves open);
    - survivors are eagerly checkpointed: they feed both the sink
      write and the fold, and cutting lineage keeps the fold's append
      from re-deriving a plan that re-scans the directories it is
      appending to;
    - the sink write is per-batch-directory overwrite
      (``write_idempotent_foreach_batch`` layout, read via
      ``read_sink``), so a replayed write rewrites, never appends;
    - ``fold(survivors)`` replays as a no-op through
      :meth:`Lane.fold`'s stored-id guard; the marker is written last.
    """
    spark = batch.sparkSession
    out = out_dir.rstrip("/")
    marker = f"{out}/_committed_batches/{batch_id}"
    if fs.exists(spark, marker):
        return
    survivors, fold = gate()
    survivors = survivors.localCheckpoint(eager=True)
    survivors.write.mode("overwrite").parquet(f"{out}/data/__batch={batch_id}")
    fold(survivors)
    fs.write_text(spark, marker, "committed")


def start_ingest(
    stream: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool,
):
    """Start ``on_batch`` (an :func:`ingest_batch` caller) as the
    foreachBatch loop; returns the StreamingQuery.
    ``available_now=True`` drains the backlog and TERMINATES (still
    honoring source rate limits like maxFilesPerTrigger, so the
    backlog runs as multiple sequential gated-and-folded batches);
    False runs the continuous micro-batch trigger an always-on ingest
    wants."""
    writer = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
