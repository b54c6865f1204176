"""Right-to-be-forgotten erasure across the persisted index lanes.

A 100 TB lakehouse that persists derived artifacts (ANN codes, BM25
postings, dedup bands, SQ codes) must be able to ERASE a record from
every one of them, not just from the source table — GDPR/CCPA delete
propagation. Parquet is immutable, so erasure is a targeted rewrite:

- For a table PARTITIONED on a pruning key (IVF/IVFPQ codes by
  ``__bucket``, BM25 postings by token bucket ``__tb``), only the
  partitions that actually contain the erased ids are rewritten —
  dynamic partition overwrite (`partitionOverwriteMode=dynamic`)
  leaves every other directory byte-identical (CI-pinned). At scale
  that is the difference between rewriting nprobe-sized slices and
  rewriting the whole index.
- Unpartitioned tables (SQ codes, dedup bands/sets, BM25 dl) are
  anti-join rewritten whole, unless saved id-bucketed: then the table
  is a ``sources.KeyedTable`` keyed on the id, and ``KeyedTable.erase``
  reads and swaps only the buckets the erased ids hash to.
- The HLL sketch rollup is NOT erasable in place: sketches are not
  invertible (you cannot subtract a user from a register set). The
  honest contract is :func:`rebuild_hll_keys` — recompute ONLY the
  rollup keys the erased records touched from the remaining source
  rows; every other key's sketch row is untouched.

Which table of a lane has which layout is declared once, in the lane
(``operators/lane.py``); the ``erase_*`` entry points below only name
the lane. Every rewrite eagerly materializes the surviving rows
(``localCheckpoint``) before overwriting, so the write never scans
the files it replaces (the ``compact_hll_rollup`` discipline);
``KeyedTable`` writes a tmp dir and swaps it in per bucket, and a
cluster deployment would write a new versioned directory and swap.

Semantics after erasure: serving an erased index equals serving an
index whose fold never saw the erased ids — CI-pinned per lane (for
BM25 even the df/N statistics agree, because they are derived from
the postings at serve time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Characters Hive escapes in partition directory names (Spark's
# ExternalCatalogUtils.charToEscape): control chars plus these. A raw
# f"{col}={value}" path misses the escaped directory for any such
# value, and the fully-erased-partition delete below would silently
# leave the rows on disk — the worst failure mode this module can
# have. Current lanes partition on integer buckets, but the primitive
# must not depend on that staying true.
_HIVE_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_escape_part(value) -> str:
    """Replicate Hive/Spark ``escapePathName`` for a partition VALUE
    (``None`` is the Hive default-partition directory name)."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    s = str(value)
    out = []
    for ch in s:
        if ch in _HIVE_ESCAPE or ord(ch) < 0x20:
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


def _resolve_ids(ids: DataFrame, id_col: str, ctx: str) -> DataFrame:
    """Normalize a deletion-request frame to one column named
    ``id_col``: accept a frame carrying that column, or a
    single-column frame under any name; REJECT a multi-column frame
    without it — guessing a column for a deletion request risks a
    silent no-op erase, the worst failure mode this module can have.
    The ONE resolution path for every lane layout (a contract change
    here changes them all)."""
    if id_col in ids.columns:
        return ids.select(id_col)
    if len(ids.columns) == 1:
        return ids.select(F.col(ids.columns[0]).alias(id_col))
    raise ValueError(
        f"{ctx}: ids frame has columns {ids.columns} — pass either a "
        f"single-column frame or one containing {id_col!r}"
    )


def _read_partitioned_verbatim(
    spark: SparkSession, table_path: str, partition_col: str
) -> DataFrame:
    """Read a partitioned parquet table with the partition column as
    the VERBATIM on-disk string (``b=01`` reads back as ``"01"``, not
    inferred int 1), scoped to THIS read only: the schema is built
    explicitly — data columns from one leaf file's footer plus the
    partition column as ``string`` — and a user-provided schema
    bypasses partition-type inference entirely. Round-9 ADVICE: the
    previous session-global ``partitionColumnTypeInference`` toggle
    silently gave any CONCURRENT reader of a different partitioned
    table string-typed partition columns during the window; an
    explicit schema has no cross-session blast radius. The leaf probe
    lists with ``limit=1`` — never a full-table listing."""
    from pyspark.sql.types import StringType, StructField, StructType

    from data_lake_project_spark import fs

    p = table_path.rstrip("/")
    leaves = fs.list_files(spark, p, ".parquet", limit=1)
    if not leaves:
        raise ValueError(
            f"_read_partitioned_verbatim: no parquet files under {p}"
        )
    data_schema = spark.read.parquet(leaves[0][0]).schema
    if partition_col in data_schema.names:
        # defensive: no current lane stores the partition column in the
        # data files, but if one did, the footer schema already has it
        full = data_schema
    else:
        full = StructType(
            list(data_schema.fields)
            + [StructField(partition_col, StringType())]
        )
    return spark.read.schema(full).parquet(p)


def _erase_rows(
    spark: SparkSession,
    table_path: str,
    id_col: str,
    ids: DataFrame,
    partition_col: str | None = None,
) -> int:
    """Anti-join rewrite of one parquet table; returns rows erased.

    With ``partition_col``, only partitions containing erased ids are
    rewritten (dynamic overwrite); the ids frame is broadcast (an
    erasure batch is by-contract small — a deletion request list);
    the semi-join reads every partition once to locate the ids.

    The ids frame must carry the id as a column NAMED ``id_col``, or
    be a single-column frame (then that column is the id whatever its
    name). A multi-column frame without ``id_col`` is REJECTED —
    guessing a column for a deletion request risks a silent no-op
    erase, the worst failure mode this module can have.
    """
    if partition_col is not None:
        # Read with the partition column as the VERBATIM (unescaped)
        # on-disk string, so the fully-erased-dir delete below always
        # reconstructs the directory Spark actually wrote. With
        # inference on, a dir "=01" reads back as int 1 and str()
        # renders "1" — the delete targets a non-existent dir and the
        # erased rows silently survive, this module's worst failure
        # mode. (_hive_escape_part fixes the escaping half; the
        # explicit-schema read fixes the inference half, per-read.)
        t = _read_partitioned_verbatim(spark, table_path, partition_col)
    else:
        t = spark.read.parquet(table_path)
    ids = F.broadcast(_resolve_ids(ids, id_col, "_erase_rows").distinct())
    doomed = t.join(ids, id_col, "left_semi")
    n = doomed.count()
    if n == 0:
        return 0
    if partition_col is not None:
        from data_lake_project_spark import fs

        parts = [
            r[0]
            for r in doomed.select(partition_col).distinct().collect()
        ]
        if any(p is None for p in parts):
            # isin() can't match NULL and the dir delete below would
            # miss __HIVE_DEFAULT_PARTITION__ — fail loud rather than
            # return a positive count while rows survive (no current
            # lane produces NULL partition values)
            raise ValueError(
                "_erase_rows: NULL partition values in the erase set "
                f"of {table_path} — unsupported for partitioned erase"
            )
        survivors = (
            t.filter(F.col(partition_col).isin(parts))
            .join(ids, id_col, "left_anti")
            # restore the one-file-per-partition layout the save paths
            # enforce (retrieval.py measured the pruned scan SLOWER
            # than unpartitioned when bucket dirs shatter into
            # task-count files)
            .repartition(F.col(partition_col))
            .localCheckpoint(eager=True)
        )
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(table_path)
        )
        # a partition whose rows were ALL erased has no survivor rows,
        # so dynamic overwrite never touches its directory — the
        # erased rows would silently remain; delete those dirs
        alive = {
            r[0] for r in survivors.select(partition_col).distinct().collect()
        }
        for p in parts:
            if p not in alive:
                fs.delete(
                    spark,
                    f"{table_path.rstrip('/')}/{partition_col}="
                    f"{_hive_escape_part(p)}",
                )
    else:
        survivors = t.join(ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        survivors.write.mode("overwrite").parquet(table_path)
    return n


# The per-lane entry points below are thin adapters over
# ``operators/lane.py`` (``Lane.erase``): every table is rewritten under
# its declared layout and the return value is the DISTINCT ids erased
# from the lane's one-row-per-id table — the one unit every ``erase_*``
# reports (round-7 ADVICE: callers reconciling a deletion request
# against per-lane receipts need one unit, never postings/band rows).


def erase_ann_index(spark: SparkSession, path: str, ids: DataFrame) -> int:
    """Erase vectors from a persisted ann_index; bucket-partitioned
    kinds rewrite only the buckets the ids live in."""
    from data_lake_project_spark.operators.ann_index import _lane_of

    return _lane_of(spark, path).erase(spark, path, ids)


def erase_sq_index(spark: SparkSession, path: str, ids: DataFrame) -> int:
    """Erase vectors from a persisted sq_index. The frozen stats model
    is untouched: it is an aggregate envelope, not per-record data. An
    index saved with ``id_buckets=N`` scans and rewrites only the
    touched buckets (``KeyedTable.erase``); everything else stays
    byte-identical."""
    from data_lake_project_spark.operators.sq_index import _LANE

    return _LANE.erase(spark, path, ids)


def erase_bm25_index(spark: SparkSession, path: str, ids: DataFrame) -> int:
    """Erase documents from a persisted BM25 index: the bucketed
    postings rewrite only the token buckets containing the docs'
    terms; dl rewrites whole (doc-count-sized). df and (N, avgdl) are
    DERIVED from these tables at serve time, so post-erasure scoring
    equals an index that never ingested the docs."""
    from data_lake_project_spark.operators.retrieval import _LANE

    return _LANE.erase(spark, path, ids)


def erase_dedup_index(
    spark: SparkSession, path: str, ids: DataFrame
) -> int:
    """Erase documents from a persisted dedup index (bands + sets)."""
    from data_lake_project_spark.operators.dedup_index import _LANE

    return _LANE.erase(spark, path, ids)


def rebuild_hll_keys(
    spark: SparkSession,
    path: str,
    remaining: DataFrame,
    touched_keys: DataFrame,
    keys: list[str],
    value_col: str,
    lg_k: int = 12,
) -> None:
    """Erasure for the sketch lane: HLL registers cannot subtract, so
    the keys the erased records touched are RECOMPUTED from
    ``remaining`` (the source minus erased rows, pre-filtered by the
    caller) and every other key's rows pass through untouched. Cost
    is O(remaining rows in touched keys) + a rollup-sized rewrite.
    ``lg_k`` is a fallback: a precision recorded at save time wins
    (a mismatched rebuild would poison every later union)."""
    import json

    from data_lake_project_spark import fs
    from data_lake_project_spark.operators.sketches import (
        build_hll_rollup,
        load_hll_rollup,
        stored_hll_lg_k,
    )

    stored = stored_hll_lg_k(spark, path)
    lg_k = stored or lg_k
    tk = F.broadcast(touched_keys.select(*keys).distinct())
    fresh = build_hll_rollup(
        remaining.join(tk, keys, "left_semi"), keys, value_col, lg_k
    )
    untouched = load_hll_rollup(spark, path).join(tk, keys, "left_anti")
    merged = untouched.unionByName(fresh).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(path)
    if stored is not None:  # the overwrite deleted the params file
        fs.write_text(
            spark,
            f"{path.rstrip('/')}/_hll_params.json",
            json.dumps({"lg_k": stored}),
        )
