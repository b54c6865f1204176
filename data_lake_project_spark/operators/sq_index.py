"""Persisted int8 scalar-quantization index — the dense-exact lane
next to ann_index (IVF/PQ approximate), dedup_index, the BM25 lexical
index, and the HLL sketch rollup.

The artifact is the COMPRESSION: the corpus is encoded once into a
1-byte-per-dimension ``array<tinyint>`` codes table (4x smaller than
fp32), and every search after scans codes instead of raw embeddings —
same exact-ranking contract as ``similarity.sq_topk`` (scoring on
dequantized codes; every op correctly-rounded IEEE, so results stay
oracle-hashable). Save, load, the replay-guarded O(delta) fold
(encoding ONLY the new vectors with the FROZEN stats model) and erase
are the shared persisted-lane lifecycle, ``operators/lane.py``; the
stats model rides in its ``params.json`` sidecar.

Frozen-stats caveat (the FAISS SQ deployment contract): folds clamp
out-of-range dimensions to the trained [min, max] envelope, so a
drifting corpus degrades gracefully but a regime change warrants a
rebuild. Rebuild-vs-fold equality is CI-pinned under the same stats.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from data_lake_project_spark.operators.lane import Lane, Table
from data_lake_project_spark.operators.similarity import (
    sq_encode,
    sq_stats,
)

_LANE = Lane((Table("codes"),))


@dataclass
class SqIndex:
    codes: DataFrame  # (id, codes array<tinyint>)
    mins: list[float]
    maxs: list[float]
    params: dict


def build_sq_index(
    corpus: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> SqIndex:
    """One stats pass (2*dim scalar aggregates, no explode) + one
    narrow encode map."""
    mins, maxs = sq_stats(corpus, vec_col, dim)
    codes = sq_encode(corpus, mins, maxs, id_col, vec_col)
    return SqIndex(
        codes,
        mins,
        maxs,
        {"dim": dim, "id_col": id_col, "vec_col": vec_col},
    )


def save_sq_index(
    index: SqIndex, path: str, id_buckets: int | None = None
) -> None:
    """``id_buckets``: opt-in id-bucket layout (see ``operators/
    lane.py``) for erase-heavy deployments — GDPR erasure (and its
    doomed-row scan) prunes to the touched bucket dirs instead of
    rewriting the whole table; serving is unchanged."""
    _LANE.save(
        path,
        index,
        {**index.params, "mins": index.mins, "maxs": index.maxs},
        id_buckets=id_buckets,
    )


def load_sq_index(spark: SparkSession, path: str) -> SqIndex:
    params, t = _LANE.load(spark, path)
    mins, maxs = params.pop("mins"), params.pop("maxs")
    return SqIndex(
        t["codes"], [float(x) for x in mins], [float(x) for x in maxs], params
    )


def sq_index_apply(
    spark: SparkSession, path: str, new_corpus: DataFrame
) -> None:
    """O(delta) fold (``Lane.fold``): encode ONLY the delta with the
    saved stats and append, inside the saved layout; ids already
    stored fold in as a no-op (a positional codes table DOES duplicate
    results on replay, unlike the HLL sketch lane)."""

    def encode(p, rows):
        mins, maxs = p["mins"], p["maxs"]
        codes = sq_encode(rows, mins, maxs, p["id_col"], p["vec_col"])
        return SqIndex(codes, mins, maxs, p)

    _LANE.fold(spark, path, new_corpus, encode)


def search_sq_index(
    index: SqIndex,
    probes: DataFrame,
    k: int = 10,
    probe_id_col: str = "probe_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact dequantized-cosine top-k over the stored codes — served
    by the SAME ``similarity._sq_search`` body as the inline
    ``sq_topk`` (single-scoring-path convention), so q157 == q155 by
    construction; only the corpus encode is skipped (the probe side
    encodes on the fly with the stored stats). Output:
    (probe_id, id, qcosine)."""
    from data_lake_project_spark.operators.similarity import _sq_search

    p = index.params
    return _sq_search(
        index.codes,
        sq_encode(probes, index.mins, index.maxs, probe_id_col, p["vec_col"]),
        index.mins,
        index.maxs,
        k,
        p["id_col"],
        probe_id_col,
        exclude_self,
    )
