"""Persisted kNN-graph index with EXACT O(N x delta) maintenance.

The seventh persisted lifecycle (after dedup bands, IVF/PQ ANN, BM25,
HLL rollup, SQ codes, the GDPR bundle): the mutual-kNN graph family
(``similarity.knn_graph``) gets the build-once / fold-deltas /
serve-many shape every other index lane has. The maintenance insight
that makes the fold EXACT rather than approximate: cosine(a, b) never
changes when the corpus grows, so ingesting a delta batch D can only
push existing neighbors DOWN a node's ranking — the new top-k of any
old node is a subset of (its stored top-k) UNION D. Folding therefore
scores only old x D and D x (old UNION D) pairs — O(N x |D|) work, never
the O(N^2) rebuild — then re-ranks each union under the same
(cosine desc, id) key, and the result is bit-identical to a fresh
full rebuild (CI-pinned, and q187 hash-pins the folded index's mutual
graph against q180's from-scratch oracle).

Deletion cannot reuse the stored edges alone (removing a neighbor
exposes rank k+1, which was never stored); :func:`erase_knn_index`
implements the honest bounded contract instead — only the nodes that
LOST a neighbor re-probe the remaining corpus, everyone else's edges
pass through verbatim, and the result equals an index that never
ingested the erased ids (erase == never-ingested, the
``operators/erasure.py`` contract, CI-pinned and driver-hash-proven
by q188).

Layout: a persisted lane (``operators/lane.py`` — save, load and the
params sidecar: k, id/vec columns, rounding) of ``edges`` (directed
top-k: src, dst, cosine) and ``vectors`` (the corpus the NEXT fold
scores against). The fold and erase stay here: edges rewrite whole
on fold (they are (N x k)-sized — the small derived artifact, not the
corpus); vectors APPEND the delta.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_project_spark.functions import pround
from data_lake_project_spark.operators.lane import Lane, Table
from data_lake_project_spark.operators.similarity import (
    _as_double,
    _norm,
    knn_graph,
    spread,
)

_LANE = Lane((Table("edges"), Table("vectors")))


def save_knn_index(
    vecs: DataFrame,
    path: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    impl: str = "expr",
) -> None:
    """Build the directed top-k edge table from scratch and persist
    edges + corpus vectors + params (``Lane.save``)."""
    edges = knn_graph(
        vecs,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        mutual=False,
        round_digits=round_digits,
        impl=impl,
    )
    _LANE.save(
        path,
        SimpleNamespace(edges=edges, vectors=vecs.select(id_col, vec_col)),
        {
            "k": k,
            "id_col": id_col,
            "vec_col": vec_col,
            "round_digits": round_digits,
        },
    )


def load_knn_edges(spark: SparkSession, path: str) -> DataFrame:
    """The directed top-k edge table (src, dst, cosine)."""
    return spark.read.parquet(f"{path.rstrip('/')}/edges")


def mutual_knn_edges(edges: DataFrame) -> DataFrame:
    """Directed top-k edges -> the undirected mutual graph
    (src < dst), the same symmetrization ``knn_graph(mutual=True)``
    applies; the edge frame feeds both join sides, so it is eagerly
    cut once."""
    e = edges.localCheckpoint(eager=True)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return e.join(rev, ["src", "dst"], "left_semi").filter(
        F.col("src") < F.col("dst")
    )


def fold_knn_index(
    spark: SparkSession, path: str, delta: DataFrame
) -> int:
    """Ingest a delta batch with O(N x |delta|) scoring, exactly (see
    module docstring): new nodes probe the grown corpus for their own
    top-k; every OLD node scores only the delta (its possible new
    neighbors), and stored-edges UNION delta-candidates re-ranks
    under the same (cosine desc, dst) key. Returns the number of
    delta vectors folded.

    The delta rides a broadcast both ways (an ingest batch is small
    by contract — the O(delta) premise); the corpus-sized frame is
    never shuffled, only scanned. Both new frames are eagerly cut
    before the edges overwrite so the write never scans the files it
    replaces (the erasure-module discipline).

    Delta ids must be DISJOINT from the stored corpus: re-ingesting
    an existing id would append a duplicate vector row and inject
    duplicate dst candidates that silently consume top-k slots —
    a corrupted index with no error. The fold validates this up
    front (one broadcast semi-join against the corpus — free next to
    the O(N x delta) scoring) and raises on any collision; an
    ingest-or-update flow should erase first, then fold."""
    prm, t = _LANE.load(spark, path)
    k, id_col, vec_col = prm["k"], prm["id_col"], prm["vec_col"]
    rd = prm["round_digits"]
    p = path.rstrip("/")
    old = t["vectors"]
    d = delta.select(id_col, vec_col)
    n_delta = d.count()
    if n_delta == 0:
        return 0
    n_dup = old.join(
        F.broadcast(d.select(id_col).distinct()), id_col, "left_semi"
    ).count()
    if n_dup:
        raise ValueError(
            f"fold_knn_index: {n_dup} delta id(s) already exist in the "
            f"stored corpus at {p!r} — folding them would duplicate "
            "vectors and corrupt top-k rankings; erase the ids first "
            "(erase_knn_index), then fold the replacements"
        )

    # new nodes' own top-k over the grown corpus (delta probes the
    # union — |delta| probes broadcast, corpus scanned once)
    grown = old.unionByName(d)
    new_edges = _directed_topk(
        grown, d, k, id_col, vec_col, rd, probe_is_src=True
    )

    # old nodes score ONLY the delta: per-OLD-node top-k of delta
    # candidates — corpus side (old) is the src and partitions the
    # window; the delta is the broadcast probe side
    upd = _directed_topk(
        old, d, k, id_col, vec_col, rd, probe_is_src=False
    )

    stored = t["edges"]
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst")
    )
    merged = (
        stored.unionByName(upd)
        .unionByName(new_edges)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(f"{p}/edges")
    d.write.mode("append").parquet(f"{p}/vectors")
    return n_delta


def _directed_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
    probe_is_src: bool,
) -> DataFrame:
    """Score every (corpus, probe) pair with the engine's exact
    sequential-fold cosine and keep top-k per SRC, where src is the
    probe side (``probe_is_src``) or the corpus side (the fold's
    old-nodes-vs-delta direction). The probe side is always the
    broadcast; the window partitions on whichever side is src."""
    c = (
        spread(corpus)
        .select(
            F.col(id_col).alias("__cid"),
            _as_double(vec_col).alias("__cv"),
        )
        .withColumn("__cn", _norm(F.col("__cv")))
    )
    pr = (
        probes.select(
            F.col(id_col).alias("__pid"),
            _as_double(vec_col).alias("__pv"),
        )
        .withColumn("__pn", _norm(F.col("__pv")))
    )
    joined = c.crossJoin(F.broadcast(pr)).filter(
        F.col("__cid") != F.col("__pid")
    )
    dot = F.aggregate(
        F.zip_with("__pv", "__cv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    joined = joined.withColumn(
        "cosine", pround(dot / (F.col("__pn") * F.col("__cn")), round_digits)
    )
    src, dst = ("__pid", "__cid") if probe_is_src else ("__cid", "__pid")
    w = Window.partitionBy(src).orderBy(
        F.col("cosine").desc(), F.col(dst)
    )
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            "cosine",
        )
    )


def erase_knn_index(
    spark: SparkSession, path: str, ids: DataFrame
) -> int:
    """Right-to-be-forgotten for the graph lane — EXACT, with a
    bounded rebuild instead of a full one: erased nodes' own edges
    and every edge pointing AT them drop; a surviving node's top-k
    can change ONLY if it lost a neighbor (removing a non-neighbor
    can never promote anyone — ranks only rise when a member leaves),
    so exactly the AFFECTED nodes re-probe the remaining corpus
    (O(|affected| x N)) and every other node's edges pass through
    untouched. Post-erase state == an index that never ingested the
    erased ids (CI-pinned; q188 hash-pins the served mutual graph
    against the from-scratch oracle over the remaining corpus).

    Returns the number of DISTINCT VECTORS erased (the uniform
    ``erase_*`` unit across every lane — ids, never edge rows). Both
    rewritten tables are eagerly cut before their overwrite (the
    erasure-module discipline: the write never scans the files it
    replaces)."""
    from data_lake_project_spark.operators.erasure import _resolve_ids

    prm, t = _LANE.load(spark, path)
    k, id_col, vec_col = prm["k"], prm["id_col"], prm["vec_col"]
    rd = prm["round_digits"]
    p = path.rstrip("/")
    vectors = t["vectors"]
    idf = F.broadcast(
        _resolve_ids(ids, id_col, "erase_knn_index").distinct()
    )
    n = vectors.join(idf, id_col, "left_semi").count()
    if n == 0:
        return 0
    remaining = vectors.join(idf, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    edges = t["edges"]
    erased_ids = idf.select(F.col(id_col).alias("__eid"))
    # survivors that LOST a neighbor — the only nodes whose top-k can
    # change; everyone else's edges pass through verbatim
    affected = (
        edges.join(
            erased_ids, edges["dst"] == F.col("__eid"), "left_semi"
        )
        .select("src")
        .distinct()
        .join(
            erased_ids, F.col("src") == F.col("__eid"), "left_anti"
        )
    )
    untouched = (
        edges.join(
            erased_ids, edges["src"] == F.col("__eid"), "left_anti"
        )
        .join(
            erased_ids, edges["dst"] == F.col("__eid"), "left_anti"
        )
        .join(affected, "src", "left_anti")
    )
    reprobe = _directed_topk(
        remaining,
        remaining.join(
            F.broadcast(affected),
            remaining[id_col] == affected["src"],
            "left_semi",
        ),
        k,
        id_col,
        vec_col,
        rd,
        probe_is_src=True,
    )
    new_edges = untouched.unionByName(reprobe).localCheckpoint(
        eager=True
    )
    new_edges.write.mode("overwrite").parquet(f"{p}/edges")
    remaining.write.mode("overwrite").parquet(f"{p}/vectors")
    return n
