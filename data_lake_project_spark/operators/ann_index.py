"""Persisted ANN indexes: train once, encode once, search many times.

The one-shot operators (``similarity.ivf_topk`` / ``pq_topk`` /
``ivfpq_topk``) compose training + corpus encode + search inline, which
re-derives the codebooks and re-encodes the corpus on every call — fine
for an exploratory query, wasteful as a serving path: at 100 TB the
encode pass IS the dominant cost, and the production FAISS shape trains
once, persists the index, and amortizes it across every subsequent
query batch.

This module is that shape, Spark-first:

- the **model** (coarse centroids and/or PQ codebooks — kilobytes)
  rides in the lane's ``params.json`` sidecar;
- the **codes** (one row per corpus vector: bucket and/or PQ codes, and
  for IVF the double vector + its norm) are a parquet table partitioned
  like any other corpus-keyed table — the 100 TB object. Encoding runs
  once per corpus version, searches never touch the raw embedding
  column again (PQ kinds) or re-derive assignments (IVF).

Save, load, the replay-guarded O(delta) fold and erase are the shared
persisted-lane lifecycle (``operators/lane.py``); the kind picks the
codes layout.

``build → save → load → search`` produces IDENTICAL top-k to the
corresponding inline operator because both compose the same stage
functions (``similarity._train_* / _pq_encode / _adc_search /
_ivf_assign / _ivf_search``) — the round-trip equivalence is CI-pinned
in ``tests/test_operators.py``.

Reference parity: the reference has no ANN at all; this extends the
LLM-pipeline surface (SURVEY.md §2.9) the same way q33/q37/q129/q133
do, adding the index lifecycle those queries priced inline.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from data_lake_project_spark.operators.lane import Lane, Table, read_params
from data_lake_project_spark.operators.similarity import (
    _adc_search,
    _ivf_assign,
    _ivf_search,
    _pq_encode,
    _train_cosine_centroids,
    _train_pq_codebooks,
)

# The codes layout per kind: IVF kinds partition by ``__bucket``, so a
# search's bucket equi-join (broadcast probe side) triggers DYNAMIC
# PARTITION PRUNING and the scan touches only the probed buckets'
# directories (plan assertion CI-pinned in test_plans).
_BUCKETED = Lane((Table("codes", partition_col="__bucket"),))
_LANES = {"ivf": _BUCKETED, "pq": Lane((Table("codes"),)), "ivfpq": _BUCKETED}
_KINDS = tuple(_LANES)


@dataclass
class AnnIndex:
    """A built ANN index: tiny driver-side model + distributed codes.

    ``centroids``: raw-space for ``ivf`` (cosine ranking is
    norm-invariant), unit-normalized for ``ivfpq`` (the ADC probe
    resolution dots against unit centroids). ``codes`` schema by kind:
    ``ivf`` (id, __bucket, __v, __nrm), ``pq`` (id, __codes),
    ``ivfpq`` (id, __bucket, __codes).

    ``persisted``: True iff ``codes`` is a parquet scan of a saved
    index (set by load/apply). Gates the ivf search's driver-side
    bucket pre-filter: on a scan it is compile-time partition
    pruning; on a freshly-BUILT index it would instead be predicate-
    pushed through the assignment projection, substituting the whole
    centroid-scoring-over-embedding tree into the Filter and
    re-evaluating it per row (measured 15 s vs 0.9 s on q143's
    chunk-embed corpus).
    """

    kind: str
    params: dict
    centroids: list | None
    codebooks: list | None
    codes: DataFrame
    persisted: bool = False


def build_ann_index(
    corpus: DataFrame,
    kind: str = "ivfpq",
    *,
    n_centroids: int = 16,
    m_subspaces: int = 16,
    n_codes: int = 64,
    dim: int | None = None,
    lloyd_iters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list | None = None,
    codebooks=None,
) -> AnnIndex:
    """Train the model on a bounded lowest-id sample (deterministic —
    no RNG, same corpus → same index) and encode the corpus in ONE
    pass. The returned ``codes`` DataFrame is lazy; ``save_ann_index``
    or any action materializes the encode.

    ``lloyd_iters`` defaults per kind to the one-shot operators'
    defaults (ivf: 1, pq/ivfpq: 8) so a round-trip reproduces their
    exact output.

    ``centroids`` / ``codebooks`` inject a pre-trained model and skip
    the sample collect + training entirely (zero pre-encode Spark
    jobs) — the same train-once production path the one-shot
    operators expose (``ivf_topk(centroids=)``,
    ``pq_topk(codebooks=)``, ``ivfpq_topk(centroids=, codebooks=)``).
    Kinds validate what they need: ivf takes centroids only, pq takes
    codebooks only, ivfpq requires BOTH or NEITHER (a half-injected
    index silently mixes two quantizers).
    """
    import numpy as np

    if kind not in _KINDS:
        raise ValueError(f"build_ann_index: unknown kind {kind!r}")
    ctx = f"build_ann_index[{kind}]"
    if kind == "ivf" and codebooks is not None:
        raise ValueError(f"{ctx}: an ivf index takes no codebooks")
    if kind == "pq" and centroids is not None:
        raise ValueError(f"{ctx}: a plain pq index takes no centroids")
    if kind == "ivfpq" and (centroids is None) != (codebooks is None):
        raise ValueError(
            f"{ctx}: supply both centroids and codebooks, or neither"
        )

    def index(d, iters, cents, cb):
        params = {
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": d,
            "n_centroids": n_centroids,
            "m_subspaces": m_subspaces,
            "n_codes": n_codes,
            "lloyd_iters": iters,
        }
        return _encoded(AnnIndex(kind, params, cents, cb, None), corpus)

    if centroids is not None or codebooks is not None:
        return index(
            *_injected_model(
                kind,
                n_centroids,
                m_subspaces,
                n_codes,
                dim,
                centroids,
                codebooks,
                ctx,
            )
        )
    if kind == "ivf":
        iters = 1 if lloyd_iters is None else lloyd_iters
        sample_size = max(n_centroids * 32, 256)
    elif kind == "pq":
        iters = 8 if lloyd_iters is None else lloyd_iters
        # n_centroids is irrelevant to a plain PQ index; folding it in
        # would train on a DIFFERENT sample than pq_topk and break the
        # round-trip == inline guarantee for non-default parameters
        sample_size = max(n_codes * 32, 256)
    else:
        iters = 8 if lloyd_iters is None else lloyd_iters
        sample_size = max(n_codes * 32, n_centroids * 32, 256)
    sample = np.array(
        [
            [float(x) for x in r[0]]
            for r in corpus.select(vec_col, id_col)
            .orderBy(id_col)
            .limit(sample_size)
            .collect()
        ]
    )
    if sample.size == 0:
        raise ValueError(f"{ctx}: corpus is empty — cannot train")
    d = sample.shape[1]
    if dim is not None and d != dim:
        raise ValueError(f"{ctx}: embedding width {d} != dim={dim}")

    if kind == "ivf":
        if sample.shape[0] < n_centroids:
            raise ValueError(
                f"{ctx}: corpus has {sample.shape[0]} vectors, fewer "
                f"than n_centroids={n_centroids}"
            )
        seeds = _train_cosine_centroids(sample, n_centroids, max(0, iters))
        cents_vals = [
            [float(x) for x in seeds[i]] for i in range(n_centroids)
        ]
        return index(d, iters, cents_vals, None)

    if d % m_subspaces != 0:
        raise ValueError(
            f"{ctx}: dim {d} not divisible by m_subspaces={m_subspaces}"
        )
    if sample.shape[0] < max(n_codes, n_centroids if kind == "ivfpq" else 0):
        raise ValueError(
            f"{ctx}: sample of {sample.shape[0]} vectors is smaller "
            "than the codebook/centroid count"
        )
    dsub = d // m_subspaces
    unit = np.asarray(_unit_rows(sample))
    cb = _train_pq_codebooks(unit, m_subspaces, n_codes, dsub, max(1, iters))
    cb_out = [[[float(x) for x in code] for code in sub] for sub in cb]

    if kind == "pq":
        return index(d, iters, None, cb_out)
    seeds = _train_cosine_centroids(sample, n_centroids, max(1, iters))
    return index(d, iters, _unit_rows(seeds), cb_out)


def _unit_rows(m) -> list:
    """Row-normalized (zero rows kept) as nested float lists — the
    PQ training input and the stored form of ivfpq centroids."""
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return [[float(x) for x in v] for v in m / n]


def _encoded(index: AnnIndex, corpus: DataFrame) -> AnnIndex:
    """``index`` with ``codes`` = ``corpus`` encoded under its frozen
    model — the ONE encode path of the trained build, the injected
    build and the fold (so fold ≡ rebuild by construction)."""
    import numpy as np

    p = index.params
    if index.kind == "ivf":
        codes = _ivf_assign(
            corpus, index.centroids, p["id_col"], p["vec_col"]
        ).select(p["id_col"], "__bucket", "__v", "__nrm")
    else:
        codes = _pq_encode(
            corpus,
            np.asarray(index.codebooks, dtype=float),
            np.asarray(index.centroids, dtype=float)
            if index.kind == "ivfpq"
            else None,
            p["id_col"],
            p["vec_col"],
        )
    return replace(index, codes=codes)


def _injected_model(
    kind, n_centroids, m_subspaces, n_codes, dim, centroids, codebooks, ctx
):
    """The zero-training path of :func:`build_ann_index`: validate the
    injected model's shape and return (dim, 0 iters, centroids,
    codebooks) in the trained path's stored layout (ivf keeps raw
    centroids; ivfpq stores unit centroids — the form
    ``search_ann_index`` expects per kind)."""
    import numpy as np

    if kind in ("ivf", "ivfpq"):
        if len(centroids) != n_centroids:
            raise ValueError(
                f"{ctx}: {len(centroids)} centroids supplied but "
                f"n_centroids={n_centroids}"
            )
        widths = {len(v) for v in centroids}
        if len(widths) != 1:
            # mirror ivf_topk's fail-fast: np.array on ragged input
            # dies with an opaque numpy error instead
            raise ValueError(
                f"{ctx}: ragged centroid widths {sorted(widths)}"
            )
        seeds = np.array([[float(x) for x in v] for v in centroids])
        d = seeds.shape[1]
    if kind in ("pq", "ivfpq"):
        try:
            cb = np.asarray(codebooks, dtype=float)
        except (ValueError, TypeError) as e:
            # ragged nesting / non-numeric: same contextual fail-fast
            # as the ragged-centroid path, not an opaque numpy error
            raise ValueError(
                f"{ctx}: codebooks is not a rectangular numeric "
                f"array: {e}"
            ) from e
        if cb.ndim != 3 or cb.shape[0] != m_subspaces or cb.shape[1] != n_codes:
            raise ValueError(
                f"{ctx}: codebooks shape {cb.shape} != "
                f"({m_subspaces}, {n_codes}, d/m)"
            )
        d = cb.shape[2] * m_subspaces
    if dim is not None and d != dim:
        raise ValueError(f"{ctx}: injected model width {d} != dim={dim}")
    if kind == "ivfpq" and seeds.shape[1] != d:
        raise ValueError(
            f"{ctx}: centroid width {seeds.shape[1]} != codebook "
            f"width {d}"
        )

    if kind == "ivf":
        return d, 0, [[float(x) for x in v] for v in seeds], None
    cb_out = [[[float(x) for x in code] for code in sub] for sub in cb]
    return d, 0, _unit_rows(seeds) if kind == "ivfpq" else None, cb_out


def search_ann_index(
    index: AnnIndex,
    probes: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    probe_id_col: str = "probe_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Serve a probe batch against a built (or reloaded) index — NO
    training, NO corpus encode: the only distributed work is the
    bucket-pruned (or full-codes) scoring scan plus the per-probe
    top-k. ``nprobe`` defaults match the one-shot operators (ivf: 2,
    ivfpq: 4); plain ``pq`` scans all codes and ignores it.

    Output matches the inline operators: (probe_id, id, cosine) for
    ivf, (probe_id, id, score) for pq/ivfpq — ranked
    (rounded metric DESC, id ASC).

    ``exclude_self`` (ivf only): drop rows whose probe id equals the
    corpus id. OFF by default — a serving path's probe ids usually
    live in their own namespace (q143's query ids would collide with
    packed chunk ids and silently drop real rows); turn it on ONLY
    when probes are corpus members under the same id namespace, which
    recovers the inline ``ivf_topk`` output exactly (CI-pinned).
    PQ/IVFPQ have no self-filter in either lane.
    """
    import numpy as np

    p = index.params
    if index.kind == "ivf":
        return _ivf_search(
            index.codes,
            probes,
            index.centroids,
            2 if nprobe is None else nprobe,
            k,
            p["id_col"],
            p["vec_col"],
            probe_id_col,
            # only a persisted (scan-backed) codes table benefits:
            # see the ``persisted`` field docstring for the built-
            # index pushdown trap this gates against
            prune_scan=index.persisted,
            exclude_self=exclude_self,
        )
    cb = np.asarray(index.codebooks, dtype=float)
    dsub = cb.shape[2]
    cent_unit = (
        np.asarray(index.centroids, dtype=float)
        if index.kind == "ivfpq"
        else None
    )
    return _adc_search(
        index.codes,
        probes,
        cb,
        k,
        p["m_subspaces"],
        p["n_codes"],
        dsub,
        p["id_col"],
        probe_id_col,
        p["vec_col"],
        ctx=f"search_ann_index[{index.kind}]",
        cent_unit=cent_unit,
        nprobe=(4 if nprobe is None else nprobe)
        if index.kind == "ivfpq"
        else None,
    )


def save_ann_index(index: AnnIndex, path: str) -> None:
    """Persist the index: codes as parquet (the distributed object)
    under the kind's layout, the model in the sidecar."""
    _LANES[index.kind].save(
        path,
        index,
        {
            **index.params,
            "kind": index.kind,
            "centroids": index.centroids,
            "codebooks": index.codebooks,
        },
    )


def _from_sidecar(m: dict, codes: DataFrame | None) -> AnnIndex:
    params = {
        k: v
        for k, v in m.items()
        if k not in ("kind", "centroids", "codebooks")
    }
    return AnnIndex(
        m["kind"], params, m["centroids"], m["codebooks"], codes, True
    )


def _lane_of(spark: SparkSession, path: str) -> Lane:
    kind = read_params(spark, path)["kind"]
    if kind not in _LANES:
        raise ValueError(f"ann_index: unknown kind {kind!r} at {path}")
    return _LANES[kind]


def ann_index_apply(
    spark: SparkSession, path: str, new_corpus: DataFrame
) -> None:
    """Persisted O(delta) maintenance fold (``Lane.fold``) — the
    growing-corpus story: encode ONLY ``new_corpus`` with the SAVED
    model (no retraining — the codebooks/centroids are the frozen
    artifact, exactly how a production FAISS index absorbs new
    vectors) and append the codes next to the standing ones; ids
    already stored fold in as a no-op (duplicated codes would
    duplicate search results).
    Incremental ≡ full rebuild is CI-pinned (same model → the encode
    is a pure deterministic map, so fold order cannot matter).
    """
    _lane_of(spark, path).fold(
        spark,
        path,
        new_corpus,
        lambda m, rows: _encoded(_from_sidecar(m, None), rows),
    )


def load_ann_index(spark: SparkSession, path: str) -> AnnIndex:
    """Reload a saved index. The codes frame is a plain parquet scan —
    partition pruning / pushdown apply as with any table."""
    m, t = _lane_of(spark, path).load(spark, path)
    return _from_sidecar(m, t["codes"])
