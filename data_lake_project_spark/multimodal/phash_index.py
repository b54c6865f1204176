"""Persisted perceptual-fingerprint index: the image ingest gate.

``phash.phash_neardup`` finds near-duplicates WITHIN a frame; a real
multimodal pipeline also needs the other shape — gate each ingested
image batch against the standing corpus WITHOUT refingerprinting the
corpus (the ``operators/dedup_index.py`` argument applied to the
image lane: at 100 TB the corpus-side pass is the dominant cost, so
fingerprint once, persist, fold each batch in as an O(delta) append).

The index is a persisted lane (``operators/lane.py`` owns save, load,
the replay-guarded O(delta) fold and erase) of ONE narrow parquet
table — ``codes`` (id, pband0..3, ~40 bytes/row whatever the image
size). Because a
fingerprint is a pure per-row function of the raster bytes, the
incremental fold is trivially EXACT (fold == rebuild is row-set
equality, CI-pinned), and erasure is a plain anti-join rewrite —
every lifecycle leg the heavier indexes earn with proofs, this one
gets by construction.

Serving: band-join the batch fingerprints against the stored codes
(4x16-bit bands — exact recall for Hamming <= 3, the
``phash.phash_neardup`` pigeonhole), verify with ``bit_count(xor)``.
Join cost scales with the batch band count, never the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_project_spark.multimodal.phash import (
    N_BANDS,
    _BAND_COLS,
    ahash64,
    hamming64,
)
from data_lake_project_spark.operators.lane import (
    Lane,
    Table,
    ingest_batch,
    read_params,
    start_ingest,
)

_LANE = Lane((Table("codes"),))


@dataclass
class PhashIndex:
    """A loaded fingerprint index: params + the codes frame."""

    params: dict
    codes: DataFrame


def build_phash_index(
    images: DataFrame, image_col: str = "image", id_col: str = "doc_id"
) -> PhashIndex:
    """Fingerprint a corpus into the narrow codes frame (lazy). Empty
    rasters are excluded — they carry no brightness signal and must
    not match each other (the ``ahash64`` NULL contract). The
    exclusion filters the INPUT (``length > 0`` — exactly the NULL
    condition), never the band columns: a ``pband0 IS NOT NULL``
    filter gets predicate-pushed below the hash's Project, inlining
    the hex buffer into the filter tree 64x per row (measured 80x
    slower at sf0.1)."""
    codes = ahash64(
        images.filter(F.length(F.col(image_col)) > 0),
        image_col=image_col,
    ).select(id_col, *_BAND_COLS)
    return PhashIndex({"id_col": id_col}, codes)


def save_phash_index(index: PhashIndex, path: str) -> None:
    _LANE.save(path, index, index.params)


def load_phash_index(spark: SparkSession, path: str) -> PhashIndex:
    params, t = _LANE.load(spark, path)
    return PhashIndex(params, t["codes"])


def phash_index_apply(
    spark: SparkSession,
    path: str,
    new_images: DataFrame,
    image_col: str = "image",
    delta_codes: DataFrame | None = None,
) -> None:
    """The O(delta) maintenance fold (``Lane.fold``): fingerprint ONLY
    the new images and append — the corpus is never rescanned; ids
    already stored fold in as a no-op. ``delta_codes``: precomputed
    fingerprints of ``new_images`` (the gate-and-fold loop already
    holds one fingerprint pass over the batch — reuse it instead of
    rehashing the survivors; a fingerprint is a pure per-row function
    of the bytes, so the two paths are row-identical by
    construction)."""
    if delta_codes is None:
        id_col = read_params(spark, path)["id_col"]
        delta_codes = build_phash_index(new_images, image_col, id_col).codes
    # the codes ARE the delta table: PhashIndex(params, codes) carries it
    _LANE.fold(spark, path, delta_codes, PhashIndex)


def erase_phash_index(
    spark: SparkSession, path: str, ids: DataFrame
) -> int:
    """Right-to-be-forgotten for the fingerprint lane (``Lane.erase``;
    returns distinct ids erased). Post-erase state trivially equals
    never-ingested: fingerprints are per-row, no cross-record
    statistics exist to rebuild."""
    return _LANE.erase(spark, path, ids)


def _band_rows(codes: DataFrame, id_col: str, out_id: str) -> DataFrame:
    """(id, pband0..3) -> (out_id, band, val) — one row per band, the
    LSH-candidate join key shape."""
    return codes.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"pband{b}").alias("val"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(out_id, "bk.band", "bk.val")


def phash_index_matches(
    index: PhashIndex,
    batch: DataFrame,
    image_col: str = "image",
    max_hamming: int = 3,
    batch_codes: DataFrame | None = None,
) -> DataFrame:
    """Every (batch id, stored id, hamming) pair within
    ``max_hamming`` — the audit view of the gate (who matched whom).
    The batch is fingerprinted inline (it is the delta — small by
    contract); the corpus side is the prebuilt codes. Exactness: same
    4-band pigeonhole as ``phash_neardup``, same threshold guard.

    ``batch_codes``: a caller that already fingerprinted the batch
    (the gate-and-fold loop reuses one pass for the collision guard,
    the self-dedup join AND this gate) passes the codes frame to skip
    the re-fingerprint; it must be the ``build_phash_index`` output
    for exactly the rows of ``batch``.

    Output: (id, dup_of, hamming) where ``id`` is the batch id column
    name from the index params."""
    if max_hamming > N_BANDS - 1:
        raise ValueError(
            f"phash_index_matches: max_hamming={max_hamming} breaks "
            f"the {N_BANDS}-band exactness guarantee (recall 1 only "
            f"for max_hamming <= {N_BANDS - 1})"
        )
    id_col = index.params["id_col"]
    bfp = (
        build_phash_index(batch, image_col=image_col, id_col=id_col)
        .codes.localCheckpoint(eager=True)
        if batch_codes is None
        else batch_codes
    )
    cand = (
        _band_rows(bfp, id_col, "__bid")
        .join(_band_rows(index.codes, id_col, "__cid"), ["band", "val"])
        .select("__bid", "__cid")
        .distinct()
    )
    a = bfp.select(
        F.col(id_col).alias("__bid"),
        *[F.col(c).alias(f"a_{c}") for c in _BAND_COLS],
    )
    b = index.codes.select(
        F.col(id_col).alias("__cid"),
        *[F.col(c).alias(f"b_{c}") for c in _BAND_COLS],
    )
    return (
        cand.join(a, "__bid")
        .join(b, "__cid")
        .withColumn("hamming", hamming64("a_", "b_"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("__bid").alias(id_col),
            F.col("__cid").alias("dup_of"),
            "hamming",
        )
    )


def gate_against_phash_index(
    index: PhashIndex,
    batch: DataFrame,
    image_col: str = "image",
    max_hamming: int = 3,
    batch_codes: DataFrame | None = None,
) -> DataFrame:
    """The ingest gate: batch rows that are NOT perceptual duplicates
    of any indexed image (one anti-join over the match set) — the
    ``dedup_against_index`` shape for the image lane. Rows with empty
    rasters pass through (nothing to match), mirroring the build-side
    exclusion. ``batch_codes``: precomputed batch fingerprints (see
    ``phash_index_matches``)."""
    dup = (
        phash_index_matches(
            index, batch, image_col, max_hamming, batch_codes=batch_codes
        )
        .select(index.params["id_col"])
        .distinct()
    )
    return batch.join(dup, index.params["id_col"], "left_anti")


def gate_and_fold_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    out_dir: str,
    image_col: str = "image",
    max_hamming: int = 3,
) -> None:
    """One micro-batch of the streaming ingest-AND-fold loop — the
    exactly-once ``lane.ingest_batch`` protocol: drop the batch's OWN
    intra-batch near-duplicates (keep-lowest-id), gate the survivors
    against the index state minus the batch's own ids (one anti-join
    on the codes), land them in the batch's own sink directory, fold
    them into the index, then mark the batch committed. Module-level
    (not a closure) so the replay window can be pinned directly in
    tests.

    Intra-batch dedup: a real crawl burst delivers an original AND its
    perceptual twin inside ONE micro-batch — neither is in the prior
    index, so an index-only gate admits and folds both. The batch is
    therefore self-deduplicated FIRST (``phash_neardup`` band
    self-join over the batch fingerprints only — batch-sized — then
    one anti-join against the doomed larger-id pair ends: every row
    with a near-dup of smaller id drops, matching the
    oracle-expressible "no smaller-id in-batch match" predicate, and
    rows that never fingerprint — empty OR NULL rasters — pass
    through untouched because they cannot appear in the pair set).
    Deterministic across replays because the rule depends only on ids
    and fingerprints.

    Id contract: ``doc_id`` is a stable replay key — a replayed batch
    carries the SAME (id, bytes) rows. A batch id that already exists
    in the index with a DIFFERENT fingerprint is an id collision, not
    a replay; it would silently desync sink and index (admitted by the
    own-id-excluded gate, dropped by the fold's stored-id guard), so
    it raises instead.
    """
    ingest_batch(
        batch,
        batch_id,
        out_dir,
        lambda: _gate(batch, index_path, image_col, max_hamming),
    )


def _gate(batch, index_path, image_col, max_hamming):
    """``gate_and_fold_batch``'s (survivors, fold) for ``ingest_batch``."""
    from data_lake_project_spark.multimodal.phash import phash_neardup

    spark = batch.sparkSession
    idx = load_phash_index(spark, index_path)
    id_col = idx.params["id_col"]
    # ONE fingerprint pass over the batch, reused by the collision
    # guard, the intra-batch self-join, the index gate and the fold
    bfp = (
        build_phash_index(batch, image_col=image_col, id_col=id_col)
        .codes.localCheckpoint(eager=True)
    )
    # collision leg 1: a fingerprinted batch id stored with a
    # DIFFERENT fingerprint. Leg 2: an UNFINGERPRINTED batch id
    # (empty/NULL raster — excluded from bfp by build_phash_index)
    # whose id is already stored: stored codes always carry a
    # fingerprint, so same id => different bytes — the same collision
    # arriving through the empty-raster passthrough, which would
    # otherwise bypass the guard, sail through the gate, land in the
    # sink, and no-op in the fold (sink/index desync).
    stored_fp = idx.codes.select(
        id_col, *[F.col(c).alias(f"s_{c}") for c in _BAND_COLS]
    )
    collisions = (
        bfp.join(stored_fp, id_col)
        .filter(" OR ".join(f"{c} <> s_{c}" for c in _BAND_COLS))
        .select(id_col)
        .unionByName(
            batch.select(id_col)
            .join(bfp.select(id_col), id_col, "left_anti")
            .join(stored_fp.select(id_col), id_col, "left_semi")
        )
        .limit(1)
        .collect()
    )
    if collisions:
        raise ValueError(
            f"gate_and_fold_batch: batch id "
            f"{collisions[0][id_col]!r} already stored with a "
            "DIFFERENT fingerprint — ids must be stable replay keys "
            "(same id => same bytes); an id collision would desync "
            "sink and index"
        )
    self_pairs = phash_neardup(bfp, id_col=id_col, max_hamming=max_hamming)
    # one anti-join against the doomed (larger-id) ends keeps every
    # non-doomed row — fingerprinted survivors AND empty/NULL rasters
    # (which never fingerprint, so never appear in self_pairs) — with
    # no special-case passthrough union
    self_doomed = self_pairs.select(
        F.col("id_b").alias(id_col)
    ).distinct()
    batch = batch.join(self_doomed, id_col, "left_anti")
    prior = PhashIndex(
        idx.params,
        idx.codes.join(batch.select(id_col), id_col, "left_anti"),
    )
    kept = bfp.join(self_doomed, id_col, "left_anti")
    survivors = gate_against_phash_index(
        prior, batch, image_col, max_hamming, batch_codes=kept
    )
    # the fold keeps the fingerprints to survivor ids: empty/NULL-
    # raster passthrough rows never fingerprint so they semi-join
    # out, exactly matching what rehashing the survivors would produce
    return survivors, lambda s: phash_index_apply(
        spark,
        index_path,
        s,
        image_col=image_col,
        delta_codes=kept.join(s.select(id_col), id_col, "left_semi"),
    )


def stream_ingest_with_phash_gate(
    stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    image_col: str = "image",
    max_hamming: int = 3,
    available_now: bool = False,
):
    """The production image-ingest loop (what q192's static-index gate
    demos, closed into a cycle like the dedup/BM25 serve-before-ingest
    loops): every micro-batch is gated against the index state built
    by ALL PRIOR batches, and its survivors are folded in before the
    next batch arrives — batch N+1's duplicates of batch N's survivors
    are rejected. Micro-batch work is batch-sized (band-join + verify
    + O(delta) fold); the corpus is never refingerprinted.

    Returns the started StreamingQuery (``available_now``: see
    ``lane.start_ingest``); read admitted rows back with
    ``streaming.pipeline.read_sink(spark, out_dir)``.
    """
    return start_ingest(
        stream,
        lambda df, batch_id: gate_and_fold_batch(
            df, batch_id, index_path, out_dir, image_col, max_hamming
        ),
        checkpoint_dir,
        available_now,
    )
