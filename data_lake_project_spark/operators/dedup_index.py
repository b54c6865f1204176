"""Materialized, incrementally-maintained dedup index for a standing
corpus.

``dedup.dedup_against`` recomputes the corpus's minhash band keys and
shingle sets on every batch — correct, but at 100 TB the corpus-side
index pass IS the dominant cost, and a real incremental pipeline
computes it once, persists it, and folds each ingested batch in as an
O(delta) append (the same argument as ``operators.ann_index``: train/
index once, serve many).

The index is a persisted lane (``operators/lane.py`` owns save, load,
the replay-guarded O(delta) fold and erase) of two corpus-keyed
parquet tables:

- ``bands``  (id, band, bandsig) — the LSH candidate-join side;
- ``sets``   (id, sh)            — the shingle sets the verify stage
  joins back by id (candidates only, never the whole corpus). One row
  per doc, even for an empty text (which has no band rows), so it is
  the lane's id table.

:func:`build_dedup_index` is one corpus pass (lazy frames);
:func:`dedup_index_apply` indexes ONLY the new docs and appends
(incremental ≡ recompute is CI-pinned); :func:`dedup_against_index`
serves: gate a batch against the standing index, composition-equal
to ``dedup_against`` (which is now literally build + search).

Reference parity: extends the reference's ingest gate
(``spark_stream.py`` upsert-on-key) to content-level near-dup
gating; part of the LLM-pipeline surface (SURVEY.md §2.9, q102).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_project_spark.operators.dedup import (
    band_join,
    band_keys,
    jaccard_verify_sets,
    minhash_sets,
    shingle_sets,
)
from data_lake_project_spark.operators.lane import (
    Lane,
    Table,
    ingest_batch,
    start_ingest,
)

_LANE = Lane((Table("bands"), Table("sets")))


@dataclass
class DedupIndex:
    """A built dedup index: params + the two corpus-keyed frames."""

    params: dict
    bands: DataFrame
    sets: DataFrame


def build_dedup_index(
    corpus: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DedupIndex:
    """Index a corpus in ONE pass: shingle sets → minhash signatures →
    band keys. Deterministic (md5-seeded minhash, no RNG): the same
    corpus always produces the same index, which is what makes the
    incremental fold ≡ full recompute."""
    sets = shingle_sets(corpus, text_col, id_col, k)
    bands = band_keys(
        minhash_sets(sets, id_col, num_hashes), id_col, band_size
    )
    return DedupIndex(
        {
            "k": k,
            "num_hashes": num_hashes,
            "band_size": band_size,
            "text_col": text_col,
            "id_col": id_col,
        },
        bands,
        sets,
    )


def extend_dedup_index(index: DedupIndex, new_docs: DataFrame) -> DedupIndex:
    """In-memory O(delta) fold: index ONLY ``new_docs`` (with the
    stored params) and union — the standing frames are reused as-is,
    never recomputed. For the persisted twin see
    :func:`dedup_index_apply`."""
    delta = build_dedup_index(new_docs, **index.params)
    return DedupIndex(
        dict(index.params),
        index.bands.unionByName(delta.bands),
        index.sets.unionByName(delta.sets),
    )


def save_dedup_index(index: DedupIndex, path: str) -> None:
    _LANE.save(path, index, index.params)


def load_dedup_index(spark: SparkSession, path: str) -> DedupIndex:
    params, t = _LANE.load(spark, path)
    return DedupIndex(params, t["bands"], t["sets"])


def dedup_index_apply(
    spark: SparkSession, path: str, new_docs: DataFrame
) -> None:
    """Persisted maintenance fold (``Lane.fold``): index ONLY
    ``new_docs`` with the stored params and APPEND — the standing
    corpus's CONTENT is never recomputed or reshuffled; ids already in
    ``sets`` fold in as a no-op."""
    _LANE.fold(
        spark, path, new_docs, lambda p, docs: build_dedup_index(docs, **p)
    )


def dedup_against_index(
    index: DedupIndex,
    batch: DataFrame,
    threshold: float = 0.5,
    self_dedup: bool = False,
    b_sets: DataFrame | None = None,
) -> DataFrame:
    """Serve an ingest batch against the standing index: keep only the
    batch docs that are NOT near-duplicates (exact shingle Jaccard >=
    ``threshold``) of any indexed doc. The batch side is indexed
    inline (it is the delta — small by contract); the corpus side is
    the PREBUILT band/set tables, so join cost scales with the batch
    band count and the candidates' set fetches, exactly the
    ``dedup_against`` plan minus the corpus re-index.

    Intra-batch contract: by default the batch is assumed ALREADY
    self-deduplicated — a batch carrying both an original and its
    near-dup twin admits BOTH (neither matches the index). A crawl
    burst delivers exactly that, so an ingest-loop caller passes
    ``self_dedup=True``: a batch-LOCAL band self-join + verified
    Jaccard with the keep-lowest-id rule (a row with a matching
    SMALLER id in the same batch drops) runs BEFORE the index gate.
    Batch-sized work on both legs (the corpus is still touched only by
    the candidate fetch); deterministic across replays because the
    rule depends only on ids and shingle sets.

    ``b_sets``: optional precomputed (ideally eagerly checkpointed)
    shingle sets for EXACTLY ``batch`` under the index params. The
    shingle explode is referenced several times in this plan (self
    pair verify, index pair verify, banding) and Spark re-evaluates
    the subtree per reference; a caller that already materialized the
    sets (the streaming loop computes them for its collision guard)
    passes them here so every reference reads materialized rows.
    Pure per-row function of the text, so the result is unchanged.
    NOTE (r14, measured): reuse is only a win when it adds NO new
    action or join — an eagerly-checkpointed band-key frame plus a
    delta-reuse fold was tried and REGRESSED q201 9.0→13.6 s at
    sf0.01 (the added checkpoint + non-broadcast joins cost more than
    the re-derived minhash on a batch-sized frame).
    """
    p = index.params
    id_col = p["id_col"]
    if b_sets is None:
        b_sets = shingle_sets(batch, p["text_col"], id_col, p["k"])
    bkeys = band_keys(
        minhash_sets(b_sets, id_col, p["num_hashes"]), id_col, p["band_size"]
    )
    if self_dedup:
        scand = band_join(bkeys, bkeys, id_col).filter(
            F.col("id_a") < F.col("id_b")
        )
        doomed = (
            jaccard_verify_sets(scand, b_sets, b_sets, id_col, threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        batch = batch.join(doomed, id_col, "left_anti")
        b_sets = b_sets.join(doomed, id_col, "left_anti")
        # the signature/banding work already ran for the self-join —
        # the index gate reuses it minus the doomed rows instead of
        # re-deriving minhash+bands over the reduced b_sets
        bkeys = bkeys.join(doomed, id_col, "left_anti")
    cand = band_join(bkeys, index.bands, id_col)
    dup = (
        jaccard_verify_sets(cand, b_sets, index.sets, id_col, threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return batch.join(dup, id_col, "left_anti")


def gate_and_fold_text_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    out_dir: str,
    threshold: float = 0.5,
) -> None:
    """One micro-batch of the TEXT streaming ingest-AND-fold loop —
    the exactly-once ``lane.ingest_batch`` protocol (shared with the
    image lane's ``gate_and_fold_batch``) on the shingle/minhash lane
    (text crawl is the highest-volume ingest a training-data pipeline
    runs; the reference's at-least-once delivery,
    ``spark_stream.py:217-224``, is exactly the window this closes):
    self-dedup the batch (keep-lowest-id,
    ``dedup_against_index(self_dedup=True)``), gate the survivors
    against the index state minus the batch's own ids (one anti-join
    per stored table), land them in the batch's own sink directory,
    fold them in, mark the batch committed.

    Id contract: ids are stable replay keys (same id => same text). A
    batch id already stored with a DIFFERENT shingle set is an id
    collision — admitted by the own-id-excluded gate but dropped by
    the fold's guard, silently desyncing sink and index — so it
    raises. The check joins stored sets on the batch ids only
    (batch-sized fetch, set equality via two containment sizes).

    Per-batch work is batch-sized: the batch is shingled/banded once
    (``self_dedup=True`` reuses the band keys for the index gate),
    the corpus is touched only by the candidate band join + the
    candidates' set fetches, and the fold appends without rescanning.
    """
    ingest_batch(
        batch,
        batch_id,
        out_dir,
        lambda: _text_gate(batch, index_path, threshold),
    )


def _text_gate(batch, index_path, threshold):
    """``gate_and_fold_text_batch``'s (survivors, fold) for
    ``ingest_batch``."""
    spark = batch.sparkSession
    idx = load_dedup_index(spark, index_path)
    p = idx.params
    id_col = p["id_col"]
    bsets = shingle_sets(
        batch, p["text_col"], id_col, p["k"]
    ).localCheckpoint(eager=True)
    inter = F.size(F.array_intersect("sh", "s_sh"))
    collisions = (
        bsets.join(
            idx.sets.select(id_col, F.col("sh").alias("s_sh")), id_col
        )
        .filter((inter < F.size("sh")) | (inter < F.size("s_sh")))
        .select(id_col)
        .limit(1)
        .collect()
    )
    if collisions:
        raise ValueError(
            f"gate_and_fold_text_batch: batch id "
            f"{collisions[0][id_col]!r} already stored with a "
            "DIFFERENT shingle set — ids must be stable replay keys "
            "(same id => same text); an id collision would desync "
            "sink and index"
        )
    own = batch.select(id_col)
    prior = DedupIndex(
        dict(p),
        idx.bands.join(own, id_col, "left_anti"),
        idx.sets.join(own, id_col, "left_anti"),
    )
    return (
        dedup_against_index(
            prior, batch, threshold, self_dedup=True, b_sets=bsets
        ),
        lambda survivors: dedup_index_apply(
            spark, index_path, survivors
        ),
    )


def stream_ingest_with_text_gate(
    stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    available_now: bool = False,
):
    """The production text-ingest loop (the image lane's
    ``stream_ingest_with_phash_gate`` shape on the shingle/minhash
    index): every micro-batch self-dedups, gates against the index
    state built by ALL PRIOR batches, and folds its survivors in
    before the next batch arrives — batch N+1's near-duplicates of
    batch N's survivors are rejected BY THE FOLD. Micro-batch work is
    batch-sized; the corpus is never re-shingled. Returns the started
    StreamingQuery (``available_now``: see ``lane.start_ingest``);
    read admitted rows back with
    ``streaming.pipeline.read_sink(spark, out_dir)``."""
    return start_ingest(
        stream,
        lambda df, batch_id: gate_and_fold_text_batch(
            df, batch_id, index_path, out_dir, threshold
        ),
        checkpoint_dir,
        available_now,
    )
