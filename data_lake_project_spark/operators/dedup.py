"""Deduplication operators (north star).

The reference deduplicates only implicitly (NMS over detection boxes,
``tableExtract.py:145-161``); a training-data lake needs document
dedup as a first-class operator family:

- ``exact_dedup``        — hash-groupBy, keep first per content hash.
- ``minhash_neardup_pairs`` — the one MinHash ladder (shared with the
  ingest gate): ``shingle_sets`` → ``minhash_sets`` → ``band_keys`` →
  ``band_join`` (never all-pairs) → exact ``jaccard_verify_sets``.
- ``simhash16``          — bitwise majority fingerprint.
- ``embedding_neardup``  — cosine near-dup, blocked to avoid O(n^2).

Determinism: all hashing is built on ``md5`` of UTF-8 strings (same
bytes-in/hex-out on any engine), so every operator here is
oracle-checkable against DuckDB running the identical formula.

Scale design: every stage is shuffle-bounded by (doc, shingle) or
(band, signature) keys — no cross joins. At 100 TB the LSH band join
is the only wide shuffle and its key space (band signatures) is
high-cardinality and uniform by construction, which is exactly what
a shuffle wants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_lake_project_spark.functions import pround, spread, tokens


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct text (md5 content hash).

    One shuffle on the 128-bit content hash; survivors carry the hash
    for downstream lineage.
    """
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Distinct word k-gram shingles per document as ONE array row:
    (id, sh array<string>), sorted for set semantics.

    Fully narrow — no explode, no shuffle. This is the preferred input
    to the minhash pipeline: signatures and band keys derive from the
    array with per-row ``transform``/``array_min``, so the only wide
    operation left in candidate generation is the band self-join.

    The token array is materialized as a column BEFORE the
    per-position lambda: an expression inlined into a ``transform``
    lambda body is re-evaluated per element (the regex tokenizer would
    run once per shingle position — quadratic in document length).
    """
    base = spread(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    # Docs shorter than k words contribute their whole text as one shingle.
    grams = F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    # array_remove (codegen) instead of a filter() lambda; NO
    # array_sort — every consumer (array_min, array_intersect, join
    # keys) is order-independent, and sorting costs a comparison sort
    # per document. Empty docs become sh=NULL via a PROJECTION, not a
    # .filter(): Catalyst pushes filters below the spread() repartition,
    # which would re-evaluate the whole shingle expression on the
    # unparallelized scan partitions. NULLs flow narrowly and vanish at
    # the explode/posexplode consumers.
    return base.select(
        F.col(id_col),
        F.array_remove(F.array_distinct(grams), "").alias("__sh0"),
    ).select(
        F.col(id_col),
        F.when(F.size("__sh0") > 0, F.col("__sh0")).alias("sh"),
    )


def shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exploded long form of :func:`shingle_sets`: (id, shingle)."""
    return shingle_sets(docs, text_col, id_col, k).select(
        F.col(id_col), F.explode("sh").alias("shingle")
    )


def minhash_sets(
    sets: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature from per-doc shingle arrays: (id, mhs
    array<string>) where ``mhs[h]`` is the lexicographic min over
    shingles of the ``h % 4``-th 8-hex chunk of
    ``md5((h // 4) || ':' || shingle)`` — one digest yields FOUR
    independent 32-bit min-wise hashes, identical on any md5-capable
    engine (oracle-checkable).

    Fully narrow — no shuffle. The digest arrays are materialized as
    columns so each md5 runs once per (shingle, digest-group) and the
    four chunk-mins per group are cheap substring passes over it.
    """
    # NB: the lambdas are built by factories so they stay ONE-parameter
    # — a `lambda s, d=d:` default-arg closure has arity 2, which
    # F.transform silently treats as an (element, index) lambda and
    # binds the array index over the default (same trap as
    # `transform(arr, F.trim)`).
    def digest_fn(d: int):
        return lambda s: F.md5(F.concat_ws(":", F.lit(str(d)), s))

    def chunk_fn(h: int):
        return lambda x: F.substring(x, 1 + 8 * (h % 4), 8)

    n_digests = (num_hashes + 3) // 4
    base = sets
    for d in range(n_digests):
        base = base.withColumn(f"__dig{d}", F.transform(F.col("sh"), digest_fn(d)))
    mhs = F.array(
        *[
            F.array_min(F.transform(F.col(f"__dig{h // 4}"), chunk_fn(h)))
            for h in range(num_hashes)
        ]
    )
    # NULL sh (empty doc) propagates as mhs=NULL, not an array of
    # nulls, so downstream band explosion drops the row entirely.
    return base.select(
        F.col(id_col), F.when(F.col("sh").isNotNull(), mhs).alias("mhs")
    )


def band_keys(
    sig: DataFrame, id_col: str = "doc_id", band_size: int = 2
) -> DataFrame:
    """(id, band, bandsig) LSH band keys from a minhash signature
    table — the shared banding step of the symmetric
    (:func:`minhash_candidates_sets`) and asymmetric
    (:func:`dedup_against`) pipelines. posexplode of a NULL band
    array (mhs=NULL: empty doc) emits no rows — empty docs leave the
    pipeline here without any filter."""
    nb = (F.size("mhs") / band_size).cast("int")
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nb - 1),
                lambda b: F.concat_ws(
                    "|", F.slice(F.col("mhs"), b * band_size + 1, band_size)
                ),
            )
        ).alias("band", "bandsig"),
    )


def band_join(
    bands_a: DataFrame, bands_b: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b) of two :func:`band_keys`
    frames: ids sharing an identical band of consecutive minhashes.
    The ONLY wide operation of candidate generation — an equi-join on
    (band, bandsig), a high-cardinality uniform key, never all-pairs."""
    a = bands_a.select(F.col(id_col).alias("id_a"), "band", "bandsig")
    b = bands_b.select(F.col(id_col).alias("id_b"), "band", "bandsig")
    return a.join(b, ["band", "bandsig"]).select("id_a", "id_b").distinct()


def minhash_candidates_sets(
    sig: DataFrame,
    id_col: str = "doc_id",
    band_size: int = 2,
) -> DataFrame:
    """LSH banding over array signatures from :func:`minhash_sets`:
    the :func:`band_join` of the band keys with themselves, as pairs
    id_a < id_b (Catalyst pushes the filter into the join)."""
    bands = band_keys(sig, id_col, band_size)
    return band_join(bands, bands, id_col).filter(
        F.col("id_a") < F.col("id_b")
    )


def jaccard_verify_sets(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over candidate pairs only (the verify stage of
    the MinHash pipeline): ``id_a`` fetches its shingle array
    (:func:`shingle_sets`) from ``sets_a``, ``id_b`` from ``sets_b``
    (the same frame for a symmetric pass) — candidates are few by LSH
    construction.
    """
    return (
        candidates.join(
            sets_a.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sets_b.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        )
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", pround(F.col("jaccard"), 3).alias("jaccard"))
    )


def minhash_neardup_pairs(docs: DataFrame) -> DataFrame:
    """The whole one-shot ladder over ``docs`` (doc_id, text):
    verified near-dup pairs (id_a < id_b, jaccard) at shingle k=3, 8
    minhashes, bands of 2 and Jaccard >= 0.5.

    The shingle sets are cut once (eager ``localCheckpoint``): they
    feed the signature subtree AND both verify legs, and Spark
    re-evaluates an un-cut shingle explode per reference (measured
    interleaved medians: q135 2.87 -> 2.01 s, q198 8.79 -> 7.52 s)."""
    sets = shingle_sets(docs).localCheckpoint(eager=True)
    cand = minhash_candidates_sets(minhash_sets(sets))
    return jaccard_verify_sets(cand, sets, sets)


def simhash16(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """16-bit SimHash over distinct word tokens.

    Each token votes +-1 on 16 bit positions taken from the first 4
    hex chars of ``md5(token)``; the fingerprint sets bit p when the
    vote sum is positive. Pure integer arithmetic on md5 hex — engine
    independent and oracle-checkable.
    """
    tok = spread(docs).select(
        id_col, F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    ).filter(F.col("tok") != "")
    tok = tok.withColumn("hex4", F.substring(F.md5("tok"), 1, 4))

    pos = tok.select(
        id_col,
        "hex4",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("p"),
    )
    # nibble index = p / 4 (1-based into hex4), bit-in-nibble = p % 4
    nib_char = F.substring(F.col("hex4"), (F.col("p") / 4).cast("int") + 1, 1)
    nib_val = F.instr(F.lit("0123456789abcdef"), nib_char) - 1
    bit = F.floor(nib_val / F.pow(F.lit(2), F.col("p") % 4).cast("long")) % 2
    pos = pos.withColumn("vote", F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)))

    votes = pos.groupBy(id_col, "p").agg(F.sum("vote").alias("s"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2), F.col("p")).cast("long")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("simhash")
    )


def embedding_neardup(
    emb: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_salts: int | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Cosine near-duplicate pairs within blocks.

    Blocking (here: a label/cluster column; in production an IVF
    coarse quantizer or LSH bucket) keeps the self-join quadratic only
    within blocks. Dot/norm are computed JVM-side with
    ``aggregate``/``zip_with`` on double-cast arrays.

    ``n_salts``: opt-in skew handling for the one 100 TB risk here —
    a dominant block (e.g. one language holding half the corpus)
    turning the block self-join into a single straggler partition.
    With salting, one side's rows spread across ``n_salts`` shuffle
    partitions per block and the other side replicates ``n_salts``x
    (``operators/skew.salted_join``); results are identical (inner
    join, result-parity tested on a skewed fixture).

    ``impl``: 'arrow' routes each block through ``applyInPandas`` and
    one BLAS matmul (X·Xᵀ) — ~4-10x less per-pair cost for dense
    vectors, the production default FOR FEW-LARGE BLOCKS (q28's
    label blocking: ~10 blocks over the corpus). With MANY TINY
    blocks the per-group Arrow/pandas fixture cost dominates and
    'expr' wins big — measured 8.2 s arrow vs 0.46 s expr on 4.4k
    blocks of ~1.4 rows (q196's duration+quantized-mel key); pick the
    lane by block shape. 'expr' keeps every comparison a
    JVM expression — bit-exact against the SQL oracle, zero Python in
    the path; the differential-testing lane (pair sets are
    parity-tested between the two; individual cosines agree to
    ~1e-12, so only a pair sitting exactly on the 4-decimal rounding
    boundary could differ — none does on the fixtures, and BOTH lanes
    are oracle-checked as q28/q28b). 'auto' (default) resolves to
    'arrow'. The arrow path requires each block to fit one executor's
    memory — compose with a finer ``block_col`` (or IVF bucket) when
    it doesn't; ``n_salts``
    there doesn't apply (the group-by itself spreads blocks), so
    'auto' also resolves to 'expr' when ``n_salts`` is requested
    (skewed-block corpora are exactly where one block per task
    hurts).
    """
    if impl == "auto":
        impl = "expr" if n_salts else "arrow"
    if impl == "arrow":
        return _embedding_neardup_arrow(
            emb, block_col, id_col, vec_col, threshold
        )
    v = emb.select(
        F.col(id_col),
        F.col(block_col).alias("__blk"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).withColumn(
        "__norm",
        F.sqrt(
            F.aggregate(
                "__v", F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
    )
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col("__blk"),
        F.col("__v").alias("va"),
        F.col("__norm").alias("na"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col("__blk"),
        F.col("__v").alias("vb"),
        F.col("__norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    if n_salts:
        from data_lake_project_spark.operators.skew import salted_join

        joined = salted_join(a, b, "__blk", n_salts=n_salts)
    else:
        joined = a.join(b, "__blk")
    return (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", pround(F.col("cosine"), 4).alias("cosine"))
    )


def _embedding_neardup_arrow(
    emb: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Arrow/BLAS twin of the expression path: one ``applyInPandas``
    per block, one X·Xᵀ matmul, upper-triangle threshold filter.
    Same output contract: (id_a, id_b, cosine) with id_a < id_b and
    cosine rounded via the engine's pround formula."""
    import numpy as np
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        # sort by id so id_a < id_b falls out of the triangle indices
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = 1.0
        sims = (x @ x.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(pdf), k=1)
        tri = sims[ia, ib]
        ids = pdf[id_col].to_numpy()
        # Boundary guard (round-10 advice): BLAS summation order
        # differs from the expr lane's sequential fold by O(n*eps)
        # ~1e-13 per cosine, so a cosine sitting within that band of
        # the THRESHOLD cut or a 4-decimal pround half-point could
        # resolve differently per environment (BLAS build, SIMD
        # width) — a silent hash flip. Fail loudly on the ambiguous
        # pair instead; 1e-11 cosine tolerance is ~100x the BLAS
        # deviation yet vanishingly unlikely (~2e-8/pair) for a
        # legitimate cosine to trip.
        tol = 1e-11
        amb = np.abs(tri - threshold) < tol
        if amb.any():
            j = int(np.argmax(amb))
            raise ValueError(
                "embedding_neardup[arrow]: rounding-boundary event — "
                f"cosine {tri[j]!r} of pair ({ids[ia[j]]}, {ids[ib[j]]}) "
                f"is within {tol} of threshold {threshold}; membership "
                "is environment-dependent at this distance. Re-run on "
                "impl='expr' (deterministic sequential fold) to "
                "adjudicate."
            )
        keep = tri >= threshold
        ia, ib = ia[keep], ib[keep]
        kept = tri[keep]
        t = kept * 10000.0 + 0.5
        amb = np.abs(t - np.rint(t)) < tol * 10000.0
        if amb.any():
            j = int(np.argmax(amb))
            raise ValueError(
                "embedding_neardup[arrow]: rounding-boundary event — "
                f"cosine {kept[j]!r} of pair ({ids[ia[j]]}, {ids[ib[j]]}) "
                "sits on a 4-decimal pround half-point; the rounded "
                "value is environment-dependent at this distance. "
                "Re-run on impl='expr' to adjudicate."
            )
        # pround formula: floor(x * 1e4 + 0.5) / 1e4
        c = np.floor(t) / 10000.0
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "cosine": c}
        )

    return (
        # NULL blocks match nothing in the expr path's equi-join;
        # filter them here too or groupBy would pair them as one group
        # and break the documented impl parity
        emb.filter(F.col(block_col).isNotNull())
        .select(F.col(id_col), F.col(block_col).alias("__blk"), F.col(vec_col))
        .groupBy("__blk")
        .applyInPandas(per_block, schema="id_a long, id_b long, cosine double")
    )


def normalized_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fuzzy-exact dedup on the canonical text form (lowercase,
    punctuation-stripped, whitespace-collapsed — see
    :func:`~data_lake_project_spark.operators.text.canonicalize`):
    keep the lowest-id row per canonical hash, count the family size.

    Sits between md5-exact (:func:`exact_dedup`) and MinHash in a
    training-data dedup ladder: catches reformatting dups at exact-
    dedup cost — one shuffle on the 128-bit canonical hash, uniform
    key, no skew at any corpus size.

    Output: (id, canon_hash, n_dups).
    """
    from data_lake_project_spark.operators.text import canonicalize

    w = Window.partitionBy("canon_hash").orderBy(id_col)
    return (
        docs.withColumn("canon_hash", F.md5(canonicalize(F.col(text_col))))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_dups", F.count("*").over(Window.partitionBy("canon_hash")).cast("long"))
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col), "canon_hash", "n_dups")
    )


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares at least one word ``k``-gram with the probe (eval-set)
    corpus — the n-gram-overlap contamination rule used for LLM
    training corpora.

    Plan: both sides reduce to DISTINCT shingles (narrow, per-row —
    :func:`shingle_sets`); the probe shingle set is tiny relative to
    the corpus (eval benchmarks are MBs, corpora are TBs), so the
    match is a LEFT ANTI join against the BROADCAST probe shingles —
    the corpus never shuffles. A contaminated doc matches on its
    first shingle; dedup via the anti-join semantics directly (anti
    drops a left row on ANY match, so the exploded corpus side must
    re-aggregate: we anti-join the exploded (id, shingle) stream and
    keep ids whose shingle count survived intact — cheaper: semi-join
    to find contaminated ids, then anti-join ids). Output: the clean
    documents, original schema.
    """
    corpus_sh = shingles(docs, text_col, id_col, k)
    # Probes need no id column: tag rows with a synthetic one (value
    # irrelevant — only the DISTINCT shingle set survives).
    probe_sh = (
        shingles(
            probes.withColumn("__pid", F.monotonically_increasing_id()),
            probe_text_col,
            "__pid",
            k,
        )
        .select("shingle")
        .distinct()
    )
    contaminated = (
        corpus_sh.join(
            F.broadcast(probe_sh), "shingle", "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level exact dedup with text reassembly — the
    C4/RefinedWeb-style scrub that strips boilerplate lines (nav
    bars, cookie banners, copyright footers) repeated across
    documents while keeping each line's FIRST occurrence.

    Every document splits into (pos, line) occurrences; a line
    occurrence survives iff its line is corpus-unique OR it is the
    globally first occurrence (min (doc_id, pos)). The cleaned text
    is the surviving lines rejoined in position order.

    Plan shape for 100 TB: per-line stats come from a partial-
    aggregated ``groupBy(line)`` (count + min occurrence key) — the
    map-side combine collapses a boilerplate line repeated in a
    billion docs to one row per map task BEFORE the shuffle, which is
    why this is a groupBy+join and NOT a window over
    ``partitionBy(line)`` (a window would drag every occurrence of
    the hottest line into one partition). The stats join back on the
    line key (AQE skew-join splits the hot lines), then one per-doc
    aggregation rebuilds the text; per-doc state is bounded by
    document length.

    Occurrence keys encode as ``doc_id * 100_000 + pos`` (docs are
    assumed < 100k lines; raise the factor for pathological inputs),
    which requires an INTEGRAL id column — a string id would cast to
    NULL and silently drop every duplicated line's first occurrence,
    so non-integral ids raise instead (hash or zipWithIndex them
    first).

    Output: (id, n_lines, n_dup_lines, clean_text).
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from data_lake_project_spark.functions import reserve_columns

    reserve_columns(docs, "line_dedup", "__occ", "__cnt", "__first", "__keep")
    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"line_dedup: id column {id_col!r} must be integral (got "
            f"{id_type.simpleString()}) — the first-occurrence key is "
            "id*100000+pos; hash or index non-numeric ids first"
        )
    occ = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn(
        "__occ", F.col(id_col).cast("long") * 100_000 + F.col("pos")
    )
    stats = occ.groupBy("line").agg(
        F.count("*").alias("__cnt"), F.min("__occ").alias("__first")
    )
    keep = (F.col("__cnt") == 1) | (F.col("__occ") == F.col("__first"))
    agg = (
        occ.join(stats, "line")
        .withColumn("__keep", keep)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum((F.col("__cnt") > 1).cast("long"))
            .cast("long")
            .alias("n_dup_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text"),
        )
    )
    # NULL-text docs emit no (pos, line) rows and would silently
    # vanish from the output; pass them through like the sibling
    # operators (contamination_score, dup_spans) do — zero counts,
    # clean_text stays NULL.
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_dup_lines", F.lit(0))
            .cast("long")
            .alias("n_dup_lines"),
            "clean_text",
        )
    )


def contamination_score(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Scored variant of :func:`decontaminate`: instead of dropping a
    document on ANY shared word ``k``-gram, report the FRACTION of
    its distinct shingles found in the probe (eval-benchmark) corpus
    — the quantity contamination audits threshold on (a one-shingle
    hit in a long doc is noise; a 0.3 overlap is a leak).

    Same plan as decontaminate: corpus shingles stay put, probe
    shingles broadcast (benchmarks are MBs, corpora are TBs); the
    left join tags hits and one per-doc aggregation computes the
    ratio. Zero corpus shuffles before the per-doc agg (keyed on the
    id the shingles already carry). EVERY input doc gets a row:
    shingle-less documents (empty/whitespace text) score
    (0, 0, 0.0) — the same pass-through contract as decontaminate,
    which never drops them either.

    Output: (id, n_shingles, n_hit, contamination∈[0,1] rounded 4).
    """
    corpus_sh = shingles(docs, text_col, id_col, k)
    probe_sh = (
        shingles(
            probes.withColumn("__pid", F.monotonically_increasing_id()),
            probe_text_col,
            "__pid",
            k,
        )
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1).cast("long"))
    )
    scored = (
        corpus_sh.join(F.broadcast(probe_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            pround(
                F.coalesce(
                    F.col("n_hit") / F.col("n_shingles"), F.lit(0.0)
                ),
                4,
            ).alias("contamination"),
        )
    )


def keep_cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    order_cols: list,
    id_col: str = "doc_id",
    require_converged: bool = False,
) -> DataFrame:
    """The keep-one-per-family materialization that turns near-dup
    CLUSTERS (:func:`connected_components` over verified pairs) into
    the deduped corpus: within each cluster keep the best row by
    ``order_cols`` (END IT WITH THE ID for a deterministic pick),
    drop the rest; documents in no cluster pass through untouched.

    Plan: components run over the pair graph only (docs that matched
    something — a vanishing fraction of the corpus), the per-cluster
    rank windows over that same small set, and the corpus itself is
    touched by exactly ONE anti-join against the dropped-id set —
    never shuffled on the cluster key. Output: surviving docs +
    ``family_size`` (1 for documents that matched nothing).
    """
    from data_lake_project_spark.functions import reserve_columns

    reserve_columns(
        docs,
        "keep_cluster_representatives",
        "cluster_id",
        "cluster_size",
        "family_size",
        "__rk",
    )
    comp = connected_components(
        pairs, require_converged=require_converged
    ).withColumnRenamed("id", id_col)
    clustered = docs.join(comp, id_col)
    w = Window.partitionBy("cluster_id").orderBy(*order_cols)
    drops = (
        clustered.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select(id_col)
    )
    return (
        docs.join(drops, id_col, "left_anti")
        .join(comp.select(id_col, "cluster_size"), id_col, "left")
        .withColumn(
            "family_size",
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long"),
        )
        .drop("cluster_size")
    )


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
    algo: str = "label",
    require_converged: bool = False,
) -> DataFrame:
    """Connected components over an undirected pair graph: the
    cluster-formation step that turns pairwise near-dup matches
    (MinHash/LSH candidates, verified Jaccard pairs) into dup
    FAMILIES — near-duplication is transitive in practice (A~B, B~C
    usually means A, B, C are one family even when A~C missed the
    similarity cut), so keep-one-per-family needs components, not
    pairs.

    Algorithm: deterministic min-label propagation. Each node starts
    labeled with its own id; every round each node takes the min of
    its label and its neighbors' labels; fixpoint when no label
    changes. Rounds needed = graph diameter — dup families are
    shallow (a hub duplicate links its copies directly), so this
    converges in a handful of rounds; ``max_iter`` bounds adversarial
    chains. Each round is one equi-join + one partial-aggregated
    groupBy on node id — uniform keys, no skew beyond what AQE
    handles. Lineage is truncated per round with an eager
    ``localCheckpoint`` (on a cluster, flip to reliable
    ``checkpoint`` with a checkpoint dir — same call shape);
    convergence is detected via ``sum(label)``, which strictly
    decreases while any label still moves (labels only ever
    decrease), so one cheap scalar action per round replaces a
    change-count join.

    Only nodes appearing in ``pairs`` are returned: (id, cluster_id,
    cluster_size), cluster_id = min id in the component.

    ``stats``: pass a dict to receive observability fields (filled
    in place, since the iteration runs eagerly): ``rounds`` = label-
    propagation rounds executed, ``converged`` = whether the fixpoint
    was reached within ``max_iter``. At 100 TB the round count IS the
    job's cost model (each round = one join + one groupBy over the
    edge set) — monitor it; an unexpectedly deep graph means the
    candidate generator is over-linking.

    ``algo``: ``"label"`` (default) is the propagation above —
    cheapest per round, right for the hub-shaped families near-dup
    candidate generators produce (minhash graphs here converge in 2
    rounds). ``"star"`` is alternating large-star/small-star (Kiveris
    et al., SoCC'14 — the MapReduce-and-beyond CC algorithm): each
    round REWRITES the edge set toward per-component stars, so deep
    chain-shaped graphs (fuzzy-match linkage measured diameter ~14
    here) converge in O(log²) rounds of edge-set work instead of
    O(diameter) — the shape that matters when each edge scan is a
    100 TB shuffle. Identical output labeling (min id per component;
    parity CI-pinned); label-composition pointer jumping was measured
    first and rejected (14 → 11 rounds at a higher per-round cost —
    the label pointer graph is not chain-aligned, so compression
    stalls).

    ``require_converged``: raise ``RuntimeError`` if the fixpoint was
    not reached within ``max_iter`` instead of returning
    partially-propagated labels — a graph deeper than the bound means
    silently SPLIT families for any caller that doesn't inspect
    ``stats`` (round-12 advice on q198); production compositions
    should opt in so depth overruns fail loudly.
    """
    if algo not in ("label", "star"):
        # loud, not a silent fall-through: a typo ("stars") must not
        # quietly run O(diameter) label propagation when the caller
        # believes they opted into the O(log^2) star algorithm
        raise ValueError(
            f"connected_components: unknown algo {algo!r} "
            "(expected 'label' or 'star')"
        )
    if stats is None and require_converged:
        stats = {}
    if algo == "star":
        out = _star_components(pairs, left, right, max_iter, stats)
        if require_converged and not stats["converged"]:
            raise RuntimeError(
                "connected_components(algo='star'): edge fixpoint not "
                f"reached in max_iter={max_iter} rounds — labels would "
                "be partially propagated (split families); raise "
                "max_iter"
            )
        return out
    edges = pairs.select(
        F.col(left).cast("long").alias("src"),
        F.col(right).cast("long").alias("dst"),
    )
    # The edge set joins against labels EVERY round; without its own
    # checkpoint each round's join (plus the convergence action)
    # re-derives sym from its full upstream lineage — for near-dup
    # clustering that upstream is the whole shingle -> minhash ->
    # band-join -> verify pipeline, recomputed diameter-many times.
    # One eager materialization caps that at exactly one evaluation.
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr"))
        .select("id", F.least("id", F.col("nbr")).alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    rounds, converged = 0, False
    for _ in range(max_iter):
        nbr = sym.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "label")
        labels = (
            labels.union(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        rounds += 1
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if require_converged and not converged:
        raise RuntimeError(
            "connected_components(algo='label'): fixpoint not reached "
            f"in max_iter={max_iter} rounds — the graph is deeper than "
            "the bound and labels would be partially propagated (split "
            "families); raise max_iter or use algo='star'"
        )
    size_w = Window.partitionBy("label")
    return labels.select(
        F.col("id"),
        F.col("label").alias("cluster_id"),
        F.count("*").over(size_w).cast("long").alias("cluster_size"),
    )


def _star_components(
    pairs: DataFrame,
    left: str,
    right: str,
    max_iter: int,
    stats: dict | None,
) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al.): edges are
    kept canonically oriented (big, small) and each round rewrites
    them toward per-component stars centered at the component min.

    - large-star at node u: m = min(u, min N(u)); every strictly
      LARGER neighbor re-links to m. Expressed as one groupBy (node
      mins) + one join — no neighbor arrays, no skew beyond the agg.
    - small-star at node u (over big→small edges): m = min of u's
      smaller neighbors; they all re-link to m and u links to m.

    Fixpoint when the edge set stops changing, detected by an exact
    set fingerprint (count + bit_xor(xxhash64)) — labels are then the
    star edges themselves (centers label themselves), and nodes that
    only ever had self-pairs keep their own id. Output contract and
    labeling are identical to the ``"label"`` algorithm; only the
    round count differs (O(log² n) edge-set rounds vs O(diameter))."""
    # ONE eager cut of the input: both derived frames (nodes, edges)
    # would otherwise re-evaluate the pair generator's full upstream —
    # for linkage graphs that is the blocked levenshtein join, paid
    # twice (measured: the whole q160 ran SLOWER than min-label until
    # this cut)
    raw = pairs.select(
        F.col(left).cast("long").alias("a"),
        F.col(right).cast("long").alias("b"),
    ).localCheckpoint(eager=True)
    nodes = (
        raw.select(F.col("a").alias("id"))
        .union(raw.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("src"),
            F.least("a", "b").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def fingerprint(edges):
        row = edges.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("x"),
        ).first()
        return (row[0], row[1])

    fp = fingerprint(e)
    rounds, converged = 0, False
    for _ in range(max_iter):
        # large-star over the symmetric view
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select("src", F.least("src", "__mn").alias("__m"))
        )
        ls = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star over big→small edges (ls is already oriented:
        # dst = some node-min < src)
        sm_mins = ls.groupBy("src").agg(F.min("dst").alias("__mn"))
        e = (
            ls.join(sm_mins, "src")
            .select(F.col("dst").alias("s2"), F.col("__mn").alias("d2"))
            .union(
                sm_mins.select(
                    F.col("src").alias("s2"), F.col("__mn").alias("d2")
                )
            )
            .filter(F.col("s2") != F.col("d2"))
            .select(F.col("s2").alias("src"), F.col("d2").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        nfp = fingerprint(e)
        if nfp == fp:
            converged = True
            break
        fp = nfp
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    # stars: (node, center); centers label themselves; nodes with only
    # self-pairs never entered e and keep their own id. min() guards
    # the not-converged case (max_iter hit with multi-labeled nodes).
    labels = (
        e.select(F.col("src").alias("id"), F.col("dst").alias("label"))
        .union(
            e.select(F.col("dst").alias("id"), F.col("dst").alias("label"))
        )
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    labeled = nodes.join(labels, "id", "left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )
    size_w = Window.partitionBy("label")
    return labeled.select(
        F.col("id"),
        F.col("label").alias("cluster_id"),
        F.count("*").over(size_w).cast("long").alias("cluster_size"),
    )


def dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    g: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication audit: per-doc maximal duplicated
    token spans, found by anchoring on corpus-duplicated word g-grams
    and merging overlapping anchors into islands.

    The ExactSubstr idea (suffix-array dedup of training corpora)
    re-expressed in relational form: a token position is *duplicated*
    when the g-gram starting there occurs >= ``min_count`` times in
    the whole corpus; overlapping/adjacent duplicated positions merge
    into maximal spans (gaps-and-islands), so a 50-token copied block
    reports as ONE span of 50 tokens, not 46 anchor hits. Returns one
    row per doc: (id, n_toks, n_spans, dup_tokens, dup_frac) with
    docs shorter than g tokens reporting zero spans.

    Plan shape / 100 TB: positions explode the corpus by ~1 row per
    token (the suffix-array's memory cost, paid as shuffle instead);
    the ONE wide shuffle groups by the g-gram string whose key space
    is high-cardinality and uniform. The island merge is a per-doc
    window (bounded by doc length). Production would group on a
    128-bit hash of the gram to shrink shuffle bytes — the string key
    is kept here so the DuckDB oracle groups on identical values
    (collision behavior included).
    """
    toks = docs.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__tk"),
    ).withColumn("__n", F.size("__tk"))
    # (id, p, gram) for every position p in [0, n-g]
    # grams feeds the corpus-duplication roll-up AND the anchor join —
    # cut once or the per-position g-gram explode runs twice (r14
    # rule; this materialization is the suffix-array memory cost the
    # docstring already acknowledges, paid once instead of twice)
    grams = (
        toks.filter(F.col("__n") >= g)
        .select(
            id_col,
            "__n",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - g),
                    lambda i: F.concat_ws(
                        " ", F.slice("__tk", i + 1, g)
                    ),
                )
            ).alias("p", "gram"),
        )
        .localCheckpoint(eager=True)
    )
    # corpus-duplicated grams: total occurrences >= min_count
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("gram")
    )
    anchors = grams.join(dup_grams, "gram").select(id_col, "p")
    # gaps-and-islands: a new span starts when p jumps past the
    # running max end of all earlier anchors in the doc
    w = Window.partitionBy(id_col).orderBy("p")
    prev_end = F.max(F.col("p") + g).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        anchors.withColumn(
            "__new", F.when(prev_end.isNull() | (F.col("p") > prev_end), 1)
            .otherwise(0),
        )
        .withColumn("__isl", F.sum("__new").over(w))
        .groupBy(id_col, "__isl")
        .agg(
            F.min("p").alias("__s"),
            F.max(F.col("p") + g).alias("__e"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("__e") - F.col("__s")).cast("long").alias("dup_tokens"),
        )
    )
    base = toks.select(id_col, F.col("__n").alias("n_toks"))
    return (
        base.join(spans, id_col, "left")
        .select(
            id_col,
            F.col("n_toks").cast("long").alias("n_toks"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            pround(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest("n_toks", F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
    )


def prefix_filter_join(
    sets: DataFrame,
    threshold: tuple[int, int] = (3, 5),
    id_col: str = "doc_id",
    set_col: str = "sh",
    positional: bool = True,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    PPJoin family) — the deterministic complement to the MinHash/LSH
    pipeline: LSH candidates are probabilistic (recall < 1), the
    prefix filter is a guarantee: a pair with Jaccard >= t ALWAYS
    shares at least one element of each side's rare-element prefix,
    so the candidate set has NO false negatives.

    Input: (id, set array) rows, e.g. :func:`shingle_sets`. Output:
    (id_a, id_b, jaccard) with id_a < id_b and Jaccard >= num/den,
    jaccard rounded 4.

    ``threshold`` is a RATIONAL (num, den): every pruning decision
    (prefix length ``n - ceil(t*n) + 1``, length filter
    ``min/max >= t``, final verify) runs in integer arithmetic —
    float ceil(0.6*n) rounds the wrong way for some n and silently
    drops true pairs.

    Plan shape (100 TB): element document-frequencies come from one
    partial-agg'd groupBy; each doc keeps only the prefix of its
    (df, element)-rarest elements, so the candidate equi-join keys
    are by construction the GLOBALLY RAREST elements — small buckets,
    the anti-skew property the whole algorithm exists for (a join on
    arbitrary elements would hot-spot on stopword shingles). Verify
    touches candidates only, joining the set arrays back by id.

    ``positional`` adds PPJoin's positional filter (on by default;
    the flag exists so CI can measure the pruning): a pair's FIRST
    common element in the canonical (df, element) order — provably
    the minimal matched prefix element, since any smaller common
    element would sit earlier in both sorted sets and hence inside
    both prefixes — bounds the overlap at ``1 + min(|x|-i, |y|-j)``
    (every other common element lies strictly after position i in x
    AND after j in y). Pairs whose bound cannot reach the required
    overlap ``alpha = ceil(num*(|x|+|y|)/(num+den))`` are pruned
    BEFORE the verify join ever fetches their set arrays — zero
    semantic change (CI pins positional ≡ non-positional ≡ brute
    force), strictly fewer verify rows.
    """
    num, den = threshold
    cand = _prefix_candidates(sets, threshold, id_col, set_col, positional)
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"), F.col(set_col).alias("__sa")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"), F.col(set_col).alias("__sb")
            ),
            "id_b",
        )
        .withColumn("__i", inter)
        .withColumn("__u", union)
        # exact rational threshold: den*inter >= num*union
        .filter(F.lit(den) * F.col("__i") >= F.lit(num) * F.col("__u"))
        .select(
            "id_a",
            "id_b",
            pround(F.col("__i") / F.col("__u").cast("double"), 4).alias(
                "jaccard"
            ),
        )
    )


def _prefix_candidates(
    sets: DataFrame,
    threshold: tuple[int, int],
    id_col: str,
    set_col: str,
    positional: bool,
) -> DataFrame:
    """Candidate stage of :func:`prefix_filter_join` — (id_a, id_b)
    pairs sharing a prefix element and surviving the length and
    (optionally) positional filters. Split out so CI can measure the
    positional filter's pruning directly."""
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError(f"prefix_filter_join: need 0 < num <= den, got {threshold}")
    ex = sets.select(F.col(id_col), F.explode(set_col).alias("__el"))
    freq = ex.groupBy("__el").agg(F.count("*").alias("__df"))
    # canonical global rarity order: (df, element) — total, engine-free
    ordered = (
        ex.join(freq, "__el")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__el")))
            ).alias("__ord"),
            F.count("*").cast("long").alias("__n"),
        )
    )
    # p = n - ceil(num*n/den) + 1, all-integer: ceil(a/b) = (a+b-1) div b
    plen = (
        F.col("__n")
        - F.floor((F.lit(num) * F.col("__n") + F.lit(den - 1)) / F.lit(den))
        + 1
    ).cast("int")
    pref = ordered.select(
        F.col(id_col),
        F.col("__n"),
        F.posexplode(F.slice("__ord", 1, plen)).alias("__i", "__p"),
    ).select(
        id_col,
        "__n",
        (F.col("__i") + 1).alias("__pos"),  # 1-based canonical position
        F.col("__p.__df").alias("__df"),
        F.col("__p.__el").alias("__el"),
    )
    a = pref.select(
        F.col(id_col).alias("id_a"),
        F.col("__n").alias("__na"),
        F.col("__pos").alias("__pa"),
        "__df",
        "__el",
    )
    b = pref.select(
        F.col(id_col).alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("__pos").alias("__pb"),
        "__el",
    )
    matched = (
        a.join(b, "__el")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t implies min(|x|,|y|)/max(|x|,|y|) >= t
        .filter(
            F.lit(den) * F.least("__na", "__nb")
            >= F.lit(num) * F.greatest("__na", "__nb")
        )
    )
    # One groupBy both dedupes pairs (was .distinct()) and finds each
    # pair's minimal matched prefix element in the canonical (df, el)
    # order — the occurrence the positional bound is valid at.
    cand = matched.groupBy("id_a", "id_b", "__na", "__nb").agg(
        F.min(F.struct("__df", "__el", "__pa", "__pb")).alias("__m")
    )
    if positional:
        # required overlap, all-integer: alpha = ceil(num*(na+nb)/(num+den))
        alpha = F.floor(
            (
                F.lit(num) * (F.col("__na") + F.col("__nb"))
                + F.lit(num + den - 1)
            )
            / F.lit(num + den)
        )
        cand = cand.filter(
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__m.__pa"),
                F.col("__nb") - F.col("__m.__pb"),
            )
            >= alpha
        )
    return cand.select("id_a", "id_b")


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 5,
    jaccard_min: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (SNM): sort the corpus on a cheap
    canonical key, compare each record only to the ``window - 1``
    records that FOLLOW it in the sort order, verify survivors with
    exact token-set Jaccard. The classic record-linkage third way
    between exact hashing (misses near-dups) and LSH (probabilistic):
    deterministic, zero false negatives *within the window*, linear
    candidate count (n * window).

    Sort key: the doc's first two lowercased tokens — near-identical
    docs share their opening words and land adjacent. Pairs report
    ``(left_id, right_id, jaccard)`` for candidates meeting
    ``jaccard_min``.

    Scale (100 TB): a naive global row_number is a single-partition
    sort, so the rank is built in two phases — a parallel
    row_number per ORDER-PREFIX block (first char of the key) plus
    per-block offsets from a cumulative sum over the tiny block-stats
    table (bounded distinct first-chars; the only single-partition
    window runs over that stats table, never over data). Neighbor
    pairing is the banded |Δrank| <= w equi-join (rank DIV w buckets,
    left side explodes into 2 covering buckets), so the candidate
    shuffle is keyed and linear — no theta-join, no cross join.
    """
    from data_lake_project_spark.functions import reserve_columns

    reserve_columns(
        docs, "sorted_neighborhood_pairs",
        "__snkey", "__blk", "__off", "__rn", "__bkt", "__set",
    )
    w = int(window)
    if w < 2:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 2")
    toks = F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != "")
    base = spread(docs).select(
        F.col(id_col),
        F.array_join(F.slice(toks, 1, 2), " ").alias("__snkey"),
        F.array_distinct(toks).alias("__set"),
    )
    base = base.withColumn("__blk", F.substring("__snkey", 1, 1))
    stats = base.groupBy("__blk").agg(F.count("*").alias("__n"))
    off_w = (
        Window.orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = stats.select(
        "__blk",
        F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off"),
    )
    rn_w = Window.partitionBy("__blk").orderBy("__snkey", id_col)
    ranked = (
        base.join(F.broadcast(offsets), "__blk")
        .withColumn(
            "__rn", F.col("__off") + F.row_number().over(rn_w)
        )
        .select(id_col, "__rn", "__set")
    )
    span = w - 1
    lb = ranked.select(
        F.col(id_col).alias("left_id"),
        F.col("__rn").alias("__lrn"),
        F.col("__set").alias("__lset"),
        F.explode(
            F.array(
                F.floor(F.col("__rn") / span).cast("long"),
                F.floor(F.col("__rn") / span).cast("long") + 1,
            )
        ).alias("__bkt"),
    )
    rb = ranked.select(
        F.col(id_col).alias("right_id"),
        F.col("__rn").alias("__rrn"),
        F.col("__set").alias("__rset"),
        F.floor(F.col("__rn") / span).cast("long").alias("__bkt"),
    )
    inter = F.size(F.array_intersect("__lset", "__rset"))
    union = F.size(F.array_union("__lset", "__rset"))
    return (
        lb.join(rb, "__bkt")
        .filter(
            (F.col("__rrn") > F.col("__lrn"))
            & (F.col("__rrn") - F.col("__lrn") <= span)
        )
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_min)
        .select("left_id", "right_id", "jaccard")
    )


def bloom_positions(shingle: F.Column, n_hashes: int = 3, hex_chars: int = 5):
    """The ``n_hashes`` Bloom positions of a shingle: independent
    md5 streams (seed prefix ``i:``), each truncated to
    ``hex_chars`` hex chars — a position space of 16^hex_chars.
    Engine-portable (md5 + substr only)."""
    return [
        F.substring(F.md5(F.concat(F.lit(f"{i}:"), shingle)), 1, hex_chars)
        for i in range(n_hashes)
    ]


def bloom_decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 3,
    n_hashes: int = 3,
    hex_chars: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Approximate (Bloom-filter) decontamination: like
    :func:`decontaminate` but the probe side broadcasts POSITION
    CODES instead of raw shingles — ``n_hashes`` md5-derived
    ``hex_chars``-hex-char codes per probe shingle. A corpus doc is
    dropped when some shingle finds ALL of its positions in the probe
    code set (classic Bloom semantics: no false negatives, false
    positives at roughly ``(codes/16^hex_chars)^n_hashes``).

    Why it matters at 100 TB: the exact variant ships every distinct
    probe shingle string to every executor; here the broadcast is
    fixed-width codes (~``n_hashes * 5`` bytes per shingle,
    dedup-compressed), an order of magnitude smaller for long
    shingles, with a measurable, tunable FP rate. Being md5-derived
    the filter is DETERMINISTIC — the same docs drop on any engine,
    so even the approximate operator is oracle-checkable exactly.

    Plan: probe shingles → distinct position codes (tiny,
    broadcast); corpus shingles explode into (id, shingle, hash_i,
    code); an inner join against the codes keeps only hits; a
    shingle is contaminated when its distinct hit count reaches
    ``n_hashes``; contaminated ids anti-join back. The corpus never
    shuffles for the probe — the only wide op is the per-(id,
    shingle) hit count, keyed and partial-aggregated.
    """
    corpus_sh = shingles(docs, text_col, id_col, k)
    probe_sh = (
        shingles(
            probes.withColumn("__pid", F.monotonically_increasing_id()),
            probe_text_col,
            "__pid",
            k,
        )
        .select("shingle")
        .distinct()
    )
    pos = bloom_positions(F.col("shingle"), n_hashes, hex_chars)
    codes = (
        probe_sh.select(F.explode(F.array(*pos)).alias("__code"))
        .distinct()
    )
    hits = (
        corpus_sh.select(
            F.col(id_col),
            F.col("shingle"),
            F.posexplode(F.array(*pos)).alias("__h", "__code"),
        )
        .join(F.broadcast(codes), "__code")
        .groupBy(id_col, "shingle")
        .agg(F.countDistinct("__h").alias("__nh"))
        .filter(F.col("__nh") == n_hashes)
        .select(id_col)
        .distinct()
    )
    return docs.join(hits, id_col, "left_anti")


def dedup_against(
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup: keep only the ``batch`` docs that are NOT
    near-duplicates (exact shingle Jaccard >= ``threshold``) of any
    ``corpus`` doc — the daily-ingest gate that dedups new data
    against an existing lake WITHOUT re-deduplicating the lake.

    The asymmetric version of the q25/q26 pipeline: both sides build
    minhash band keys, but the candidate join is batch×corpus only —
    at 100 TB the corpus side's band table is computed once and the
    join cost scales with the BATCH band count, not corpus².
    Verification joins shingle sets for candidates only. Empty batch
    docs carry no bands and survive by construction.

    This one-shot is literally build + search over
    ``operators.dedup_index`` (``build_dedup_index`` →
    ``dedup_against_index``); a standing corpus should persist the
    index once (``save_dedup_index``) and fold ingests in with the
    O(delta) ``dedup_index_apply`` instead of re-indexing here.
    """
    from data_lake_project_spark.operators.dedup_index import (
        build_dedup_index,
        dedup_against_index,
    )

    idx = build_dedup_index(
        corpus,
        k=k,
        num_hashes=num_hashes,
        band_size=band_size,
        text_col=text_col,
        id_col=id_col,
    )
    return dedup_against_index(idx, batch, threshold=threshold)


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    impl: str = "auto",
    n_salts: int | None = None,
    centroids=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space (deterministic cosine k-means — lowest-id seeds, fused
    Lloyd scans, no RNG), then within each cluster drop every item
    that has a LOWER-id neighbor with cosine >= ``threshold``. Unlike
    the lexical family (MinHash/SimHash), this removes *semantic*
    near-duplicates — paraphrases and re-encodings that share no
    shingles — the standard curation step between lexical dedup and
    quality filtering.

    Keep rule (deterministic): an item survives iff NO lower-id item
    in its cluster is >= threshold similar. Consequently no two kept
    items in one cluster are >= threshold similar (if a < b and
    cos >= t, b is dropped) — the property the CI test pins.

    Returns (id, cluster) of the KEPT items.

    Scale (100 TB): clustering is ``kmeans_fit``'s fused scan
    (shuffle carries k*dim partials per batch, model-sized collects
    only); the pairwise stage is ``embedding_neardup`` blocked on the
    cluster id, so the self-join is quadratic only within clusters —
    size ``n_clusters`` ~ N/target_cluster_size (SemDeDup's own
    deployment rule); a dominant cluster has the same two escape
    hatches as q28: ``n_salts`` (expr lane) or a finer clustering.

    ``centroids`` injects a pre-trained (k x dim) matrix and skips
    the Lloyd fit entirely — the train-once production path the ANN
    family exposes (``ivf_topk(centroids=)``), and the lever that
    makes the whole lane SQL-derivable for the oracle (deterministic
    centroids → q171's assignment arithmetic → q28's pairwise
    cosine).
    """
    return _semantic_dedup_assigned(
        emb, n_clusters, threshold, id_col, vec_col, iters, impl,
        n_salts, centroids,
    )[1]


def _semantic_dedup_assigned(
    emb, n_clusters, threshold, id_col, vec_col, iters, impl,
    n_salts, centroids,
):
    """Shared core: returns (assigned, kept) so the report variant can
    reuse ONE assignment pass for both the totals and the keep rule.
    ``assigned`` is eagerly cut — it feeds 2+ consumers and is
    (id, cluster)-narrow, so the checkpoint is cheap at any scale."""
    from data_lake_project_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    if centroids is not None:
        cents = centroids
    else:
        cents = kmeans_fit(
            emb, k=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col
        )
    assigned = kmeans_assign(
        emb, cents, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)
    blocked = emb.select(id_col, vec_col).join(assigned, id_col)
    pairs = embedding_neardup(
        blocked,
        block_col="cluster",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        impl=impl,
        n_salts=n_salts,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned, assigned.join(dropped, id_col, "left_anti")


def semantic_dedup_report(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    impl: str = "auto",
    n_salts: int | None = None,
    centroids=None,
) -> DataFrame:
    """Per-cluster audit of a ``semantic_dedup`` run — the
    observability twin (``recall_report``'s role for the ANN family):
    (cluster, n_total, n_kept, n_dropped) with n_kept + n_dropped =
    n_total by construction. With injected deterministic centroids
    the whole report is SQL-derivable, giving the semantic-dedup lane
    a hard value oracle (training stays covered by the q88 CI pins).

    One assignment pass serves both the totals and the keep rule (the
    shared core checkpoints it); the pairwise stage is cluster-blocked
    exactly as in ``semantic_dedup`` — the report adds only two
    cluster-sized aggregations on top.
    """
    assigned, kept = _semantic_dedup_assigned(
        emb, n_clusters, threshold, id_col, vec_col, iters, impl,
        n_salts, centroids,
    )
    nt = assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_total")
    )
    nk = kept.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_kept")
    )
    return (
        nt.join(nk, "cluster", "left")
        .select(
            "cluster",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (
                F.col("n_total") - F.coalesce("n_kept", F.lit(0))
            ).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster")
    )
