"""Dataset management for training pipelines: deterministic splits.

A 100 TB training corpus needs train/val/test assignment that is (a)
stable across runs, engines and cluster sizes, (b) a pure map — no
shuffle, no RNG state, and (c) reproducible from the row alone, so a
re-ingested document lands in the same split forever (no train/test
leakage when the corpus is rebuilt).

Implementation: the first 8 hex chars of ``md5(seed || key)`` are a
uniform 32-bit value; comparing them LEXICOGRAPHICALLY against
precomputed hex thresholds assigns cumulative-weight buckets without
ever converting to integers — the identical expression runs on any
md5-capable engine (DuckDB oracle included).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(name, upper-bound-hex) per split, cumulative order; the last
    split has no bound (catches the remainder, so weights that don't
    sum exactly to 1.0 still partition)."""
    total = sum(weights.values())
    out = []
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        out.append((name, format(int(cum * 16**8), "08x")))
    out.append((names[-1], ""))
    return out


def split_column(
    key: Column, weights: dict[str, float], seed: str = ""
) -> Column:
    """The split-name expression for a key column."""
    hex8 = F.substring(
        F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 8
    )
    expr = None
    bounds = split_thresholds(weights)
    for name, thr in bounds[:-1]:
        cond = hex8 < F.lit(thr)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = bounds[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float] | None = None,
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by content hash of its key.

    Default weights: train 0.8 / val 0.1 / test 0.1. ``seed`` salts
    the hash so independent experiments draw independent splits of
    the same corpus. Pure map — zero shuffle at any scale.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    return df.withColumn(out_col, split_column(F.col(key_col), weights, seed))


def rate_threshold_hex(rate: float) -> str | None:
    """8-hex-char upper bound for a keep-rate in [0, 1]; ``None``
    means keep everything (rate >= 1 would need 9 hex digits)."""
    if rate >= 1.0:
        return None
    return format(max(int(rate * 16**8), 0), "08x")


def sample_column(key: Column, rate: float, seed: str = "") -> Column:
    """Boolean keep-expression: deterministic Bernoulli(rate) drawn
    from ``md5(seed || key)`` — same key, same verdict, any engine."""
    thr = rate_threshold_hex(rate)
    if thr is None:
        return F.lit(True)
    hex8 = F.substring(
        F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 8
    )
    return hex8 < F.lit(thr)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "",
) -> DataFrame:
    """Mixture/quota sampling: keep each row with a per-stratum rate
    (e.g. upsample a curated source, downsample a crawl dump) —
    THE re-weighting pass of a training-data mixture.

    The hash key is ``seed || stratum || ':' || key`` so (a) the draw
    decorrelates from :func:`hash_split`'s train/val/test draw on the
    same key and (b) changing one stratum's rate never perturbs
    another stratum's sample. Pure map: zero shuffle, no RNG state,
    stable under re-ingestion and cluster resizing at any scale.
    """
    key = F.concat(
        F.col(strata_col).cast("string"), F.lit(":"), F.col(key_col).cast("string")
    )
    keep = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == F.lit(stratum)
        branch = sample_column(key, rate, seed)
        keep = F.when(cond, branch) if keep is None else keep.when(cond, branch)
    keep = (
        F.lit(False)
        if keep is None
        else keep.otherwise(sample_column(key, default_rate, seed))
    )
    return df.filter(keep)


def quota_per_stratum(
    df: DataFrame,
    strata_col: str,
    k: int,
    order_by: list[Column],
) -> DataFrame:
    """Cap each stratum at its k best rows (per-source/domain quota
    balancing): rank within the stratum by ``order_by`` (callers MUST
    end it with a unique id for a deterministic cut) and keep rank
    <= k.

    One shuffle on the stratum key. Skew note: a stratum with 10^9
    rows makes one giant window partition; at that scale pre-filter
    with an approximate per-stratum score threshold (quantile sketch)
    before the exact window — the quota cut only needs the top-k
    neighborhood, not a full sort of the stratum.
    """
    w = Window.partitionBy(strata_col).orderBy(*order_by)
    return (
        df.withColumn("__qrk", F.row_number().over(w))
        .filter(F.col("__qrk") <= k)
        .drop("__qrk")
    )


def token_budget_quota(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    budget: int,
    order_by: list[Column],
) -> DataFrame:
    """Cap each stratum at a TOKEN budget, not a row count — the
    curation cut that matches how training mixtures are actually
    specified ("200B tokens of web, 30B of code"):
    rank rows within the stratum by ``order_by`` (end it with a
    unique id for determinism), keep rows while the running token sum
    stays within budget (inclusive — the first row to cross is
    dropped, as are all after it).

    One shuffle on the stratum key; the running sum is a frame-bounded
    window (no second pass). Same skew note as
    :func:`quota_per_stratum`: a 10⁹-row stratum means one giant
    window partition — pre-cut with an approximate per-stratum
    token-count threshold first at that scale.

    Output: input rows that fit + ``cum_tokens`` (running total
    including the row) for observability.
    """
    from data_lake_project_spark.functions import reserve_columns

    reserve_columns(df, "token_budget_quota", "cum_tokens")
    w = (
        Window.partitionBy(strata_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(
            "cum_tokens", F.sum(F.col(token_col)).over(w).cast("long")
        )
        .filter(F.col("cum_tokens") <= budget)
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    seed: str = "",
) -> DataFrame:
    """Temperature-based source re-mixing at T=2 (the α=0.5 sampling
    exponent): the de-facto multilingual/multi-source rebalance rule
    (sample source s with probability ∝ count_s^α), expressed as a
    deterministic per-row keep decision. Rates normalize so the
    SMALLEST source keeps everything and a source x-times larger
    keeps sqrt(1/x) of its rows — flattening the source distribution
    toward (but not all the way to) uniform.

    α is fixed at 0.5 because ``sqrt`` is correctly rounded under
    IEEE 754 (``pow`` is not), so Spark and any SQL oracle compute
    BIT-IDENTICAL rates and thresholds — the keep decision
    ``md5(seed‖stratum:key).hex8 < lpad(hex(floor(rate·2^32)))`` is
    then engine-independent, same as :func:`sample_column`.

    Plan: one tiny ``groupBy(strata)`` count (partial-agg'd, rows =
    #sources), broadcast back onto the corpus, pure-map filter — the
    corpus itself never shuffles at any scale.

    Output: kept rows + ``mix_rate`` (the stratum's keep rate,
    rounded 4) for observability.
    """
    from data_lake_project_spark.functions import pround, reserve_columns

    reserve_columns(df, "temperature_sample", "__rate", "mix_rate", "__c")

    # A NULL stratum would (a) form its own count group and poison
    # min(__c) for every real stratum while (b) vanishing at the
    # equi-join below — silent row loss plus corrupted rates. A
    # mixture cannot weight an unlabeled row, so poison the PLAN
    # instead: the guard raises at execution time (keeps the operator
    # job-free) the moment a NULL stratum is scanned.
    df = df.withColumn(
        strata_col,
        F.when(
            F.col(strata_col).isNull(),
            F.raise_error(
                F.lit(
                    "temperature_sample: NULL stratum — fill or filter "
                    "the stratum column before mixing"
                )
            ).cast(df.schema[strata_col].dataType),
        ).otherwise(F.col(strata_col)),
    )
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__c"))
    # global min via a window over the counts frame — it holds one row
    # per SOURCE, so the single window partition is trivially small
    # (never corpus-sized) and avoids a second job / nested-loop join
    rates = counts.select(
        strata_col,
        F.sqrt(
            F.min("__c").over(Window.partitionBy(F.lit(1))).cast("double")
            / F.col("__c").cast("double")
        ).alias("__rate"),
    )
    thr = F.lpad(
        F.lower(
            F.hex(
                F.floor(F.col("__rate") * F.lit(4294967296.0)).cast("long")
            )
        ),
        8,
        "0",
    )
    hex8 = F.substring(
        F.md5(
            F.concat(
                F.lit(seed),
                F.col(strata_col).cast("string"),
                F.lit(":"),
                F.col(key_col).cast("string"),
            )
        ),
        1,
        8,
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter((F.col("__rate") >= 1.0) | (hex8 < thr))
        .withColumn("mix_rate", pround(F.col("__rate"), 4))
        .drop("__rate")
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    shard_col: str,
    order_col: str,
) -> DataFrame:
    """Concatenate-then-split sequence packing: within each shard,
    documents are laid end-to-end in ``order_col`` order and cut into
    fixed token-budget bins — the packing strategy GPT-style
    pretraining uses (bin = which budget-window the document's first
    token falls in).

    Adds ``bin`` (0-based within shard) + ``tok_offset`` (document's
    first-token position in the shard stream). The cumulative sum
    windows per SHARD, so parallelism = number of shards and no
    global total order is ever materialized; one shuffle on the shard
    key. At 100 TB: shard by hash-bucket (thousands of shards), each
    window partition stays executor-sized.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = (F.sum(F.col(token_col)).over(w) - F.col(token_col)).cast("long")
    return df.withColumn("tok_offset", offset).withColumn(
        "bin", F.floor(F.col("tok_offset") / F.lit(budget)).cast("long")
    )


def curate_corpus(
    docs: DataFrame,
    probes: DataFrame | None = None,
    min_quality: float = 0.55,
    quota_k: int = 15,
    split_weights: dict[str, float] | None = None,
    split_seed: str = "",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """The full training-data curation ladder as ONE declarative plan:

    1. exact dedup         — lowest-id survivor per md5(text);
    2. decontamination     — drop docs sharing any word 3-gram with
                             the probe corpus (default probe set:
                             survivors with ``id % 97 == 0``, the
                             q49 benchmark stand-in);
    3. quality floor       — keep rounded quality >= ``min_quality``
                             (length / punctuation / stopword
                             composite, ``text.quality_score``);
    4. per-source quota    — each source keeps its ``quota_k`` best
                             docs by (quality desc, id);
    5. split assignment    — deterministic md5 hash split
                             (train/val/test by default).

    Output: (id, source, quality, split), one row per surviving doc.

    Scale shape, stage by stage: one content-hash shuffle (1), a
    broadcast semi-join the corpus never shuffles for (2), a narrow
    scoring map + one id-keyed join to carry the source column (3),
    one window shuffle on the source key (4), and a pure map (5) —
    nothing quadratic, nothing driver-side. Every stage reuses the
    individually-oracle-checked operator (q21/q49/q30/q48/q41); the
    composed pipeline is itself oracle-checked end-to-end (q79).
    """
    from data_lake_project_spark.operators.dedup import decontaminate, exact_dedup
    from data_lake_project_spark.operators.text import quality_score

    # Stage outputs feed multiple downstream branches (deduped: the
    # default probe set + decontaminate's shingle AND anti-join legs;
    # clean: the scoring pass + the source-carry join) — uncut, the
    # md5-dedup subtree re-ran once per reference (~6x in the final
    # plan; no CSE across join branches, the r14 BM25 defect class).
    # One eager cut per stage keeps the ladder at one pass per stage.
    deduped = (
        exact_dedup(docs, text_col, id_col)
        .drop("content_hash")
        .localCheckpoint(eager=True)
    )
    if probes is None:
        probes = deduped.filter(F.col(id_col) % 97 == 0).select(text_col)
    clean = decontaminate(
        deduped, probes, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    scored = quality_score(clean, text_col, id_col).select(
        F.col(id_col), F.col("quality")
    )
    keep = scored.filter(F.col("quality") >= min_quality).join(
        clean.select(F.col(id_col), F.col(source_col)), id_col
    )
    capped = quota_per_stratum(
        keep, source_col, quota_k, [F.col("quality").desc(), F.col(id_col)]
    )
    return hash_split(capped, id_col, split_weights, split_seed).select(
        id_col, source_col, "quality", "split"
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 32,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size token chunks with overlap —
    the context-window packing precursor: long docs become
    ``chunk_size``-token windows advancing by ``chunk_size - overlap``
    so no token span is lost at a boundary (the complement of
    ``pack_sequences``, which handles the SHORT side of the length
    distribution).

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_size)``;
    the last chunk clips at the document end and a doc of <=
    chunk_size tokens yields exactly one chunk. All integer/string
    math — engine-exact, oracle-checkable.

    Scale: a pure per-row map (tokenize → sequence → slice) with a
    fan-out bounded by doc length / stride; no shuffle at all — the
    explode inherits the scan partitioning, and downstream writers
    see chunk rows already spread across input partitions.
    """
    from data_lake_project_spark.functions import reserve_columns, tokens

    if overlap >= chunk_size:
        raise ValueError("chunk_documents: overlap must be < chunk_size")
    reserve_columns(docs, "chunk_documents", "chunk_id", "n_chunk_toks",
                    "chunk_text", "__toks", "__nc")
    stride = chunk_size - overlap
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.floor((n - chunk_size + stride - 1) / stride).cast("long") + 1
    )
    return (
        docs.withColumn("__toks", toks)
        .withColumn("__nc", n_chunks)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias(
                "chunk_id"
            ),
            F.col("__toks"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(
                F.col("__toks"),
                (F.col("chunk_id") * stride + 1).cast("int"),
                chunk_size,
            ).alias("__chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("__chunk").cast("long").alias("n_chunk_toks"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def systematic_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    order_col: str,
    block: int = 1024,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Weight-proportional (PPS) systematic sample of ~``k`` rows:
    lay every row's integer weight end-to-end along a line in
    ``order_col`` order and keep each row whose span covers a
    multiple of ``total/k`` — heavier rows are proportionally more
    likely, and the whole selection is INTEGER arithmetic
    (``floor(cum*k/total)`` transitions), so it is exactly
    reproducible on any engine with no RNG and no float thresholds.
    The weighted companion to the uniform ``hash_split``/
    ``sample_column`` family (a heavy document's tokens are what a
    mixture actually budgets, not its row count).

    A row heavier than ``total/k`` spans several multiples but is
    emitted once, so the sample can come up short of ``k`` — the
    standard PPS-systematic behavior (such rows are certainties, not
    duplicates).

    Bound: ``total_weight * k`` must fit in a signed 64-bit long
    (ANSI mode raises loudly on overflow, it cannot corrupt the
    sample); for corpus weights near 2^63/k, pre-scale the weight
    column down — selection only depends on weight RATIOS.

    Determinism contract: the running prefix is ordered by
    ``order_col`` alone, so ``order_col`` values must be UNIQUE for
    the sample to be exactly reproducible; with duplicate keys pass
    ``tiebreak_col`` (a unique column appended to the window
    ordering) to make the order total — otherwise which duplicate
    crosses a stride boundary is engine/run-dependent.

    Scale: cumulative weights use the two-phase distributed prefix
    (per-``block``-of-``order_col`` running windows + a carry-in
    offset table over block aggregates — the ``ks_drift`` /
    ``max_concurrency`` recipe), so nothing data-sized ever sorts on
    one partition. Output: input columns + ``cum_w`` (inclusive
    prefix weight).
    """
    if k < 1:
        raise ValueError("systematic_sample: k must be >= 1")
    for c in ("__blk", "__w", "__run", "__off", "cum_w"):
        if c in df.columns:
            raise ValueError(
                f"systematic_sample: input may not carry column {c!r}"
            )
    w_int = F.col(weight_col).cast("long")
    staged = df.withColumn("__w", w_int).withColumn(
        "__blk", F.floor(F.col(order_col).cast("long") / block)
    )
    order_keys = (
        [order_col, tiebreak_col] if tiebreak_col else [order_col]
    )
    run_w = (
        Window.partitionBy("__blk")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = staged.withColumn("__run", F.sum("__w").over(run_w))
    nets = staged.groupBy("__blk").agg(F.sum("__w").alias("__w"))
    off_w = Window.orderBy("__blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = nets.select(
        "__blk",
        F.coalesce(F.sum("__w").over(off_w), F.lit(0)).alias("__off"),
    )
    total = int(
        staged.agg(F.sum("__w")).first()[0] or 0
    )  # 1-row driver scalar: the stride denominator
    if total < 1:
        raise ValueError("systematic_sample: total weight must be >= 1")
    cum = F.col("__run") + F.col("__off")
    # pure BIGINT division on both engines — no float stride anywhere
    return (
        runs.join(F.broadcast(offsets), "__blk")
        .withColumn("cum_w", cum)
        .filter(
            F.expr(f"((__run + __off) * {k}) div {total}")
            > F.expr(f"((__run + __off - __w) * {k}) div {total}")
        )
        .drop("__blk", "__w", "__run", "__off")
    )


def ingest_pipeline(
    corpus: DataFrame,
    batch: DataFrame,
    merges: list[tuple[str, str]],
    quality_min: float = 0.6,
    token_budget: int = 1500,
) -> DataFrame:
    """The composed production ingest path (q141): gate ``batch``
    against the standing ``corpus``'s dedup index, quality-score and
    cut at ``quality_min``, tokenize with the fixed BPE ``merges``,
    and admit per-source under a running subword ``token_budget``.
    One relational plan: band equi-join gate → narrow scoring map →
    tokenizer map + one count shuffle → per-source window.

    The gate subtree — the plan's most expensive part, referenced by
    the quality join, the tokenizer AND the staging join — is cut
    with ``localCheckpoint(eager=True)``. Without a cut the physical
    plan carries 46 exchanges (the corpus-side band build appears ~5x,
    zero ReusedExchange); the cut collapses it to 8. Eager, not lazy,
    because three consumers meet in one job and would race a lazy
    checkpoint's first materialization (measured 4.6 s vs 3.5 s at
    sf0.1).
    """
    from data_lake_project_spark.operators import text as TX
    from data_lake_project_spark.operators.bpe import bpe_apply
    from data_lake_project_spark.operators.dedup_index import (
        build_dedup_index,
        dedup_against_index,
    )

    fresh = dedup_against_index(build_dedup_index(corpus), batch)
    fresh = fresh.localCheckpoint(eager=True)
    kept = (
        TX.quality_score(fresh)
        .filter(F.col("quality") >= quality_min)
        .select("doc_id", "quality")
        .join(fresh.select("doc_id", "source", "text"), "doc_id")
    )
    ntoks = (
        bpe_apply(kept, merges)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_subtoks"))
    )
    staged = (
        kept.select("doc_id", "source", "quality")
        .join(ntoks, "doc_id", "left")
        .na.fill({"n_subtoks": 0})
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        staged.withColumn(
            "cum_subtoks", F.sum("n_subtoks").over(w).cast("long")
        )
        .filter(F.col("cum_subtoks") <= token_budget)
        .select("doc_id", "source", "quality", "n_subtoks", "cum_subtoks")
    )


def importance_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style hashed-n-gram importance weighting (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023): estimate how target-like each document is from
    hashed unigram bucket distributions, the scalable stand-in for a
    domain classifier when selecting pretraining data toward a target
    domain.

    Tokens hash to ``n_buckets`` buckets (md5-derived, deterministic);
    the rows where ``is_target`` holds define the target distribution,
    the rest the raw distribution, both Laplace-smoothed (+1 per
    bucket). Each token contributes its bucket's probability RATIO
    ``((n_t+1)/(N_t+V)) / ((n_r+1)/(N_r+V))`` — deliberately a ratio,
    not the paper's log-ratio: +,*,/ are correctly-rounded IEEE ops so
    the score is bit-identical across engines (``ln`` is not — the
    same no-libm rule as ``text.tfidf_top_terms``), and the per-doc
    MEAN of a monotone transform preserves "more target-like scores
    higher" for ranking/resampling. Per-token contributions are
    ``pround(.., 6)`` then decimal-summed, the mean ``pround(.., 4)``.

    Output: (id, source-agnostic ``n_toks``, ``importance``) for every
    document with at least one token — target rows included (their
    scores calibrate the scale).

    Scale (100 TB): one token explode + two bucket-keyed partial-agg'd
    counts; the bucket table is ``n_buckets`` rows (broadcast), the
    totals one row (broadcast). No corpus-sized join keys other than
    the doc-keyed contribution sum every text operator pays.
    """
    from data_lake_project_spark.functions import pround, tokens

    toks = (
        docs.select(
            F.col(id_col),
            is_target.alias("__t"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .withColumn(
            "__b",
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % n_buckets,
        )
    )
    # Pre-aggregate the occurrence stream to (doc, target?, bucket, n)
    # BEFORE any reuse and cut it once: the token explode previously
    # re-ran for each of its three consumers (bucket counts, corpus
    # totals, scoring join — no CSE across join branches), and the
    # aggregate is doc x bucket bounded, so this is also the 100 TB
    # shape (guide §2.3: aggregate before you shuffle; shuffle the
    # small proxy, not the token stream). Bit-identical by algebra:
    # every downstream term is a sum over occurrences, and summing n
    # identical decimal terms equals n * term exactly (r14 parity
    # check: 5000/5000 rows equal; interleaved A/B 4.86 -> 3.54 s).
    occ = (
        toks.groupBy(id_col, "__t", "__b")
        .agg(F.count("*").cast("long").alias("__n"))
        .localCheckpoint(eager=True)
    )
    per_bucket = occ.groupBy("__b").agg(
        F.sum(F.when(F.col("__t"), F.col("__n")).otherwise(0))
        .cast("long")
        .alias("__nt"),
        F.sum(F.when(F.col("__t"), 0).otherwise(F.col("__n")))
        .cast("long")
        .alias("__nr"),
    )
    totals = occ.agg(
        F.sum(F.when(F.col("__t"), F.col("__n")).otherwise(0))
        .cast("double")
        .alias("__tot_t"),
        F.sum(F.when(F.col("__t"), 0).otherwise(F.col("__n")))
        .cast("double")
        .alias("__tot_r"),
    )
    v = float(n_buckets)
    ratio = (
        (F.col("__nt") + F.lit(1.0)) / (F.col("__tot_t") + F.lit(v))
    ) / ((F.col("__nr") + F.lit(1.0)) / (F.col("__tot_r") + F.lit(v)))
    bucket_ratio = (
        per_bucket.join(F.broadcast(totals))
        .select("__b", pround(ratio, 6).alias("__r"))
    )
    return (
        occ.join(F.broadcast(bucket_ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__n").cast("long").alias("n_toks"),
            pround(
                # n * decimal(r) == dec_sum of n copies of r, exactly
                F.sum(F.col("__n") * F.col("__r").cast("decimal(27,6)"))
                .cast("double")
                / F.sum("__n").cast("double"),
                4,
            ).alias("importance"),
        )
    )


def calibration_report(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reliability-diagram bins for a quality scorer — the audit a
    curation pipeline runs before trusting a classifier threshold
    (the FineWeb/quality-filter tuning loop): rank rows by predicted
    score into ``n_bins`` equal-count bins (ntile with a total
    (score, id) order — deterministic under ties, and Spark's and
    ANSI SQL's ntile share the remainder-to-leading-buckets rule),
    then report per bin the row count, the positive-label count and
    rate, and the score envelope. A well-calibrated scorer shows
    ``good_rate`` rising monotonically with the bin; a flat diagram
    says the score carries no signal at that granularity.

    Determinism: counting + one exact division (pround) + min/max of
    already-rounded scores — no averaging of floats (a float mean
    sums in engine-dependent order; the envelope is order-free), so
    a SQL oracle re-derives every cell.

    Scale: one global ntile is a single-partition sort of (score, id)
    pairs — fine for audit-sized frames; at corpus scale pre-bucket
    by score range (width_bucket-style) or sample first. The report
    itself is n_bins rows.
    """
    from data_lake_project_spark.functions import pround

    w = Window.orderBy(F.col(score_col), F.col(id_col))
    b = scored.select(
        F.col(score_col), F.col(label_col), F.col(id_col)
    ).withColumn("bin", F.ntile(n_bins).over(w))
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col(label_col), 1).otherwise(0))
            .cast("long")
            .alias("n_good"),
            F.min(score_col).alias("min_score"),
            F.max(score_col).alias("max_score"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n",
            "n_good",
            pround(
                F.col("n_good").cast("double") / F.col("n").cast("double"),
                4,
            ).alias("good_rate"),
            "min_score",
            "max_score",
        )
    )


def waterfall_report(
    df: DataFrame, stages: list[tuple[str, str]]
) -> DataFrame:
    """Per-stage attrition attribution for a curation ladder — the
    waterfall a data-ops dashboard shows next to every corpus build:
    given one row per candidate and one BOOLEAN flag column per stage
    (in ladder order), report for each stage how many rows entered
    (survivors of every earlier stage), how many it kept, and how
    many it removed. Stage i's input is the cumulative AND of flags
    1..i-1, so removals attribute to the FIRST stage that rejects a
    row — the semantics of running the filters sequentially, without
    scanning the corpus once per stage.

    ONE aggregation pass computes every cumulative-survivor count
    (map-side partial aggregation; the corpus is read once however
    long the ladder); the (stages)-row report unstacks driver-side
    from that single row. ``stages``: (stage_name, flag_col) pairs.

    Output: (stage, stage_name, n_in, n_kept, n_removed), one row per
    stage, ``stage`` 1-based in ladder order.
    """
    if not stages:
        raise ValueError("waterfall_report: stages is empty")
    aggs = [F.count("*").cast("long").alias("n0")]
    cum = None
    for i, (_, flag_col) in enumerate(stages, 1):
        c = F.col(flag_col)
        cum = c if cum is None else (cum & c)
        aggs.append(
            F.sum(cum.cast("long")).cast("long").alias(f"n{i}")
        )
    one = df.agg(*aggs)
    # typed lit() structs, not a selectExpr stack() string — a stage
    # name is DATA and must never reach the SQL parser (a quote in a
    # name would break the parse / open an expression-injection hole)
    report_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("stage"),
                    F.lit(name).alias("stage_name"),
                    F.col(f"n{i - 1}").alias("n_in"),
                    F.col(f"n{i}").alias("n_kept"),
                )
                for i, (name, _) in enumerate(stages, 1)
            ]
        )
    )
    return (
        one.select(report_rows.alias("__s"))
        .select("__s.*")
        .withColumn(
            "n_removed", (F.col("n_in") - F.col("n_kept")).cast("long")
        )
    )
