"""Lexical and hybrid retrieval operators (exact BM25, reciprocal-
rank fusion).

Completes the RAG retrieval ladder (SURVEY.md §2.9 extension):
q142/q143 are the dense (embedding) lanes; BM25 is the lexical lane a
production retrieval stack always runs next to them, and RRF is the
standard zero-tuning way to fuse the two ranked lists (Cormack et
al., "Reciprocal rank fusion outperforms Condorcet and individual
rank learning methods", SIGIR 2009). The reference has no retrieval
operator; this extends its keyword-containment search
(``kpis_search.py:50``) to ranked relevance retrieval.

Engine-exactness: BM25's idf is the RATIONAL form
``(N - df + 0.5) / (df + 0.5)`` — the same no-logarithm choice as
``text.tfidf_top_terms`` (+,-,*,/ are correctly-rounded IEEE ops,
``ln`` goes through libm and may differ in the last ulp between
engines, poisoning a value-hash oracle; the rational weight is
monotone with log-idf so rankings agree). Per-term contributions are
rounded then summed as exact decimals (``dec_sum``) so aggregation
order can never change a score.

Scale (100 TB): the term join is inverted-index shaped — query terms
(a tiny broadcast) equi-join the per-(doc, term) frequency table, so
only documents containing at least one query term are ever scored;
df and corpus stats are vocabulary-/1-row-sized broadcasts. No
all-pairs stage anywhere; the only corpus-sized shuffles are the
(doc, tok) partial-agg'd counts every text operator already pays.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_lake_project_spark.functions import dec_sum, pround, tokens
from data_lake_project_spark.functions import spread
from data_lake_project_spark.operators.lane import Lane, Table


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Exact BM25 top-k documents per query.

    ``score(q, d) = sum over distinct terms t of q:
    idf(t) * tf(t,d) * (k1+1) / (tf(t,d) + k1*(1 - b + b*dl/avgdl))``
    with the rational idf ``(N - df + 0.5) / (df + 0.5)``. N and
    avgdl are computed over documents with at least one token.
    Deterministic: per-term contributions ``pround(.., 6)`` then
    decimal-summed; final score ``pround(.., 4)``; rank tie-break
    ``(bm25 DESC, doc_id)``.

    Output: (query_id, doc_id, bm25, rk) for the top ``k`` per query.

    Composition-equal to ``search_bm25_index(build_bm25_index(docs),
    queries)`` — this IS literally build + search, so the persisted
    index lane (q150) serves identical results by construction.
    """
    return search_bm25_index(
        build_bm25_index(docs, text_col=text_col, id_col=id_col),
        queries,
        k=k,
        k1=k1,
        b=b,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
    )


# ---------------------------------------------------------------------------
# Persisted lexical (BM25) index — the train-once/serve-many lifecycle
# for the lexical lane, mirroring operators.ann_index (dense lane) and
# operators.dedup_index (dedup lane): at 100 TB the corpus-side
# tokenize + count IS the dominant cost of every BM25 query, and a
# production stack (Lucene/ES) computes it once, persists it, and
# folds new documents in as O(delta) appends.
# ---------------------------------------------------------------------------


# The persisted layout: postings partitioned by the term bucket (a
# search's static query-term-bucket filter partition-prunes the scan
# to the probed directories; inference reads the key back as int, so
# it is cast to the build-side bigint), dl plain and one row per doc.
_LANE = Lane(
    (Table("tfs", partition_col="__tb", load_type="bigint"), Table("dl"))
)


@dataclass
class Bm25Index:
    """A built lexical index: params + the two corpus-keyed frames.

    ``tfs``  (id, tok, __tf, __tb) — the inverted term-frequency
    table; ``__tb`` is a deterministic md5 hash bucket of the term,
    the persisted layout's partition key;
    ``dl``   (id, __dl)            — per-document token lengths.

    df and the (N, avgdl) corpus stats are DERIVED at serve time from
    these tables (one vocabulary-sized and one 1-row aggregate) rather
    than stored, so an O(delta) fold never has to rewrite global
    statistics — the standard tradeoff (Lucene also derives df from
    segment postings at query time). ``persisted`` marks an index
    loaded from disk, where ``tfs`` is bucket-partitioned and searches
    add a static bucket filter that PARTITION-PRUNES the scan (the
    same gate discipline as ``AnnIndex.persisted``).
    """

    params: dict
    tfs: DataFrame
    dl: DataFrame
    persisted: bool = False


def _tok_bucket(col, n_buckets: int):
    """md5 hash bucket of a term — the identical integer driver-side
    is ``int(md5(tok).hexdigest()[:8], 16) % n_buckets``."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    )


def build_bm25_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tok_buckets: int = 64,
) -> Bm25Index:
    """Index a corpus in ONE pass: token explode → per-(doc, term)
    counts + per-doc lengths. Deterministic (pure counting, no RNG):
    incremental fold ≡ full rebuild."""
    toks = (
        spread(docs)
        .select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    tfs = toks.groupBy(id_col, "tok").agg(
        F.count("*").cast("long").alias("__tf")
    ).withColumn("__tb", _tok_bucket(F.col("tok"), tok_buckets))
    dl = toks.groupBy(id_col).agg(
        F.count("*").cast("long").alias("__dl")
    )
    return Bm25Index(
        {
            "text_col": text_col,
            "id_col": id_col,
            "tok_buckets": tok_buckets,
        },
        tfs,
        dl,
    )


def save_bm25_index(index: Bm25Index, path: str) -> None:
    _LANE.save(path, index, index.params)


def load_bm25_index(spark, path: str) -> Bm25Index:
    params, t = _LANE.load(spark, path)
    return Bm25Index(params, t["tfs"], t["dl"], persisted=True)


def bm25_index_apply(spark, path: str, new_docs: DataFrame) -> None:
    """Persisted maintenance fold (``Lane.fold``): index ONLY
    ``new_docs`` and APPEND to the stored tf/dl tables — the standing
    corpus's content is never re-tokenized or reshuffled; ids already
    in ``dl`` fold in as a no-op. df/avgdl need no maintenance — they
    are derived at serve time."""
    _LANE.fold(
        spark, path, new_docs, lambda p, docs: build_bm25_index(docs, **p)
    )


def search_bm25_index(
    index: Bm25Index,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Serve BM25 top-k from a (built or loaded) index: derive df and
    (N, avgdl) — one vocabulary-sized and one 1-row aggregate — then
    score only the documents containing a query term. This is the
    single scoring path for inline and persisted lanes (``bm25_topk``
    is literally build + this), so the two are equal by construction.
    """
    id_col = index.params["id_col"]
    per_doc, dl = index.tfs, index.dl
    if not index.persisted:
        # Inline lane (bm25_topk = build + search): the scoring plan
        # references the postings four ways (postings join, df
        # derivation, dl join, corpus stats) and Spark re-evaluates
        # the token explode once PER REFERENCE — one bm25 action
        # tokenized the corpus 4x (r14 measurement; at 100 TB the
        # corpus passes ARE the cost, guide §1.2). Cut the postings
        # once and derive dl from the cut: dl == sum(tf) per doc by
        # definition (both count the non-empty tokens), so the result
        # is bit-identical. Interleaved A/B at sf0.1: 8.32 -> 5.24 s
        # medians on the q144 shape. The persisted lane keeps its
        # parquet scans (bucket partition-pruning beats a checkpoint).
        per_doc = per_doc.localCheckpoint(eager=True)
        dl = per_doc.groupBy(id_col).agg(
            F.sum("__tf").cast("long").alias("__dl")
        )
    if index.persisted:
        # static bucket pre-filter → PartitionFilters on the tfs scan
        # (plan-pinned): collecting the distinct query terms is the
        # same bounded driver action the ANN search performs on its
        # probe side — the query set is tiny by contract. Correctness
        # is unaffected: a term's postings all live in one bucket, so
        # every kept term's df is computed from its complete postings.
        import hashlib as _hashlib

        n_b = index.params.get("tok_buckets", 64)
        # collect WITHOUT distinct: the raw exploded tokens are
        # query-set-sized, and skipping distinct keeps this a single
        # narrow map job (a distinct would shuffle across all
        # spark.sql.shuffle.partitions for a handful of rows) —
        # dedupe happens in the Python set below
        toks_rows = (
            queries.select(
                F.explode(
                    tokens(F.lower(F.col(query_text_col)))
                ).alias("tok")
            )
            .filter(F.col("tok") != "")
            .collect()
        )
        buckets = sorted(
            {
                int(
                    _hashlib.md5(r.tok.encode("utf-8")).hexdigest()[:8],
                    16,
                )
                % n_b
                for r in toks_rows
            }
        )
        if buckets:
            per_doc = per_doc.filter(F.col("__tb").isin(buckets))
    df_docs = per_doc.groupBy("tok").agg(
        F.count("*").cast("long").alias("__df")
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("__n"),
        (
            F.sum("__dl").cast("double") / F.count("*").cast("double")
        ).alias("__avgdl"),
    )
    qterms = (
        queries.select(
            F.col(query_id_col),
            F.explode(
                tokens(F.lower(F.col(query_text_col)))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    # constants folded in Python so the Spark literals and the oracle
    # SQL literals parse to the identical doubles. The complement is
    # subtracted in DECIMAL: Python's float ``1.0 - b`` skews by ~2e-17
    # for non-binary-exact b (0.8 -> 0.19999999999999996) while an
    # oracle writes the literal 0.2 — the q99 pagerank base bug class.
    # Exact for the default b=0.75 either way.
    from decimal import Decimal

    k1_lit, kplus_lit, b_lit = k1, k1 + 1.0, b
    omb_lit = float(Decimal("1") - Decimal(repr(b)))
    idf = (F.col("__n") - F.col("__df") + F.lit(0.5)) / (
        F.col("__df") + F.lit(0.5)
    )
    tf_term = (F.col("__tf") * F.lit(kplus_lit)) / (
        F.col("__tf")
        + F.lit(k1_lit)
        * (
            F.lit(omb_lit)
            + F.lit(b_lit) * (F.col("__dl") / F.col("__avgdl"))
        )
    )
    contrib = (
        F.broadcast(qterms)
        .join(per_doc, "tok")
        .join(dl, id_col)
        .join(F.broadcast(df_docs), "tok")
        .join(F.broadcast(stats))
        .select(
            query_id_col,
            id_col,
            pround(idf * tf_term, 6).alias("__c"),
        )
    )
    scored = contrib.groupBy(query_id_col, id_col).agg(
        pround(dec_sum(F.col("__c"), 6), 4).alias("bm25")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("bm25").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "bm25", "rk")
    )


def rrf_fuse(
    lane_a: DataFrame,
    lane_b: DataFrame,
    keys: list[str],
    rank_col: str = "rk",
    k: int = 10,
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists: ``rrf = 1/(k0 +
    rank_a) + 1/(k0 + rank_b)``, with a missing lane contributing 0
    (standard RRF over top-k lists). ``keys`` = [group_col, item_col]
    — e.g. ``["query_id", "doc_id"]``; each lane must carry
    ``rank_col`` (1-based within group).

    Deterministic: each 1/(k0+r) division is a single correctly-
    rounded IEEE op, the two-term sum has a fixed written order, and
    the final rank tie-breaks ``(rrf DESC, item)``. Output:
    (*keys, rrf, rk_a, rk_b, rk) — absent-lane ranks reported as 0.

    Scale: both inputs are already top-k-per-group sized (queries x
    k rows) — the fusion join is trivially small whatever the corpus
    was; fuse N lanes by folding this pairwise.
    """
    group_col, item_col = keys
    a = lane_a.select(*keys, F.col(rank_col).alias("__ra"))
    bdf = lane_b.select(*keys, F.col(rank_col).alias("__rb"))
    fused = a.join(bdf, keys, "full_outer").select(
        *keys,
        pround(
            F.coalesce(
                F.lit(1.0) / (F.lit(float(k0)) + F.col("__ra")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(k0)) + F.col("__rb")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
        F.coalesce(F.col("__ra"), F.lit(0)).cast("long").alias("rk_a"),
        F.coalesce(F.col("__rb"), F.lit(0)).cast("long").alias("rk_b"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("rrf").desc(), F.col(item_col)
    )
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def mine_hard_negatives(
    results: DataFrame,
    positives: DataFrame,
    k_neg: int = 5,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rk",
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training — the
    classic BM25-negatives recipe (Karpukhin et al., "Dense Passage
    Retrieval", EMNLP 2020): from a retrieval lane's ranked top-k
    ``results``, drop the known ``positives`` (anti-join on
    (query, id)) and keep the ``k_neg`` best-ranked survivors per
    query. Documents a lexical retriever scores highly but the
    relevance set rejects are exactly the confusable pairs a
    contrastive loss needs; random negatives are trivially separable
    and teach nothing. Output is the labeled training-pair frame:
    positives as ``role='pos'`` with ``pair_rank`` 0, mined negatives
    as ``role='neg'`` re-numbered 1..k_neg by (lane rank, id) — a
    downstream trainer groups by query and reads (pos, negs) batches
    straight off it.

    Deterministic: anti-join + row_number with a total tiebreak —
    integer-only, so a SQL oracle re-derives it exactly.

    Scale: both inputs are (queries x k)-sized whatever the corpus
    was — the mining join is training-set-shaped, never corpus-
    shaped. Each input feeds two consumers (positives: pass-through +
    anti-join; results: only once, but the lane subtree above it is
    expensive), so the caller should pass eagerly-cut frames (the
    q141/q148 multi-consumer rule); positives is cut here because
    BOTH consumers are local.
    """
    pos = (
        positives.select(query_id_col, id_col)
        .distinct()
        .localCheckpoint(eager=True)
    )
    wneg = Window.partitionBy(query_id_col).orderBy(
        F.col(rank_col), F.col(id_col)
    )
    neg = (
        results.select(query_id_col, id_col, rank_col)
        .join(pos, [query_id_col, id_col], "left_anti")
        .withColumn("pair_rank", F.row_number().over(wneg))
        .filter(F.col("pair_rank") <= k_neg)
        .select(
            query_id_col,
            id_col,
            F.lit("neg").alias("role"),
            F.col("pair_rank").cast("long"),
        )
    )
    return pos.select(
        query_id_col,
        id_col,
        F.lit("pos").alias("role"),
        F.lit(0).cast("long").alias("pair_rank"),
    ).unionByName(neg)


def dcg_weight_literals(k: int) -> tuple[list[str], list[str]]:
    """The DCG rank discounts ``1/log2(rank+1)`` for ranks 1..k and
    their exact prefix sums, as DECIMAL(16,12) literal strings.

    log2 is the one transcendental in nDCG and libm log2 is NOT
    guaranteed identically rounded across engines — so it never runs
    inside a query: the k discounts are computed ONCE here
    (CPython's correctly-rounded ``math.log2`` on small ints),
    quantized to 12 decimal places, and embedded as identical decimal
    LITERALS on both the Spark and the DuckDB side (the q166
    plane-literal rule). Decimal sums make DCG order-independent and
    engine-exact; prefix sums are added exactly in Decimal so the
    ideal-DCG table is literal too.
    """
    import math
    from decimal import Decimal

    q = Decimal("1e-12")
    ws = [
        Decimal(1.0 / math.log2(r + 1)).quantize(q)
        for r in range(1, k + 1)
    ]
    cums, acc = [], Decimal(0)
    for w in ws:
        acc += w
        cums.append(acc)
    return [str(w) for w in ws], [str(c) for c in cums]


def ranking_quality_report(
    results: DataFrame,
    relevant: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rk",
    round_digits: int = 4,
) -> DataFrame:
    """Per-query ranking quality of a retrieval lane against a binary
    relevance set — the IR-observability twin of ``recall_report``:
    (query, n_relevant, n_retrieved, n_rel_retrieved, first_rel_rank,
    rr, dcg, ndcg) with MRR's reciprocal rank and binary-gain
    DCG@k / nDCG@k. ``results`` carries a 1-based ``rank_col``;
    ``relevant`` is the (query, id) relevance set (any extra columns
    ignored).

    Determinism: every metric is integer counting plus exact-decimal
    sums of the ``dcg_weight_literals`` constants plus one or two
    correctly-rounded IEEE divisions — a SQL oracle re-derives it all
    bit-for-bit. Conventions: no relevant hit → rr = 0.0 and
    dcg = 0.0 with first_rel_rank NULL; n_relevant = 0 → ndcg NULL
    (undefined), else ndcg in [0, 1].

    Both inputs feed two consumers each (own count + the hit join),
    so each is eagerly cut first — they are (queries x k)-sized, and
    the expensive retrieval subtrees must evaluate once (the
    q141/q148 multi-consumer rule).
    """
    ws, cums = dcg_weight_literals(k)
    warr = "array(" + ", ".join(
        f"CAST('{w}' AS DECIMAL(16,12))" for w in ws
    ) + ")"
    carr = "array(" + ", ".join(
        f"CAST('{c}' AS DECIMAL(16,12))" for c in cums
    ) + ")"
    r = (
        results.filter(F.col(rank_col) <= k)
        .select(
            query_id_col, id_col, F.col(rank_col).cast("int").alias("__rk")
        )
        .localCheckpoint(eager=True)
    )
    rel = (
        relevant.select(query_id_col, id_col)
        .distinct()
        .localCheckpoint(eager=True)
    )
    nrel = rel.groupBy(query_id_col).agg(
        F.count("*").cast("long").alias("n_relevant")
    )
    nret = r.groupBy(query_id_col).agg(
        F.count("*").cast("long").alias("n_retrieved")
    )
    hits = r.join(rel, [query_id_col, id_col], "left_semi")
    hagg = hits.groupBy(query_id_col).agg(
        F.count("*").cast("long").alias("n_rel_retrieved"),
        F.min("__rk").cast("long").alias("first_rel_rank"),
        F.sum(F.expr(f"element_at({warr}, __rk)")).alias("__dcg_dec"),
    )
    idcg_dec = F.expr(
        f"element_at({carr}, CAST(least(n_relevant, {k}) AS INT))"
    )
    out = (
        nrel.join(nret, query_id_col, "full_outer")
        .join(hagg, query_id_col, "left")
        .select(
            query_id_col,
            F.coalesce("n_relevant", F.lit(0)).cast("long")
            .alias("n_relevant"),
            F.coalesce("n_retrieved", F.lit(0)).cast("long")
            .alias("n_retrieved"),
            F.coalesce("n_rel_retrieved", F.lit(0)).cast("long")
            .alias("n_rel_retrieved"),
            "first_rel_rank",
            F.coalesce(
                pround(F.lit(1.0) / F.col("first_rel_rank"), round_digits),
                F.lit(0.0),
            ).alias("rr"),
            F.coalesce(
                pround(
                    F.col("__dcg_dec").cast("double"), round_digits
                ),
                F.lit(0.0),
            ).alias("dcg"),
            F.when(
                F.coalesce("n_relevant", F.lit(0)) > 0,
                pround(
                    F.coalesce(
                        F.col("__dcg_dec").cast("double"), F.lit(0.0)
                    )
                    / idcg_dec.cast("double"),
                    round_digits,
                ),
            ).alias("ndcg"),
        )
    )
    return out
