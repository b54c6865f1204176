"""Declared query surface (SURVEY.md §2.9) + oracle SQL.

Each ``q*`` builder takes ``(spark, sf_dir)`` and returns a DataFrame;
``ORACLE`` maps the same keys to ANSI SQL that DuckDB runs on the
identical parquet tables. Contract for hash-stability (SURVEY.md §2.9):
total ORDER BY, ``round()`` on floating aggregates, explicit BIGINT
casts on counts/positions, timestamps rendered as strings, identical
column aliases on both sides.

Oracle fragments: an algorithm that two oracles replay (the shingle
and MinHash ladder, the quality score, the vector prelude and recall
tail, the pHash gate, the fake AV decoders, ...) is ONE named SQL
fragment — a constant or a ``_*_sql``/``_*_ctes`` function next to
its first user — and every oracle composes it. Fragments are plain
DuckDB SQL shared only between oracles: they never import, call or
copy the Spark-side code, so the differential stays independent.

Determinism notes:
- all content hashing is md5 (same hex on any engine);
- every top-k ranks on a *rounded* score + unique id tie-break so
  float ULP noise can't reorder results;
- session timezone pinned to UTC by the table loader.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_project_spark.functions import (
    NUMERIC_FACT_RE,
    dec_sum,
    hash_embedding,
    parse_number,
    pround,
    tokens,
)
from data_lake_project_spark.operators import dataset as DS
from data_lake_project_spark.operators import dedup as D
from data_lake_project_spark.operators import interval as IV
from data_lake_project_spark.operators import similarity as SIM
from data_lake_project_spark.operators import text as TX
from data_lake_project_spark.operators.asof import asof_join
from data_lake_project_spark.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_TS = "yyyy-MM-dd HH:mm:ss"  # Spark pattern
_TS_DUCK = "%Y-%m-%d %H:%M:%S"  # strftime pattern


def _ts(col) -> F.Column:
    return F.date_format(col, _TS)


# ---------------------------------------------------------------------------
# Relational surface Q01-Q20
# ---------------------------------------------------------------------------


def q01_scan_project(spark, sf):
    """S6/S7/P1: scan + cast-project (``spark_stream.py:167,213``)."""
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.col("c_acctbal").cast("decimal(12,2)").cast("string").alias("acctbal_str"),
    ).orderBy("c_custkey")


def q02_json_extract(spark, sf):
    """P2/F9: JSON path extraction (``spark_stream.py:159-171`` from_json)."""
    e = load_table(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").alias("k")
    ).orderBy("event_id")


def q03_contains_filter(spark, sf):
    """P3: case-insensitive containment predicate (``kpis_search.py:50``)."""
    p = load_table(spark, sf, "part")
    return (
        p.filter(F.lower(F.col("p_type")).contains("omo"))
        .select("p_partkey", "p_type")
        .orderBy("p_partkey")
    )


def q04_equi_join(spark, sf):
    """Broadcast equi-join of a small dim (nation x region)."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "r_name")
        .orderBy("n_name")
    )


def q05_multiway_join_agg(spark, sf):
    """TPC-H Q3-shaped: customer ⋈ orders ⋈ lineitem, top-10 revenue."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            pround(
                dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey", _ts(F.col("o_orderdate")).alias("order_ts"), "revenue"
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


def q06_anti_join(spark, sf):
    """Left-anti join: customers with no orders."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count("*").alias("n_no_orders")
    )


def q07_asof_join(spark, sf):
    """J2 as-of: latest event at or before each order, per customer.

    Uses the union+window as-of operator (one shuffle, no theta-join;
    see ``operators/asof.py``; reference ``texteExtract.py:95-111``).
    """
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    e = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    joined = asof_join(
        o,
        e.withColumnRenamed("user_id", "o_custkey"),
        on="o_custkey",
        left_time="o_orderdate",
        right_time="ts",
        right_values=["ts", "event_type"],
        right_tiebreak="event_id",
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        _ts(F.col("o_orderdate")).alias("order_ts"),
        _ts(F.col("ts")).alias("event_ts"),
        "event_type",
    ).orderBy("o_orderkey")


def q08_groupby_agg(spark, sf):
    """TPC-H Q1 core (A2 analog)."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(dec_sum(F.col("l_quantity")), 2).alias("sum_qty"),
            pround(dec_sum(F.col("l_extendedprice")), 2).alias("sum_base"),
            pround(dec_sum(F.col("l_discount")) / F.count(F.lit(1)), 4).alias(
                "avg_disc"
            ),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q09_count_distinct(spark, sf):
    """Exact distinct count (approx variant: q33, tolerance-checked)."""
    o = load_table(spark, sf, "orders")
    return o.agg(F.countDistinct("o_custkey").alias("n_cust"))


def q10_rollup(spark, sf):
    """Grouping-sets/rollup with grouping_id."""
    o = load_table(spark, sf, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            pround(dec_sum(F.col("o_totalprice")), 2).alias("sum_price"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy("gid", "o_orderpriority", "o_orderstatus")
    )


def q11_window_rank(spark, sf):
    """Ranking window: first 2 orders per customer."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            _ts(F.col("o_orderdate")).alias("order_ts"),
            "rn",
            "rk",
        )
        .orderBy("o_custkey", "rn")
    )


def q12_window_frame(spark, sf):
    """Sliding frame: 3-row rolling sum per user."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        e.withColumn("roll_sum", pround(F.sum("value").over(w), 2))
        .select("user_id", "event_id", _ts(F.col("ts")).alias("ts_str"), "roll_sum")
        .orderBy("user_id", "event_id")
    )


def q13_lag_delta(spark, sf):
    """lag/lead: per-user value deltas."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn(
            "delta", pround(F.col("value") - F.lag("value").over(w), 2)
        )
        .select("user_id", "event_id", "delta")
        .orderBy("user_id", "event_id")
    )


def q14_topk(spark, sf):
    """O1/O3 sort + limit top-k (TakeOrderedAndProject)."""
    o = load_table(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(5)
    )


def q15_except(spark, sf):
    """Set op: custkeys with 'F' orders EXCEPT custkeys with 'O' orders."""
    o = load_table(spark, sf, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return f_keys.subtract(o_keys).orderBy("o_custkey")


def q15b_intersect(spark, sf):
    """Set op: custkeys having both 'F' and 'O' orders."""
    o = load_table(spark, sf, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    return f_keys.intersect(o_keys).orderBy("o_custkey")


def q16_string_fns(spark, sf):
    """F1-F7 string pipeline incl. decimal-comma parse_number
    (``notePresentation.py:73-76``)."""
    p = load_table(spark, sf, "part")
    euro = F.regexp_replace(
        F.col("p_retailprice").cast("decimal(12,2)").cast("string"), r"\.", ","
    )
    return p.select(
        "p_partkey",
        F.lower(F.trim(F.col("p_name"))).alias("name_lc"),
        F.regexp_replace(F.col("p_name"), " ", "_").alias("name_us"),
        F.instr(F.lower(F.col("p_name")), "a").cast("long").alias("a_pos"),
        F.substring(F.lower(F.col("p_name")), 1, 5).alias("name5"),
        F.element_at(F.split(F.col("p_name"), " "), 1).alias("first_word"),
        parse_number(euro).alias("price_parsed"),
    ).orderBy("p_partkey")


def q17_date_fns(spark, sf):
    """F10 date functions: year/month/datediff/date_trunc."""
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem").filter(F.col("l_linenumber") == 1)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("ship_days"),
            F.date_trunc("month", F.col("l_shipdate"))
            .cast("date")
            .cast("string")
            .alias("ship_month"),
        )
        .orderBy("o_orderkey")
    )


def q18_math_fns(spark, sf):
    """F11/F12: greatest/least/abs/round arithmetic."""
    l = load_table(spark, sf, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.select(
        "l_orderkey",
        "l_linenumber",
        pround(F.greatest(net, F.col("l_extendedprice") * 0.9), 2).alias("g_val"),
        pround(F.least(net, F.col("l_extendedprice") * 0.9), 2).alias("l_val"),
        pround(
            F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0), 2
        ).alias("abs_val"),
    ).orderBy("l_orderkey", "l_linenumber")


def q19_array_fns(spark, sf):
    """Array ops: split/explode-free scalar view (array_sort, element_at)."""
    d = load_table(spark, sf, "documents")
    toks = tokens(F.col("text"))
    return (
        d.filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            F.element_at(F.array_sort(toks), 1).alias("first_sorted"),
            F.element_at(toks, F.size(toks)).alias("last_tok"),
        )
        .orderBy("doc_id")
    )


def q20_argmin(spark, sf):
    """A3 arg-min (``texteExtract.py:119-121``): event with min |value|
    per user; composite min key makes ties deterministic."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.abs(F.col("value")), "event_id")
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("min_event_type"),
            pround(F.col("value"), 2).alias("min_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# North-star Q21-Q32
# ---------------------------------------------------------------------------


def q21_dedup_exact(spark, sf):
    """Exact dedup: lowest doc_id per md5 content hash."""
    d = load_table(spark, sf, "documents")
    return D.exact_dedup(d).select("doc_id", "content_hash").orderBy("doc_id")


def q22_similarity_topk(spark, sf):
    """Brute-force top-10 cosine neighbors for probes vec_id < 5."""
    e = load_table(spark, sf, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.brute_force_topk(e, probes, k=10).orderBy("probe_id", "vec_id")


def q23_text_stats(spark, sf):
    """Token counting + numeric-fact extraction (``texteExtract.py:27-36``)."""
    d = load_table(spark, sf, "documents")
    stats = TX.token_stats(d)
    facts = TX.numeric_facts(d)
    return (
        stats.join(facts, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_bpeish").cast("long").alias("n_bpeish"),
            F.col("n_facts").cast("long").alias("n_facts"),
        )
        .orderBy("doc_id")
    )


def q24_interval_join(spark, sf):
    """J1 grid-cell x box IoU join via bucketed interval join
    (``tableExtract.py:171-197``), on deterministic synthetic geometry."""
    cells = spark.range(100).select(
        (F.col("id") / 10).cast("long").alias("cell_row"),
        (F.col("id") % 10).alias("cell_col"),
        ((F.col("id") % 10) * 10).cast("double").alias("c_x1"),
        ((F.col("id") / 10).cast("long") * 10).cast("double").alias("c_y1"),
        ((F.col("id") % 10) * 10 + 10).cast("double").alias("c_x2"),
        ((F.col("id") / 10).cast("long") * 10 + 10).cast("double").alias("c_y2"),
    )
    boxes = spark.range(200).select(
        F.col("id").alias("box_id"),
        ((F.col("id") * 7) % 93).cast("double").alias("b_x1"),
        ((F.col("id") * 13) % 89).cast("double").alias("b_y1"),
        ((F.col("id") * 7) % 93 + (F.col("id") % 5) + 3)
        .cast("double")
        .alias("b_x2"),
        ((F.col("id") * 13) % 89 + (F.col("id") % 7) + 4)
        .cast("double")
        .alias("b_y2"),
        F.concat(F.lit("b"), F.col("id").cast("string")).alias("btext"),
    )
    matched = IV.iou_join(cells, boxes, bucket=10.0, min_iou=0.09)
    return (
        matched.groupBy("cell_row", "cell_col")
        .agg(
            F.min_by("btext", "box_id").alias("first_text"),
            F.count("*").alias("n_boxes"),
        )
        .orderBy("cell_row", "cell_col")
    )


def q25_minhash_candidates(spark, sf):
    """MinHash-LSH near-dup candidate pairs over 3-gram shingles.

    Set-based pipeline: shingle arrays + signatures are narrow per-row
    ops; the only shuffle is the LSH band self-join."""
    d = load_table(spark, sf, "documents")
    sets = D.shingle_sets(d, k=3)
    sig = D.minhash_sets(sets, num_hashes=8)
    return D.minhash_candidates_sets(sig, band_size=2).orderBy("id_a", "id_b")


def q26_jaccard_neardup(spark, sf):
    """MinHash candidates verified by exact shingle Jaccard >= 0.5."""
    d = load_table(spark, sf, "documents")
    return D.minhash_neardup_pairs(d).orderBy("id_a", "id_b")


def q27_simhash(spark, sf):
    """16-bit SimHash fingerprint per document."""
    d = load_table(spark, sf, "documents")
    return D.simhash16(d).orderBy("doc_id")


def q28_embedding_neardup(spark, sf):
    """Blocked cosine near-dup pairs (block = label) under
    ``impl='auto'`` — the PRODUCTION plan (resolves to the Arrow/BLAS
    block matmul, ~4-6x the expr lane's throughput at sf0.1), so the
    headline suite number measures what a deployment runs (round-9
    verdict item: the declared default should be the production
    lane). The pure-JVM expression twin is q28b (same oracle; pair
    sets parity-tested — cosines agree to ~1e-12 and the shared
    4-decimal pround keeps the hashes identical)."""
    e = load_table(spark, sf, "embeddings")
    return D.embedding_neardup(e, threshold=0.35, impl="auto").orderBy(
        "id_a", "id_b"
    )


def q28b_embedding_neardup_expr(spark, sf):
    """q28's pure-JVM expression twin (``impl='expr'``: every
    comparison an ``aggregate``/``zip_with`` lambda, zero Python in
    the path) — the oracle-bit-exactness lane kept as its own
    declared query now that q28 defaults to the production Arrow
    plan (this pair flipped names/lanes in round 10; formerly
    q28=expr, q28b=arrow)."""
    e = load_table(spark, sf, "embeddings")
    return D.embedding_neardup(e, threshold=0.35, impl="expr").orderBy(
        "id_a", "id_b"
    )


def q29_language_id(spark, sf):
    """Stopword-heuristic language ID."""
    d = load_table(spark, sf, "documents")
    return TX.language_id(d).orderBy("doc_id")


def q30_quality_score(spark, sf):
    """Document quality scoring (length/punct/stopword composite)."""
    d = load_table(spark, sf, "documents")
    return TX.quality_score(d).orderBy("doc_id")


def q31_fingerprint(spark, sf):
    """md5 fingerprint of normalized text."""
    d = load_table(spark, sf, "documents")
    return TX.fingerprint(d).orderBy("doc_id")


def q32_approx_distinct(spark, sf):
    """Approx distinct (HLL) — tolerance-checked, no value oracle."""
    o = load_table(spark, sf, "orders")
    return o.agg(F.approx_count_distinct("o_custkey").alias("n_approx"))


def q33_lsh_topk(spark, sf):
    """Approximate ANN via multi-table random-hyperplane LSH — rows-only
    driver check, but recall-contracted in CI:
    ``tests/test_operators.py::test_lsh_topk_recall_vs_brute_force``
    pins recall >= 0.5 vs ``brute_force_topk`` at this exact config
    (bits=6, n_tables=4 — ~4*7/64 = 44% expected corpus coverage),
    plus exact-cosine parity on shared pairs and determinism.
    Exact baseline is q22."""
    e = load_table(spark, sf, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.lsh_bucketed_topk(
        e, probes, k=10, bits=6, n_tables=4, dim=64
    ).orderBy("probe_id", "vec_id")


def q38_language_id_ngram(spark, sf):
    """Char-trigram language ID over documents (n-gram heuristic LID;
    stopword variant is q29)."""
    from data_lake_project_spark.operators.text import language_id_ngram

    d = load_table(spark, sf, "documents")
    return language_id_ngram(d).orderBy("doc_id")


def q129_pq_topk(spark, sf):
    """Approximate ANN via product quantization (ADC scan) — rows-only
    check like q33/q37 (quantization error is the point; recall floor
    vs the exact baseline is CI-pinned). 128-bit codes (16 subspaces
    x 64 codes), Arrow-batched encoding, m-lookup ADC scoring. See
    ``operators.similarity.pq_topk``."""
    e = load_table(spark, sf, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.pq_topk(e, probes, k=10, dim=64).orderBy(
        "probe_id", "vec_id"
    )


def q133_ivfpq_topk(spark, sf):
    """IVF+PQ composed ANN — the production FAISS shape: coarse
    buckets prune the scan to nprobe/n_centroids of the corpus, PQ
    codes make the surviving candidates m-lookups cheap, and the
    probe LUTs meet the corpus in a broadcast EQUI-join on the bucket
    key (vs q129's full ADC cross). Rows-only like q33/q37/q129;
    recall floor CI-pinned. See ``operators.similarity.ivfpq_topk``."""
    e = load_table(spark, sf, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.ivfpq_topk(e, probes, k=10, dim=64).orderBy(
        "probe_id", "vec_id"
    )


def _dataset_fingerprint(sf: str, table: str) -> str:
    """Driver-side CONTENT fingerprint of a fixture table folded into
    the lane-cache keys, so a cached artifact is REBUILT when the
    underlying data changes instead of silently serving results from a
    previous corpus. Hashes actual bytes (full file below 16 MB, else
    size + head/tail 1 MB samples) AND the mtime — size+mtime alone
    missed an in-place regeneration with identical sizes inside the
    same mtime second (round-5 review), and content samples alone
    would miss a middle-only rewrite of a large file (round-6 review):
    together, a stale hit needs identical samples in the same mtime
    second. Local paths only — which is what the temp-dir build-if-absent
    lifecycle is for; a cluster deployment versions its indexes
    explicitly."""
    import glob as _glob
    import hashlib as _hashlib
    import os as _os

    base = _os.path.join(sf, f"{table}.parquet")
    h = _hashlib.md5()
    for pth in sorted(
        _glob.glob(base)
        + _glob.glob(_os.path.join(base, "**", "*"), recursive=True)
    ):
        if _os.path.isdir(pth):
            h.update(f"{pth}|dir".encode())
            continue
        st = _os.stat(pth)
        size = st.st_size
        h.update(f"{pth}|{size}|{st.st_mtime_ns}".encode())
        with open(pth, "rb") as fh:
            if size <= 16 * 1024 * 1024:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
            else:
                h.update(fh.read(1 << 20))
                fh.seek(-(1 << 20), _os.SEEK_END)
                h.update(fh.read(1 << 20))
    return h.hexdigest()[:12]


def _publish_if_absent(spark, path: str, build_fn) -> None:
    """Single-winner build-if-absent publish for the temp-dir caches:
    build into a unique temp directory next to ``path`` and atomically
    ``os.rename`` it in. Concurrent runs never observe a half-written
    index (readers either see nothing — and build their own — or a
    fully-published directory), and a published path is never
    overwritten in place (a changed fixture changes the fingerprint
    and therefore the path). The loser of a publish race deletes its
    temp build and reads the winner's.

    The presence gate is the PATH ITSELF: because publication is an
    atomic rename of a fully-built temp dir, an existing path IS a
    complete index — no per-lane marker file needed. (A marker gate
    on ANN's old ``model.json`` sidecar silently rebuilt-and-discarded
    the BM25 lane every run, whose save wrote ``params.json``; every
    persisted lane now writes the one ``params.json`` sidecar of
    ``operators/lane.py``, and the path stays the gate.)
    """
    import errno as _errno
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from data_lake_project_spark import fs

    if fs.exists(spark, path):
        return
    tmp = f"{path}.build-{_os.getpid()}-{_uuid.uuid4().hex[:8]}"
    try:
        build_fn(tmp)
        _os.rename(tmp, path)
    except OSError as exc:
        # ENOTEMPTY/EEXIST: another run published first — use theirs
        if exc.errno not in (_errno.ENOTEMPTY, _errno.EEXIST):
            _shutil.rmtree(tmp, ignore_errors=True)
            raise
        _shutil.rmtree(tmp, ignore_errors=True)
    except BaseException:
        # failed build (OOM, interrupt, disk full): never leave the
        # partial temp dir accumulating in the cache root
        _shutil.rmtree(tmp, ignore_errors=True)
        raise


def _cache_path(name: str, sf: str, *key: str) -> str:
    """``<root>/<name>/<fixture tag>_<key...>``: the one root of every
    library cache is the temp dir at call time (``/tmp`` by default;
    a run that sets ``TMPDIR`` keeps its caches to itself)."""
    import tempfile as _tempfile

    tag = sf.rstrip("/").replace("/", "_").replace(".", "_")
    return f"{_tempfile.gettempdir()}/{name}/" + "_".join((tag, *key))


def _published_lane(spark, sf, tables, key: str, build_fn) -> str:
    """Publish-if-absent a lane cache keyed by the fixture dir, the
    content fingerprints of ``tables`` (a changed fixture forces a
    rebuild — a stale index would silently serve old results) and
    ``key`` (the lane config / layout version); returns its path.
    ``v3`` is the ``operators/lane.py`` on-disk format: bump it when
    that changes, so new code never loads an older layout's cache."""
    fps = [_dataset_fingerprint(sf, t) for t in tables]
    path = _cache_path("spark_graft_ann_idx/v3", sf, *fps, key)
    _publish_if_absent(spark, path, build_fn)
    return path


def q137_ann_index_search(spark, sf):
    """ANN served from a PERSISTED index — the production complement
    to q133's inline train+encode+search: the IVF+PQ index (model +
    encoded codes table) is built once per (sf, config) and saved;
    every subsequent run loads it and pays ONLY the bucket-pruned ADC
    scan + top-k. Rows-only like q129/q133; the build→save→load→
    search ≡ inline equality is CI-pinned
    (test_ann_index_roundtrip_matches_inline_operators). See
    ``operators.ann_index``."""
    from data_lake_project_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        save_ann_index,
        search_ann_index,
    )

    e = load_table(spark, sf, "embeddings")
    # the temp-build + atomic-rename publish keeps concurrent runs
    # from ever reading a half-written index
    path = _published_lane(
        spark,
        sf,
        ["embeddings"],
        "ivfpq_16x16x64",
        lambda tmp: save_ann_index(
            build_ann_index(e, kind="ivfpq", dim=64), tmp
        ),
    )
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return search_ann_index(
        load_ann_index(spark, path), probes, k=10
    ).orderBy("probe_id", "vec_id")


def q138_bpe_vocab(spark, sf):
    """Distributed BPE tokenizer training: 8 merges learned from the
    documents corpus — ONE corpus-sized word-count aggregation, then
    vocabulary-sized merge iterations (weighted pair explode →
    partial-agg'd groupBy → 1-row winner collect → JVM merge fold),
    the Sennrich recipe Spark-first. No SQL oracle (iterative, like
    q88); exact-match golden vs a pure-Python reference BPE plus
    determinism are CI-pinned
    (test_bpe_merges_match_reference_on_fixture). See
    ``operators.bpe``."""
    from data_lake_project_spark.operators.bpe import bpe_merges

    d = load_table(spark, sf, "documents")
    return bpe_merges(d, k_merges=8).orderBy("step")


def q139_semantic_dedup(spark, sf):
    """SemDeDup-style semantic deduplication: deterministic cosine
    k-means clusters the embedding space, then within each cluster
    every item with a lower-id neighbor at cosine >= 0.4 is dropped —
    the curation step that removes paraphrase-level duplicates the
    lexical MinHash family (q25/q26) cannot see. Rows-only (k-means is
    not SQL-expressible, like q88); determinism + the no-similar-kept-
    pair property are CI-pinned (test_semantic_dedup_properties). See
    ``operators.dedup.semantic_dedup``."""
    from data_lake_project_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf, "embeddings")
    return semantic_dedup(e, n_clusters=16, threshold=0.4).orderBy(
        "vec_id"
    )


# q140's FIXED tokenizer: the top learned merges from the fixture
# corpus, frozen as the served artifact (tokenizers train once and
# apply everywhere — the apply side is pure deterministic string
# algebra, so unlike training it IS oracle-checkable).
_Q140_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"),
    ("t", "</w>"), ("er", "</w>"), ("o", "w"), ("ow", "</w>"),
]


def q140_bpe_tokenize(spark, sf):
    """BPE tokenization with a fixed merge table: subword frequency
    top-50 over documents. Each merge is ONE symbol-anchored global
    string replace (separator-wrapped symbols make left-to-right
    non-overlapping `replace` exactly the BPE merge walk — golden-
    pinned vs a reference tokenizer); zero UDFs, zero shuffles before
    the final token groupBy. See ``operators.bpe.bpe_apply``."""
    from data_lake_project_spark.operators.bpe import bpe_apply

    d = load_table(spark, sf, "documents")
    return (
        bpe_apply(d, _Q140_MERGES)
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


def q141_ingest_pipeline(spark, sf):
    """Capstone v2 — the production ingest path with the round-5
    primitives composed end-to-end, fully oracle-checked: the
    re-ingest batch (doc_id % 5 == 0) is (1) gated against the
    standing corpus's MAINTAINED dedup index (q136's lane), (2)
    quality-scored and cut at >= 0.6 (q30's composite), (3) tokenized
    with the FIXED BPE merge table (q140's serving algebra) to get
    real subword counts, and (4) admitted under a per-source token
    BUDGET (q85's running-cumsum cut, but in learned subwords — the
    unit a training mixture actually buys). One relational plan: band
    equi-join gate → narrow scoring map → tokenizer map + one count
    shuffle → per-source window. The gate subtree's checkpoint policy
    (eager local / reliable / none) is a parameter of the factored
    operator — see ``operators.dataset.ingest_pipeline`` for the
    measured tradeoff."""
    from data_lake_project_spark.operators.dataset import ingest_pipeline

    d = load_table(spark, sf, "documents")
    return ingest_pipeline(
        d.filter(F.col("doc_id") % 5 != 0),
        d.filter(F.col("doc_id") % 5 == 0),
        _Q140_MERGES,
        quality_min=0.6,
        token_budget=1500,
    ).orderBy("doc_id")


# q142's retrieval queries — fixed strings, embedded with the same
# deterministic hash encoder as the chunks (a real deployment swaps
# the encoder for a model UDF; the retrieval plan is unchanged).
_Q142_QUERIES = [
    (1, "supplier quality metrics"),
    (2, "customer order history"),
    (3, "shipping delay analysis"),
]


def q142_chunk_retrieval(spark, sf):
    """RAG-style retrieval, fully oracle-checked: chunk every document
    into 32-token windows (q97's chunker), embed each chunk AND each
    query string with the deterministic md5 hash-encoder
    (``functions.hash_embedding`` — bit-identical on DuckDB), and
    return the exact top-5 chunks per query by rounded cosine
    (tie-break doc_id, chunk_id). The complete retrieval pipeline —
    chunk → embed → score → rank — with zero model runtime and zero
    Python in the plan; on a cluster the encoder column swaps for a
    model UDF and everything downstream (incl. the ann_index serving
    path) is shape-compatible."""
    from data_lake_project_spark.operators.dataset import chunk_documents

    d = load_table(spark, sf, "documents")
    chunks = chunk_documents(d, chunk_size=32, overlap=8).select(
        "doc_id",
        "chunk_id",
        hash_embedding("chunk_text", 16).alias("__v"),
    )
    c = chunks.withColumn(
        "__cn",
        F.sqrt(
            F.aggregate("__v", F.lit(0.0), lambda a, x: a + x * x)
        ),
    )
    p = (
        spark.createDataFrame(_Q142_QUERIES, "query_id int, qtext string")
        .select("query_id", hash_embedding("qtext", 16).alias("__p"))
        .withColumn(
            "__pn",
            F.sqrt(
                F.aggregate("__p", F.lit(0.0), lambda a, x: a + x * x)
            ),
        )
    )
    dot = F.aggregate(
        F.zip_with("__p", "__v", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = c.crossJoin(F.broadcast(p)).select(
        "query_id",
        "doc_id",
        "chunk_id",
        pround(dot / (F.col("__pn") * F.col("__cn")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "doc_id", "chunk_id"
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 5)
        .drop("__rk")
        .orderBy("query_id", "doc_id", "chunk_id")
    )


def q143_ann_chunk_retrieval(spark, sf):
    """q142's retrieval served through the ANN index — the scale lane
    of the RAG story: hash-embedded chunks build an IVF index (coarse
    cosine k-means, 8 buckets), queries probe their 4 closest buckets
    and run exact cosine only there, so the scoring scan touches
    ~nprobe/n_centroids of the chunks instead of all of them — and,
    persisted build-if-absent (q137's lifecycle), the loaded search
    PARTITION-PRUNES the codes scan to the 4 probed buckets. Chunk
    identity packs as vec_id = doc_id*4096 + chunk_id (chunks per doc
    are context-window counts, far below 4096) and unpacks in the
    output. Rows-only like q33/q37; recall >= 0.6 vs q142's exact
    top-5 is CI-pinned (measured 0.93 at sf0.001)."""
    from data_lake_project_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        save_ann_index,
        search_ann_index,
    )
    from data_lake_project_spark.operators.dataset import chunk_documents

    d = load_table(spark, sf, "documents")
    probes = spark.createDataFrame(
        _Q142_QUERIES, "query_id int, qtext string"
    ).select(
        F.col("query_id").alias("probe_id"),
        hash_embedding("qtext", 16).alias("embedding"),
    )
    # build-if-absent persisted index (q137's lifecycle): first run
    # pays chunk+embed+train+encode once; every run after loads the
    # bucket-partitioned codes and the search partition-prunes
    def _build(tmp):
        # the assert_true lives INSIDE the packing expression (adding
        # a coalesced NULL) so column pruning can't drop the guard: a
        # doc with >= 4096 chunks (~98k tokens at stride 24) would
        # silently collide packed ids and unpack to wrong rows
        chunks = chunk_documents(d, chunk_size=32, overlap=8).select(
            F.expr(
                "doc_id * 4096 + chunk_id + coalesce(cast(assert_true("
                "chunk_id < 4096, 'q143: chunk_id >= 4096 overflows the "
                "packed vec_id — raise the pack width') AS BIGINT), 0)"
            ).alias("vec_id"),
            hash_embedding("chunk_text", 16).alias("embedding"),
        )
        save_ann_index(
            build_ann_index(chunks, kind="ivf", n_centroids=8, dim=16),
            tmp,
        )

    path = _published_lane(spark, sf, ["documents"], "chunks_ivf_8", _build)
    return (
        search_ann_index(
            load_ann_index(spark, path), probes, k=5, nprobe=4
        )
        .select(
            F.col("probe_id").alias("query_id"),
            F.floor(F.col("vec_id") / 4096).cast("long").alias("doc_id"),
            (F.col("vec_id") % 4096).cast("long").alias("chunk_id"),
            "cosine",
        )
        .orderBy("query_id", "doc_id", "chunk_id")
    )


def q144_bm25_retrieval(spark, sf):
    """Exact BM25 lexical retrieval: top-5 documents per query for the
    q142 query set — the lexical lane of the retrieval ladder (dense
    lanes: q142 exact cosine, q143 ANN-served). Rational idf (the q45
    no-libm rule) + decimal-summed per-term contributions keep the
    score bit-identical on both engines. See
    ``operators.retrieval.bm25_topk``."""
    from data_lake_project_spark.operators.retrieval import bm25_topk

    d = load_table(spark, sf, "documents")
    q = spark.createDataFrame(_Q142_QUERIES, "query_id int, qtext string")
    return (
        bm25_topk(d, q, k=5)
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("query_id", "doc_id")
    )


def q145_hybrid_retrieval(spark, sf):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    lane (q144's scorer, top-10) and the dense cosine lane (doc-level
    hash embeddings through q22's exact scorer, top-10) —
    ``rrf = 1/(60+rk_lex) + 1/(60+rk_dense)``, missing lane = 0, the
    standard zero-tuning fusion (Cormack et al., SIGIR 2009). Both
    lanes and the fusion arithmetic are engine-exact, so the whole
    hybrid stack is hash-checked. See
    ``operators.retrieval.rrf_fuse``."""
    from data_lake_project_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )

    d = load_table(spark, sf, "documents")
    qdf = spark.createDataFrame(
        _Q142_QUERIES, "query_id int, qtext string"
    )
    lex = bm25_topk(d, qdf, k=10).select("query_id", "doc_id", "rk")
    corpus = d.select(
        F.col("doc_id").alias("vec_id"),
        hash_embedding("text", 16).alias("embedding"),
    )
    probes = qdf.select(
        F.col("query_id").alias("probe_id"),
        hash_embedding("qtext", 16).alias("embedding"),
    )
    wd = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    # exclude_self=False: query ids and doc ids are independent
    # namespaces that merely overlap — doc 3 must stay visible to
    # query 3 (the similarity module's namespace rule)
    dense = (
        SIM.brute_force_topk(corpus, probes, k=10, exclude_self=False)
        .withColumn("rk", F.row_number().over(wd))
        .select(
            F.col("probe_id").alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            "rk",
        )
    )
    return (
        rrf_fuse(lex, dense, ["query_id", "doc_id"], k=10)
        .select(
            "query_id",
            "doc_id",
            "rrf",
            F.col("rk_a").alias("rk_bm25"),
            F.col("rk_b").alias("rk_cos"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("query_id", "doc_id")
    )


def q146_bpe_compression(spark, sf):
    """Per-document subword compression ratio under the fixed q140
    merge table — the tokens-per-character curation signal (gibberish
    and out-of-domain text tokenize near 1 subword/char; clean prose
    compresses well below). Fully oracle-checked: the BPE serving
    algebra is q140's engine-portable replace chain. See
    ``operators.bpe.subword_compression``."""
    from data_lake_project_spark.operators.bpe import subword_compression

    d = load_table(spark, sf, "documents")
    return subword_compression(d, _Q140_MERGES).orderBy("doc_id")


def q147_importance_weights(spark, sf):
    """DSIR-style hashed-unigram importance weighting: score every
    document by how target-like its token distribution is (target =
    the ``src0`` slice, the probe domain stand-in), via Laplace-
    smoothed bucket probability RATIOS (64 md5 buckets) — the
    data-selection pass that steers a pretraining mixture toward a
    target domain without a trained classifier. Ratio (not log-ratio)
    + decimal sums keep it engine-exact. See
    ``operators.dataset.importance_weights``."""
    from data_lake_project_spark.operators.dataset import importance_weights

    d = load_table(spark, sf, "documents")
    return importance_weights(
        d, F.col("source") == "src0", n_buckets=64
    ).orderBy("doc_id")


def q148_lsh_quality_report(spark, sf):
    """Candidate-generator quality evaluation: recall and precision of
    the MinHash/LSH band candidates (q25's generator) measured against
    the EXACT Jaccard >= 1/2 ground truth from the zero-false-negative
    prefix-filter join (q92's operator) — the observability query a
    dedup pipeline runs when tuning bands/hashes. One-row report; the
    integer-rational threshold keeps the truth set boundary-exact on
    both engines. Composition of two independently hash-green
    operators."""
    from data_lake_project_spark.operators.dedup import (
        minhash_candidates_sets,
        minhash_sets,
        prefix_filter_join,
        shingle_sets,
    )

    d = load_table(spark, sf, "documents")
    # the shingle explode feeds BOTH candidate generators (and the
    # prefix filter references it three more times internally) — cut
    # it once, then cut each pair list: every frame here has multiple
    # consumers, the q141 rule (un-cut, the three 1-row aggs
    # re-evaluated the whole pipeline: measured 16.1 s -> ~4.5 s at
    # sf0.1); all materialized frames are set-list/pair-list-sized
    sets = shingle_sets(d, k=3).localCheckpoint(eager=True)
    cand = (
        minhash_candidates_sets(
            minhash_sets(sets, num_hashes=8), band_size=2
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    truth = (
        prefix_filter_join(sets, threshold=(1, 2))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    nt = truth.agg(F.count("*").cast("long").alias("n_true"))
    nc = cand.agg(F.count("*").cast("long").alias("n_cand"))
    nh = hit.agg(F.count("*").cast("long").alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.when(
                F.col("n_true") > 0,
                pround(
                    F.col("n_hit").cast("double")
                    / F.col("n_true").cast("double"),
                    4,
                ),
            ).alias("recall"),
            F.when(
                F.col("n_cand") > 0,
                pround(
                    F.col("n_hit").cast("double")
                    / F.col("n_cand").cast("double"),
                    4,
                ),
            ).alias("prec"),
        )
    )


def q149_tokenizer_fertility(spark, sf):
    """Tokenizer fertility per source: subwords-per-word under the
    fixed q140 merge table — the standard tokenizer-evaluation metric
    (fertility near 1 = the vocabulary covers the domain; high
    fertility = the tokenizer fragments it). Integer token sums make
    the per-source ratio engine-exact."""
    from data_lake_project_spark.operators.bpe import bpe_apply

    d = load_table(spark, sf, "documents")
    from data_lake_project_spark.functions import tokens as _tokens

    words = (
        d.select(
            "source",
            F.explode(_tokens(F.lower(F.col("text")))).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_words"))
    )
    subs = (
        bpe_apply(d, _Q140_MERGES)
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_subtoks"))
    )
    return (
        words.join(subs, "source")
        .select(
            "source",
            "n_words",
            "n_subtoks",
            pround(
                F.col("n_subtoks").cast("double")
                / F.col("n_words").cast("double"),
                4,
            ).alias("fertility"),
        )
        .orderBy("source")
    )


def q150_bm25_index_search(spark, sf):
    """BM25 served from a PERSISTED lexical index — the q137/q136
    lifecycle story for the lexical retrieval lane: the inverted
    tf/dl tables are built once per (sf, fingerprint) and saved; every
    run after loads them and pays only the vocabulary-sized df/stats
    aggregates + the query-term candidate join. ``bm25_topk`` is
    literally build + search, so this equals q144 by construction —
    and shares q144's oracle (the q136/q102 pattern). See
    ``operators.retrieval``."""
    from data_lake_project_spark.operators.retrieval import (
        build_bm25_index,
        load_bm25_index,
        save_bm25_index,
        search_bm25_index,
    )

    d = load_table(spark, sf, "documents")
    # _tb64: tfs partitioned by the 64-way token hash bucket
    path = _published_lane(
        spark,
        sf,
        ["documents"],
        "bm25_tb64",
        lambda tmp: save_bm25_index(build_bm25_index(d), tmp),
    )
    q = spark.createDataFrame(_Q142_QUERIES, "query_id int, qtext string")
    return (
        search_bm25_index(load_bm25_index(spark, path), q, k=5)
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("query_id", "doc_id")
    )


def q37_ivf_topk(spark, sf):
    """Approximate ANN via IVF coarse quantizer — rows-only check
    (recall depends on nprobe; exact baseline is q22, LSH variant q33).
    ``dim=64`` makes a wrong-width corpus fail fast driver-side; the
    single bounded training job (TakeOrdered sample → driver k-means)
    is the standard IVF recipe — production callers with an existing
    codebook pass ``centroids=`` and run zero pre-index jobs."""
    e = load_table(spark, sf, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.ivf_topk(
        e, probes, k=10, n_centroids=16, nprobe=3, dim=64
    ).orderBy("probe_id", "vec_id")


# ---------------------------------------------------------------------------
# Document-operator queries Q34-Q36: the reference's extraction ops run
# against corpora synthesized deterministically from the base tables —
# the SAME SQL template builds the input on both engines, then the
# Spark side runs the real operator while the oracle re-derives the
# expected output independently.
# ---------------------------------------------------------------------------

# French-econ sentence template (texteExtract shapes): sentiment word /
# none, variable filler (exercises the 25-token lookback boundary),
# attached ("34%") and detached ("35 millions") units, a following
# year, and sometimes a trailing value with NO following year (the
# dropped case). Valid in both Spark SQL and DuckDB.
FACTS_CORPUS_EXPR = """concat(
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'hausse ' WHEN 1 THEN 'baisse ' ELSE 'stable ' END,
  repeat('mot ', CAST(doc_id % 40 AS INT)),
  'de ', CAST(doc_id % 90 AS STRING),
  CASE WHEN doc_id % 2 = 0 THEN '% ' ELSE ' millions ' END,
  'en ', CAST(2000 + doc_id % 25 AS STRING),
  CASE WHEN doc_id % 5 = 0 THEN ' et un solde de 9%' ELSE '' END)"""


def q34_textfacts(spark, sf):
    """Value/year/sign association (``texteExtract.py:95-129``) over a
    synthesized econ-sentence corpus; oracle re-implements the token
    pipeline in SQL."""
    from data_lake_project_spark.operators.textfacts import extract_facts

    d = load_table(spark, sf, "documents").selectExpr(
        "doc_id", f"{FACTS_CORPUS_EXPR} AS text"
    )
    return extract_facts(d).select(
        "doc_id",
        "year",
        "signed_value",
        F.col("v_pos").cast("bigint").alias("v_pos"),
    ).orderBy("doc_id", "v_pos")


def q35_deplot_parse(spark, sf):
    """DePlot linearized-table parse (``activity_test.py:99-112``):
    charts built from region/nation, parsed by the real operator;
    oracle derives the expected series analytically."""
    from data_lake_project_spark.operators.deplot import parse_deplot

    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    charts = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_regionkey", "r_name")
        .agg(
            F.concat_ws(
                " <0x0A> ",
                F.sort_array(
                    F.collect_list(
                        F.concat(
                            F.col("n_name"),
                            F.lit(" | "),
                            F.col("n_nationkey").cast("string"),
                            F.lit(",5"),
                        )
                    )
                ),
            ).alias("body")
        )
        .select(
            F.col("r_regionkey").alias("chart_id"),
            F.concat(
                F.lit("Region "),
                F.col("r_name"),
                F.lit(" <0x0A> Pays | Valeur <0x0A> "),
                F.col("body"),
            ).alias("deplot"),
        )
    )
    return (
        parse_deplot(charts)
        .select("chart_id", "title", "series_label", "x", "value")
        .orderBy("chart_id", "x")
    )


def q36_keyword_scan(spark, sf):
    """Directional first-match keyword scan (``kpis_search.py:21-54``)
    corpus-wide: documents regrouped as (doc, page) pages, first page
    containing the keyword per doc via min_by."""
    from data_lake_project_spark.operators.keyword_scan import (
        find_first_page_per_doc,
    )

    pages = load_table(spark, sf, "documents").selectExpr(
        "doc_id % 50 AS doc", "doc_id div 50 AS page", "text"
    )
    return find_first_page_per_doc(
        pages, "vector", doc_col="doc", text_col="text", page_col="page"
    ).orderBy("doc")


def q06b_semi_join(spark, sf):
    """Left-semi join (SURVEY §2.9 Q06 names left/semi/anti — the semi
    variant): customers with at least one open ('O') order. Existence
    check only, never multiplies rows — the plan Spark picks is a
    broadcast/shuffled semi join, not a join+distinct."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# Multi-sentence corpus for sentence-scoped extraction: sentence 0 is
# keyword-free filler; sentence 1 carries a sign word, doc_id%5 filler
# words (so the 3-words-before trim keeps the sign word only when
# k=0), the keyword, a value with attached/detached unit, and a year;
# sentence 2 holds a decoy fact that whole-text extraction would emit
# but sentence scoping must exclude. Valid in Spark SQL and DuckDB.
SENT_CORPUS_EXPR = """concat(
  'Rapport annuel preliminaire. ',
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'hausse ' WHEN 1 THEN 'baisse ' ELSE 'stable ' END,
  repeat('mot ', CAST(doc_id % 5 AS INT)),
  'notable de production de ', CAST(doc_id % 90 AS STRING),
  CASE WHEN doc_id % 2 = 0 THEN '% en ' ELSE ' millions en ' END,
  CAST(2000 + doc_id % 25 AS STRING),
  '. Ensuite un solde de 9% en 1999.')"""


def q39_sentence_facts(spark, sf):
    """Sentence-scoped fact extraction (``texteExtract.py:10-23`` +
    ``:62-74``): custom-segmenter sentences, first sentence containing
    the keyword, trimmed 3 words before it, THEN the value/year/sign
    matcher — the reference's actual extraction scope (q34 runs the
    matcher whole-text). The decoy fact in the trailing sentence must
    not appear."""
    from data_lake_project_spark.operators.sentences import (
        sentence_scoped_facts,
    )

    d = load_table(spark, sf, "documents").selectExpr(
        "doc_id", f"{SENT_CORPUS_EXPR} AS text"
    )
    return (
        sentence_scoped_facts(d, "production")
        .select(
            "doc_id",
            "year",
            "signed_value",
            F.col("v_pos").cast("bigint").alias("v_pos"),
        )
        .orderBy("doc_id", "v_pos")
    )


def q40_term_frequency(spark, sf):
    """Corpus vocabulary (term + document frequency, two-level
    partial-agg'd rollup), top 50 by tf — the vocabulary-building pass
    of a training-data pipeline."""
    from data_lake_project_spark.operators.text import term_stats

    d = load_table(spark, sf, "documents")
    return (
        term_stats(d)
        .orderBy(F.col("tf").desc(), F.col("tok"))
        .limit(50)
    )


def q41_hash_split(spark, sf):
    """Deterministic md5 train/val/test split (80/10/10) over
    documents: same doc_id → same split on any engine or cluster —
    the leakage-proof dataset-split pass of a training pipeline."""
    from data_lake_project_spark.operators.dataset import hash_split

    d = load_table(spark, sf, "documents")
    return (
        hash_split(d, "doc_id")
        .groupBy("split")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("split")
    )


def q42_time_bucket(spark, sf):
    """Tumbling 1-hour window aggregation in BATCH mode — the exact
    expression the streaming pipeline uses (``streaming/windows.py``
    St1), here pinned against a ``date_trunc`` oracle. Validates the
    window-bucketing semantics the stream=batch equivalence tests
    assume."""
    from data_lake_project_spark.streaming.windows import tumbling_agg

    e = load_table(spark, sf, "events")
    return (
        tumbling_agg(
            e,
            "ts",
            "1 hour",
            agg_exprs=[
                F.count("*").cast("long").alias("n"),
                pround(dec_sum(F.col("value")), 2).alias("sum_value"),
            ],
            keys=["event_type"],
        )
        .select(
            _ts(F.col("win.start")).alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("bucket_start", "event_type")
    )


def q43_sessionize(spark, sf):
    """Batch session-ization with a 30-minute inactivity gap via
    ``session_window`` (St2's expression in batch mode), checked
    against the classic gaps-and-islands SQL derivation (lag →
    new-session flag → cumulative sum → group)."""
    from data_lake_project_spark.streaming.windows import session_agg

    e = load_table(spark, sf, "events")
    return (
        session_agg(
            e,
            "ts",
            "30 minutes",
            agg_exprs=[
                F.count("*").cast("long").alias("n_events"),
                pround(dec_sum(F.col("value")), 2).alias("sum_value"),
            ],
            keys=["user_id"],
        )
        .select(
            "user_id",
            _ts(F.col("win.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def q44_top_supplier_per_nation(spark, sf):
    """TPC-H Q15-flavored argmax-per-group across a multiway join:
    revenue per supplier (fact⋈broadcast-dim, decimal-stable sum),
    top supplier per nation via window rank with deterministic ties,
    names joined back. Completes coverage of the supplier table."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name", "s_nationkey")
        .agg(
            pround(
                dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey")
    )
    top = (
        rev.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    return (
        top.join(F.broadcast(n), top.s_nationkey == n.n_nationkey)
        .select("n_name", "s_suppkey", "s_name", "revenue")
        .orderBy("n_name")
    )


def q45_tfidf_topterms(spark, sf):
    """Top-3 distinctive terms per document by tf-idf (rational
    BM25-style idf — see ``operators/text.tfidf_top_terms`` for why
    there is deliberately no logarithm in an oracle-checked score)."""
    d = load_table(spark, sf, "documents")
    return TX.tfidf_top_terms(d, k=3).orderBy(
        "doc_id", F.col("tfidf").desc(), "tok"
    )


def q46_stratified_sample(spark, sf):
    """Deterministic mixture sampling: keep src0 fully, downsample
    src1 to 50%, src2 to 25%, everything else to 10% — the
    re-weighting pass of a training-data mixture, reproducible from
    the row alone (pure map, no RNG state, zero shuffle)."""
    from data_lake_project_spark.operators.dataset import stratified_sample

    d = load_table(spark, sf, "documents")
    return (
        stratified_sample(
            d,
            "doc_id",
            "source",
            {"src0": 1.0, "src1": 0.5, "src2": 0.25},
            default_rate=0.1,
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q47_normalized_dedup(spark, sf):
    """Fuzzy-exact dedup on canonicalized text (lowercase, strip
    punctuation, collapse whitespace): lowest-id survivor per
    canonical hash + family size."""
    d = load_table(spark, sf, "documents")
    return D.normalized_dedup(d).orderBy("doc_id")


def q48_source_quota(spark, sf):
    """Per-source quota balancing: keep each source's 10 best
    documents by the q30 quality score (deterministic
    quality-desc/doc_id cut) — caps any one domain's contribution to
    the training mixture."""
    from data_lake_project_spark.operators.dataset import quota_per_stratum

    d = load_table(spark, sf, "documents")
    scored = TX.quality_score(d).join(
        d.select("doc_id", "source"), "doc_id"
    )
    return (
        quota_per_stratum(
            scored,
            "source",
            10,
            [F.col("quality").desc(), F.col("doc_id")],
        )
        .select("source", "doc_id", "quality")
        .orderBy("source", F.col("quality").desc(), "doc_id")
    )


def q49_decontaminate(spark, sf):
    """Benchmark decontamination: drop every document sharing a word
    3-gram with the probe set (docs with ``doc_id % 97 == 0`` stand in
    for an eval benchmark). Corpus side never shuffles — the distinct
    probe shingles broadcast into a semi-join."""
    d = load_table(spark, sf, "documents")
    probes = d.filter(F.col("doc_id") % 97 == 0).select("text")
    return (
        D.decontaminate(d, probes, k=3)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


def q50_pack_sequences(spark, sf):
    """Concatenate-then-split sequence packing (budget 200 tokens)
    within per-source shards — the GPT-style pretraining packing
    layout, windowed per shard so no global order materializes."""
    from data_lake_project_spark.operators.dataset import pack_sequences

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    return (
        pack_sequences(d, "n_toks", 200, "source", "doc_id")
        .select("doc_id", "source", "n_toks", "tok_offset", "bin")
        .orderBy("source", "doc_id")
    )


def q51_dedup_clusters(spark, sf):
    """Near-dup cluster formation: verified Jaccard pairs (the q26
    pipeline) promoted to dup FAMILIES via deterministic min-label
    connected components — the keep-one-per-family step of a corpus
    dedup ladder. Oracle: DuckDB recursive-CTE transitive closure
    over the identical verified pair set."""
    d = load_table(spark, sf, "documents")
    pairs = D.minhash_neardup_pairs(d)
    return (
        D.connected_components(pairs)
        .select(F.col("id").alias("doc_id"), "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


def q86_dedup_corpus(spark, sf):
    """The keep-one-per-family materialization q51 stops short of:
    verified Jaccard pairs → connected components → keep the LONGEST
    doc per cluster (ties to lowest id), pass untouched docs through.
    The complete near-dup ladder (shingle → minhash → LSH → verify →
    cluster → materialize) as one oracle-checked plan."""
    d = load_table(spark, sf, "documents")
    pairs = D.minhash_neardup_pairs(d)
    return (
        D.keep_cluster_representatives(
            d.select("doc_id", "n_chars"),
            pairs,
            order_cols=[F.col("n_chars").desc(), F.col("doc_id")],
        )
        .select("doc_id", "n_chars", "family_size")
        .orderBy("doc_id")
    )


def q52_repetition(spark, sf):
    """Intra-document repetition ratio (duplicated word 3-gram
    fraction) — the Gopher/FineWeb quality signal corpus-level dedup
    can't see."""
    from data_lake_project_spark.operators.text import repetition_stats

    d = load_table(spark, sf, "documents")
    return repetition_stats(d, k=3).orderBy("doc_id")


# The oracle must run the byte-identical patterns (see operators.text
# for the dialect-portability constraints on them).
_TEXT_EMAIL_RE = TX.EMAIL_RE
_TEXT_URL_RE = TX.URL_RE

# Deterministic PII-bearing corpus: the synthetic documents carry no
# emails/URLs, so both engines append the same spans derived from
# doc_id (same trick as FACTS_CORPUS_EXPR) — the redaction paths are
# exercised on matching and non-matching rows alike.
PII_CORPUS_EXPR = """concat(text,
  CASE WHEN doc_id % 4 = 0
       THEN concat(' mail user', CAST(doc_id AS STRING), '@example.com')
       ELSE '' END,
  CASE WHEN doc_id % 5 = 0
       THEN concat(' see https://docs.example.org/p/', CAST(doc_id AS STRING))
       ELSE '' END,
  CASE WHEN doc_id % 20 = 0 THEN ' cc ops@example.net thanks' ELSE '' END)"""


def q53_redact_pii(spark, sf):
    """Email/URL scrubbing counts + masked-text fingerprint over the
    synthesized PII corpus."""
    from data_lake_project_spark.operators.text import redact_pii

    d = load_table(spark, sf, "documents").selectExpr(
        "doc_id", f"{PII_CORPUS_EXPR} AS text"
    )
    return redact_pii(d).orderBy("doc_id")


def q54_length_quantiles(spark, sf):
    """Per-source token-length quantiles (p50/p90/p99) — the length
    distribution a mixture designer reads before setting packing
    budgets. EXACT linear-interpolated percentile (same definition as
    DuckDB ``quantile_cont``), partial-aggregated per group."""
    d = load_table(spark, sf, "documents").select(
        "source", F.size(tokens(F.col("text"))).cast("double").alias("n_toks")
    )
    return (
        d.groupBy("source")
        .agg(
            pround(F.expr("percentile(n_toks, 0.5)"), 4).alias("p50"),
            pround(F.expr("percentile(n_toks, 0.9)"), 4).alias("p90"),
            pround(F.expr("percentile(n_toks, 0.99)"), 4).alias("p99"),
        )
        .orderBy("source")
    )


def q55_inverted_index(spark, sf):
    """Inverted index summary: per-term exact document frequency and
    the 20 lowest posting ids (bounded, skew-safe).

    The posting sample is emitted as a CSV string, not an
    ``array<bigint>``: declared query outputs are scalars-only by
    contract (nested types crash pandas-based result canonicalizers —
    see README "Query output contract"); the ``posting_lists``
    operator itself still returns the typed array."""
    from data_lake_project_spark.operators.text import posting_lists

    d = load_table(spark, sf, "documents")
    return (
        posting_lists(d, sample_k=20)
        .select(
            "tok",
            "df_docs",
            F.expr(
                "array_join(transform(postings, x -> cast(x AS string)), ',')"
            ).alias("postings_csv"),
        )
        .orderBy("tok")
    )


def q56_asof_tolerance(spark, sf):
    """As-of join with a tolerance horizon (pandas ``merge_asof
    (tolerance=...)`` semantics): the latest event at or before each
    order still wins the match, but annotations older than 30 days
    are nulled — the staleness cutoff every feature-store lookup
    needs. Same one-shuffle union+window plan as q07; the tolerance
    is a per-row predicate, no extra join."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    e = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    horizon = 30 * 86400
    joined = asof_join(
        o,
        e.withColumnRenamed("user_id", "o_custkey"),
        on="o_custkey",
        left_time="o_orderdate",
        right_time="ts",
        right_values=["ts", "event_type"],
        right_tiebreak="event_id",
        within=lambda lt, rt: (
            lt.cast("timestamp").cast("long")
            - rt.cast("timestamp").cast("long")
        )
        <= horizon,
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        _ts(F.col("o_orderdate")).alias("order_ts"),
        _ts(F.col("ts")).alias("event_ts"),
        "event_type",
    ).orderBy("o_orderkey")


def q59_integrity_checks(spark, sf):
    """Deequ-style data-quality suite as ONE relational result:
    referential integrity (orphan facts), key uniqueness, and
    completeness, each a partial-agg'd or anti-join count — the
    validation pass a lakehouse runs after every load. Checks union
    into a (check, violations) report; each leg is independently
    scannable and the dims broadcast."""
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem")
    c = load_table(spark, sf, "customer")

    orphan_lineitem = (
        l.join(o, l.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("violations"))
        .select(F.lit("lineitem.orderkey_fk").alias("check_name"), "violations")
    )
    # The three orders-side checks share ONE scan: a broadcast left
    # join against the (distinct) customer keys marks FK orphans
    # (__ck NULL == NOT EXISTS, including NULL custkeys, matching
    # anti-join semantics), and uniqueness + completeness ride the
    # same multi-agg. Orders is read twice in the whole suite (here +
    # as the lineitem leg's pruned build side), down from round 2's
    # three scans.
    ckeys = c.select(F.col("c_custkey").alias("__ck")).distinct()
    orders_checks = (
        o.join(F.broadcast(ckeys), o.o_custkey == F.col("__ck"), "left")
        .agg(
            F.count(F.when(F.col("__ck").isNull(), 1)).alias("orphans"),
            (F.count("*") - F.countDistinct("o_orderkey")).alias("dup"),
            F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("nulls"),
        )
        .selectExpr(
            "stack(3, 'orders.custkey_fk', orphans,"
            "         'orders.orderkey_unique', dup,"
            "         'orders.custkey_complete', nulls)"
            " AS (check_name, violations)"
        )
    )

    return (
        orphan_lineitem.unionByName(orders_checks)
        .select("check_name", F.col("violations").cast("long").alias("violations"))
        .orderBy("check_name")
    )


def q60_histogram(spark, sf):
    """Fixed-width histogram of document token lengths (10 buckets of
    20 tokens, top bucket open) — the length-distribution readout a
    curation pass plots before choosing packing budgets. One
    partial-agg'd shuffle on the bucket id."""
    d = load_table(spark, sf, "documents").select(
        F.size(tokens(F.col("text"))).alias("n_toks")
    )
    return (
        d.select(
            F.least(F.floor(F.col("n_toks") / 20), F.lit(9))
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("bucket")
    )


def q57_cube(spark, sf):
    """CUBE grouping sets (all four priority×status marginals) with
    grouping_id — the remaining grouping-set shape q10's ROLLUP
    doesn't cover. Spark expands grouping sets in a single
    partial-agg'd pass, not one scan per set."""
    o = load_table(spark, sf, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            pround(dec_sum(F.col("o_totalprice")), 2).alias("sum_price"),
            F.count("*").alias("cnt"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy("gid", "o_orderpriority", "o_orderstatus")
    )


def q58_pivot(spark, sf):
    """Pivot: order counts per year spread across status columns.
    With the pivot values DECLARED (not discovered), this compiles to
    one conditional-aggregation pass — no extra job to enumerate
    values, no second shuffle."""
    o = load_table(spark, sf, "orders").select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderstatus",
    )
    return (
        o.groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
        .select(
            "order_year",
            F.col("O").cast("long").alias("n_open"),
            F.col("F").cast("long").alias("n_filled"),
            F.col("P").cast("long").alias("n_pending"),
        )
        .orderBy("order_year")
    )


def q61_exists_subquery(spark, sf):
    """Correlated EXISTS subquery (TPC-H Q4 shape): orders with at
    least one late-shipping lineitem, counted by priority. Written as
    SQL so Catalyst's decorrelation path is exercised — RewriteSubquery
    turns the EXISTS into a LEFT SEMI join on l_orderkey with the
    correlated l_shipdate > o_orderdate predicate as the join
    condition; one shuffle, no per-row subquery execution."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q61_orders")
    load_table(spark, sf, "lineitem").createOrReplaceTempView("q61_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM q61_orders o
        WHERE EXISTS (SELECT 1 FROM q61_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


def q62_scalar_subquery(spark, sf):
    """Correlated scalar subquery (TPC-H Q17 shape): revenue from
    small-quantity lineitems of one brand, threshold = 0.2 x the
    part's average quantity. Catalyst decorrelates the scalar agg into
    a grouped aggregate joined back on l_partkey (one extra shuffle on
    the correlation key — the plan a hand-written pre-agg + join would
    produce). The threshold is derived from an exact DECIMAL sum so
    both engines agree bit-for-bit at the comparison boundary
    (double-sum partial-agg ordering must never decide row
    membership)."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView("q62_lineitem")
    load_table(spark, sf, "part").createOrReplaceTempView("q62_part")
    return spark.sql(
        """
        SELECT CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6)))
                               AS DOUBLE) / 7.0 * 100.0 + 0.5) / 100.0
                    AS DOUBLE) AS avg_yearly
        FROM q62_lineitem l JOIN q62_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity <
              (SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
                                  AS DOUBLE) / count(*))
               FROM q62_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        """
    )


def q63_grouped_median(spark, sf):
    """Exact-median + filtered-count aggregates per group
    (``median``/``count_if`` surface). Spark's MEDIAN is exact
    percentile(0.5) — an in-group sort, not a sketch; the filtered
    count stays a partial-agg'd conditional. Group cardinality is tiny
    (returnflag), so the single shuffle moves only per-group state."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.median("l_quantity").alias("med_qty"),
            F.count(F.when(F.col("l_discount") > 0.05, 1))
            .cast("long")
            .alias("n_discounted"),
            F.count("*").cast("long").alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


def q64_distribution_windows(spark, sf):
    """Distribution window functions: NTILE quartiles, PERCENT_RANK,
    CUME_DIST over order value within each priority. The window order
    key includes o_orderkey so NTILE's row-position semantics are
    deterministic under value ties; rank-based PERCENT_RANK/CUME_DIST
    are exact small-integer ratios (identical across engines). One
    shuffle on the partition key, one in-partition sort — and nothing
    else: this is the suite's largest result set (every orders row),
    and both the driver hash and the in-repo oracle compare are
    order-insensitive, so a trailing global orderBy would only add a
    second full range-partition sort (it was the suite's worst
    baseline ratio in round 3 before being dropped)."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Round-3 surface Q65-Q74: grouping sets, range join, SCD2 history,
# interval-frame windows, funnel/retention event analytics, corpus
# boilerplate scrub, winsorized stats, salted-join parity, bigrams.
# ---------------------------------------------------------------------------


def q65_grouping_sets(spark, sf):
    """Explicit GROUPING SETS — the marginals-only shape neither q10's
    ROLLUP nor q57's CUBE covers (per-priority totals + per-status
    totals + grand total, NO priority×status cross). Spark expands the
    sets in ONE partial-agg'd pass (an Expand node), not one scan per
    set."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q65_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                               AS DOUBLE) * 100.0 + 0.5) / 100.0
                    AS DOUBLE) AS sum_price,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS BIGINT) AS gid
        FROM q65_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


def q66_range_join(spark, sf):
    """Range (interval) join: for each error event, the click events
    anywhere in the system within ±10 minutes (the incident-
    correlation sweep an ops pipeline runs — no shared key, pure
    temporal proximity). The naive plan is an inequality theta-join
    (full cross product); instead both sides bucket into 10-minute
    bins, the error side explodes into its 3 covering bins (|Δt| ≤ W
    implies adjacent-or-same bin for bin width W), and the join is a
    pure EQUI-join on the bin key with the exact ±600 s predicate as
    a residual filter — the same bucket-the-range trick as the IoU
    join (q24), so at 100 TB the shuffle is keyed and bounded, never
    quadratic."""
    e = load_table(spark, sf, "events")
    W = 600
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", F.col("ts").alias("e_ts")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("c_ts")
    )
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    joined = IV.time_range_join(err, clk, "e_ts", "c_ts", within_s=W)
    return (
        joined.groupBy("event_id")
        .agg(
            F.count("*").cast("long").alias("n_clicks_10m"),
            F.min(F.abs(epoch("c_ts") - epoch("e_ts")))
            .cast("long")
            .alias("closest_gap_s"),
        )
        .orderBy("event_id")
    )


def q67_scd2(spark, sf):
    """SCD2 (slowly-changing-dimension type 2) history build: each
    user's event_type stream collapses into versioned
    [valid_from, valid_to) intervals — the standard lakehouse
    dimension-history derivation. One (user) shuffle carries both
    windows (change detection via lag, interval close via lead);
    deterministic under ts ties via the event_id tie-break."""
    e = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.withColumn("__prev", F.lag("event_type").over(w)).filter(
        F.col("__prev").isNull() | (F.col("__prev") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id",
            "event_type",
            _ts(F.col("ts")).alias("valid_from"),
            _ts(F.lead("ts").over(w2)).alias("valid_to"),
            F.row_number().over(w2).cast("long").alias("version"),
        )
        .orderBy("user_id", "version")
    )


def q68_rolling_range_window(spark, sf):
    """Time-interval window frame: per-user rolling 7-day event count
    and value sum (RANGE frame over epoch seconds — q12's ROWS frame
    counts rows, this one spans TIME, the feature-engineering staple).
    Ties in ts all fall inside the frame, so the result is
    deterministic without a tie-break; the sum aggregates exact
    decimals so partial-agg order can't flip the rounded output."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            _ts(F.col("ts")).alias("event_ts"),
            F.count("*").over(w).cast("long").alias("n_7d"),
            pround(
                F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double"),
                4,
            ).alias("sum_7d"),
        )
        .orderBy("event_id")
    )


def q69_funnel(spark, sf):
    """Ordered conversion funnel (view → click → purchase): how deep
    each user gets, each later stage required STRICTLY after the
    previous one and within a 24-hour window of it (the conversion
    horizon — without it every active user trivially completes and
    the funnel measures nothing). ONE shuffle: per-user events
    collect into a sorted array and a JVM ``aggregate`` lambda runs
    the 3-state machine over it — no self-joins, no per-stage scans.
    The array is bounded by per-user funnel events (filtered to the 3
    types first); a pathological hot user is capped by the same skew
    levers as any keyed agg. Strict ``>`` + horizon comparisons make
    the fold equal to the relational min-chain the oracle runs.
    Streaming twin: ``streaming.stateful.funnel_stages``."""
    e = (
        load_table(spark, sf, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
    )
    per_user = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    init = F.struct(
        F.lit(None).cast("timestamp_ntz").alias("v"),
        F.lit(None).cast("timestamp_ntz").alias("c"),
        F.lit(None).cast("timestamp_ntz").alias("p"),
    )
    state = F.aggregate(
        F.col("evs"),
        init,
        lambda s, ev: F.struct(
            F.when(
                s["v"].isNull() & (ev["event_type"] == "view"), ev["ts"]
            )
            .otherwise(s["v"])
            .alias("v"),
            F.when(
                s["c"].isNull()
                & s["v"].isNotNull()
                & (ev["event_type"] == "click")
                & (ev["ts"] > s["v"])
                & (ev["ts"] <= s["v"] + F.expr("INTERVAL 24 HOURS")),
                ev["ts"],
            )
            .otherwise(s["c"])
            .alias("c"),
            F.when(
                s["p"].isNull()
                & s["c"].isNotNull()
                & (ev["event_type"] == "purchase")
                & (ev["ts"] > s["c"])
                & (ev["ts"] <= s["c"] + F.expr("INTERVAL 24 HOURS")),
                ev["ts"],
            )
            .otherwise(s["p"])
            .alias("p"),
        ),
    )
    staged = per_user.select(
        F.when(state["p"].isNotNull(), "3_purchase")
        .when(state["c"].isNotNull(), "2_click")
        .when(state["v"].isNotNull(), "1_view")
        .otherwise("0_none")
        .alias("stage")
    )
    return (
        staged.groupBy("stage")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("stage")
    )


def q70_retention(spark, sf):
    """Cohort retention matrix: users grouped by first-seen week,
    counted in each later activity week. Plan: one per-user min agg
    (cohort), one distinct (user, week) projection, one equi-join on
    user_id, one final agg — every shuffle keyed and partial-agg'd;
    nothing driver-side. The (user, week) distinct bounds state at one
    row per user-week, not per event."""
    e = load_table(spark, sf, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("__cohort")
    )
    active = (
        e.select("user_id", F.date_trunc("week", F.col("ts")).alias("__wk"))
        .distinct()
    )
    j = active.join(first, "user_id")
    return (
        j.select(
            F.date_format("__cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.to_date("__wk"), F.to_date("__cohort")) / 7)
            .cast("long")
            .alias("week_k"),
        )
        .groupBy("cohort_week", "week_k")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_k")
    )


def q71_boilerplate_scrub(spark, sf):
    """Corpus boilerplate removal: the 10 highest-document-frequency
    tokens are declared boilerplate and scrubbed from every document
    (the curation pass that strips headers/footers/nav chrome before
    training). The boilerplate list is VOCABULARY-sized: its window
    rank runs on the aggregated term table (tiny), and the scrub is a
    broadcast anti-join on the exploded corpus — the corpus itself
    never joins anything big. Reassembly keys one shuffle on doc_id
    with position-sorted ``collect_list`` (arrays bounded by document
    length)."""
    d = load_table(spark, sf, "documents")
    toks = (
        TX.spread(d)
        .select(
            "doc_id",
            F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    df_tab = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    wv = Window.orderBy(F.col("df").desc(), F.col("tok"))
    # vocabulary-sized input: the single-partition window ranks ~1e3
    # aggregated rows, never corpus rows
    boiler = df_tab.withColumn("__rk", F.row_number().over(wv)).filter(
        F.col("__rk") <= 10
    ).select("tok")
    kept = toks.join(F.broadcast(boiler), "tok", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("cleaned_fp"),
        )
        .orderBy("doc_id")
    )


def q72_winsorize(spark, sf):
    """Winsorized per-segment stats: account balances clamped to the
    segment's exact [p05, p95] before averaging — the outlier-robust
    aggregate a quality pipeline uses over heavy-tailed metrics. Two
    passes: the percentile table is GROUP-cardinality-sized and
    broadcasts back over the fact scan; each clamped value rounds to
    4 places BEFORE the exact-decimal sum so the rendered mean is
    bit-stable on any engine."""
    c = load_table(spark, sf, "customer")
    pct = c.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.05)").alias("p05"),
        F.expr("percentile(c_acctbal, 0.95)").alias("p95"),
    )
    clamped = c.join(F.broadcast(pct), "c_mktsegment").select(
        "c_mktsegment",
        pround(
            F.least(F.greatest(F.col("c_acctbal"), F.col("p05")), F.col("p95")), 4
        ).alias("__w"),
    )
    return (
        clamped.groupBy("c_mktsegment")
        .agg(
            pround(
                dec_sum(F.col("__w")) / F.count("*"),
                4,
            ).alias("w_mean"),
            F.count("*").cast("long").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


def q73_salted_join_agg(spark, sf):
    """Skew-salted join in the declared surface: events (the skewed
    fact side — a hot user is the classic straggler) join customers
    through ``salted_join``, which spreads each hot key over 8 salt
    partitions (fact side salts by row-hash, dim side replicates 8x),
    then aggregates per segment. The oracle is the PLAIN join — the
    salt must be invisible in the result. AQE's skew splitting covers
    sort-merge plans at runtime; the explicit salt is the belt-and-
    braces rewrite for broadcast-ineligible dims."""
    from data_lake_project_spark.operators.skew import salted_join

    e = load_table(spark, sf, "events").select("user_id", "value")
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(e, c, on="user_id", n_salts=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            pround(dec_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


def q74_top_bigrams(spark, sf):
    """Corpus top-40 bigrams (q40's vocabulary surface extended to
    n-grams — the phrase-mining readout). Bigram arrays build
    zero-shuffle per row (two slices zipped), then ONE partial-agg'd
    shuffle on the bigram key and a TakeOrdered top-k — vocabulary
    scales with corpus breadth, the heap with k."""
    d = load_table(spark, sf, "documents")
    toks = tokens(F.lower(F.col("text")))
    grams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        TX.spread(d)
        .select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(40)
    )


def q75_full_outer_join(spark, sf):
    """FULL OUTER join — the one join type q04/q06/q06b leave
    undeclared. Positive-balance customers vs per-customer 'F'-order
    aggregates, so all three regions populate: matched, left-only
    (customers with no finished orders), right-only (finished orders
    of negative-balance customers). Shuffle-hash/SMJ on the key; the
    aggregate side is pre-grouped so the join moves one row per
    customer, not one per order."""
    c = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_acctbal") >= 0)
        .select("c_custkey", "c_mktsegment")
    )
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey"))
        .agg(
            F.count("*").cast("long").alias("n_f_orders"),
            pround(dec_sum(F.col("o_totalprice")), 2).alias("f_total"),
        )
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        "c_mktsegment",
        F.coalesce(F.col("n_f_orders"), F.lit(0)).cast("long").alias("n_f_orders"),
        F.coalesce(F.col("f_total"), F.lit(0.0)).alias("f_total"),
    ).orderBy("custkey")


def q76_column_profile(spark, sf):
    """Ingest-time column profile (bronze data-quality summary): one
    multi-agg pass computes rows/nulls/min/max for every orders
    column, pivoted long-form. The single driver action collects ONE
    row of scalars (bounded by column count); the scan itself is one
    partial-agg'd pass — the exact shape a 100 TB load audit runs.
    The approx-ndv leg of ``column_profile`` is engine-specific
    (HLL++) and stays under its own tolerance tests; this declared
    query keeps the oracle-checkable fields."""
    from data_lake_project_spark.operators.sketches import column_profile

    o = load_table(spark, sf, "orders")
    return (
        column_profile(o, include_ndv=False)
        .drop("approx_ndv")
        .orderBy("column")
    )


def q77_label_centroids(spark, sf):
    """Per-label embedding centroids in long form (label, dim,
    centroid) — the class-prototype computation behind centroid
    classifiers and diversity-aware sampling. One narrow posexplode
    (no data movement), ONE partial-agg'd shuffle on (label, dim) —
    at 100 TB the shuffle carries one partial sum per (label, dim,
    partition), never raw vectors. Each float is widened to double
    (exact) and summed as a decimal so partial order can't move the
    rounded centroid."""
    e = load_table(spark, sf, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "__x")
    )
    return (
        exploded.groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            pround(
                dec_sum(F.col("__x").cast("double")) / F.count("*"), 4
            ).alias("centroid"),
            F.count("*").cast("long").alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


def q78_resample_zero_fill(spark, sf):
    """Per-user daily resample with gap days zero-filled between the
    user's first and last active day — the densification step before
    any per-entity time-series model. The calendar explodes from each
    user's OWN [min_day, max_day] span (bounded by the span, never a
    global calendar cross-join); the day counts pre-aggregate before
    the join, so the final equi-join moves one row per (user, day)."""
    e = load_table(spark, sf, "events")
    daily = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("__d0"), F.max("day").alias("__d1")
    )
    calendar = spans.select(
        "user_id", F.explode(F.expr("sequence(__d0, __d1)")).alias("day")
    )
    return (
        calendar.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "day")
    )


def q79_curation_pipeline(spark, sf):
    """The composed curation ladder (dedup → decontaminate → quality
    floor → per-source quota → hash split) end-to-end — every stage is
    individually oracle-checked (q21/q49/q30/q48/q41); this pins the
    COMPOSITION: stage ordering, column threading, and the interplay
    of the five filters, against one DuckDB query that rebuilds the
    same ladder relationally."""
    from data_lake_project_spark.operators.dataset import curate_corpus

    d = load_table(spark, sf, "documents")
    return curate_corpus(d).orderBy("doc_id")


def q80_heavy_hitters_exact(spark, sf):
    """Exact heavy hitters: tokens appearing in more than 1% of all
    token occurrences — the exact twin of the sketch module's
    ``frequent_items`` (whose per-partition candidate merge is
    approximate and engine-specific, so it stays under rows-only
    tests). Two partial-agg'd passes over the same aggregated term
    table: total count is a scalar broadcast into the support filter,
    never a cross join against raw rows."""
    d = load_table(spark, sf, "documents")
    toks = (
        TX.spread(d)
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("cnt") * 100 > F.col("__total"))
        .select(
            "tok",
            F.col("cnt").cast("long").alias("cnt"),
            pround(F.col("cnt") / F.col("__total") * 100.0, 4).alias("pct"),
        )
        .orderBy("tok")
    )


# ---------------------------------------------------------------------------
# Round-4 surface Q81-Q84: line-level corpus dedup, contamination
# scoring, temperature-based source mixing, URL canonicalization
# dedup. q81/q84 synthesize their multi-line / URL corpora from the
# documents table with SQL templates evaluated identically by both
# engines (the established q34-q36 pattern).
# ---------------------------------------------------------------------------

# Multi-line corpus: a unique intro line, two boilerplate lines shared
# across doc_id classes (the C4-style nav/footer dups), a mostly-unique
# body line, and a 7-variant tail line. chr(10) is the separator in
# both engines.
LINES_CORPUS_EXPR = """concat(
  'intro doc ', CAST(doc_id AS STRING),
  CASE WHEN doc_id % 3 = 0
       THEN concat(chr(10), 'subscribe to our newsletter') ELSE '' END,
  chr(10), 'body ', substr(text, 1, 24 + CAST(doc_id % 17 AS INT)),
  CASE WHEN doc_id % 5 = 0
       THEN concat(chr(10), 'all rights reserved') ELSE '' END,
  chr(10), 'tail ', CAST(doc_id % 7 AS STRING))"""

# Crawl URLs: scheme + optional www + 50 hosts x 500 paths (so distinct
# doc_ids collide after canonicalization) + tracking-parameter and
# trailing-slash variants.
URLS_CORPUS_EXPR = """concat(
  'https://',
  CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END,
  'site', CAST(doc_id % 50 AS STRING), '.example',
  '/p/', CAST(doc_id % 500 AS STRING),
  CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=1'
       WHEN doc_id % 3 = 1 THEN '?id=1' ELSE '' END)"""


def q81_line_dedup(spark, sf):
    """Corpus-wide line dedup with reassembly (C4-style boilerplate
    scrub keeping first occurrences) over a synthesized multi-line
    corpus. groupBy-stats + join, NOT a per-line window — see
    ``operators.dedup.line_dedup`` for the skew rationale."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.expr(LINES_CORPUS_EXPR).alias("text")
    )
    return D.line_dedup(d).orderBy("doc_id")


def q82_contamination_score(spark, sf):
    """Scored n-gram contamination audit: fraction of each doc's
    distinct 3-gram shingles found in the benchmark set (docs with
    doc_id % 97 == 0, the q49 probe rule). The boolean drop variant
    is q49; this is the threshold-tunable scoring pass."""
    d = load_table(spark, sf, "documents")
    probes = d.filter(F.col("doc_id") % 97 == 0).select("text")
    return D.contamination_score(d, probes, k=3).orderBy("doc_id")


MIX_STRATUM_EXPR = """CASE WHEN doc_id % 10 < 6 THEN 'web'
     WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END"""


def q83_temperature_mix(spark, sf):
    """Temperature-based source rebalance at the α=0.5 sampling
    exponent: the smallest source keeps all rows, an x-times larger
    one keeps sqrt(1/x) — deterministic md5-threshold Bernoulli, so
    the mix is reproducible row-for-row on any engine. The fixture's
    ``source`` column is uniform (the mix would be a no-op), so the
    stratum is a synthesized 60/30/10 web/books/code skew — the
    shape a real crawl/books/code corpus has."""
    d = load_table(spark, sf, "documents").withColumn(
        "stratum", F.expr(MIX_STRATUM_EXPR)
    )
    return (
        DS.temperature_sample(d, "stratum", "doc_id", seed="mix")
        .select("doc_id", "stratum", "mix_rate")
        .orderBy("doc_id")
    )


def q85_token_budget_quota(spark, sf):
    """Per-source TOKEN-budget cap (mixtures are specified in tokens,
    not documents — q48 is the doc-count quota): whitespace token
    counts, ingestion order (doc_id), keep rows while the running
    per-source sum stays ≤ 300."""
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "n_toks"
        ),
    )
    return (
        DS.token_budget_quota(
            d, "source", "n_toks", 300, [F.col("doc_id")]
        )
        .select("doc_id", "source", "n_toks", "cum_tokens")
        .orderBy("doc_id")
    )


def q84_url_dedup(spark, sf):
    """Crawl URL dedup on the canonical form (scheme/www/utm/trailing-
    slash stripped) over synthesized URLs: keep lowest doc_id per
    canonical URL, count the family."""
    from data_lake_project_spark.operators.text import url_dedup

    d = load_table(spark, sf, "documents").select(
        "doc_id", F.expr(URLS_CORPUS_EXPR).alias("url")
    )
    return url_dedup(d).orderBy("doc_id")


def q87_fuzzy_match(spark, sf):
    """Blocked fuzzy entity resolution: typo-class duplicate pairs the
    hash/MinHash family can't see. Block on (lang, source) — one
    equi-join shuffle, pairs only within a block — then banded
    Levenshtein (3-arg short-circuit form) on 24-char prefixes,
    dist <= 14. See ``operators.linkage.fuzzy_join`` for the
    quadratic-blowup guard contract."""
    from data_lake_project_spark.operators.linkage import fuzzy_join

    d = load_table(spark, sf, "documents")
    return fuzzy_join(
        d, ["lang", "source"], "text", "doc_id", max_dist=14, prefix_len=24
    ).orderBy("left_id", "right_id")


def q89_dup_spans(spark, sf):
    """Exact-substring duplication audit (the ExactSubstr/suffix-array
    dedup signal, relational form): per-doc maximal duplicated token
    spans from corpus-duplicated word 5-gram anchors merged
    gaps-and-islands style. One wide shuffle on the gram key; island
    merge is a per-doc window. See ``operators.dedup.dup_spans``."""
    d = load_table(spark, sf, "documents")
    return D.dup_spans(d, g=5).orderBy("doc_id")


def q91_groupwise_regression(spark, sf):
    """Per-group ordinary-least-squares fit (slope/intercept of
    extendedprice vs quantity per returnflag) — the regr_slope/
    regr_intercept analytic family, computed CLOSED-FORM from exact
    DECIMAL sums (n, Σx, Σy, Σxy, Σx²) so partial-agg ordering can
    never move a bit; the only floats are the final two divisions
    (IEEE-correctly-rounded, engine-identical). One partial-agg'd
    shuffle moving 5 numbers per group."""
    l = load_table(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(15,2)")
    agg = l.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("decimal(38,2)").alias("sx"),
        F.sum(y).cast("decimal(38,2)").alias("sy"),
        F.sum(x * y).cast("decimal(38,4)").alias("sxy"),
        F.sum(x * x).cast("decimal(38,4)").alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return agg.select(
        "l_returnflag",
        "n",
        pround(slope, 6).alias("slope"),
        pround(intercept, 6).alias("intercept"),
    ).orderBy("l_returnflag")


def q92_prefix_filter_join(spark, sf):
    """EXACT Jaccard >= 3/5 self-join on 3-gram shingle sets via
    prefix filtering (PPJoin family) — the zero-false-negative
    complement to q26's probabilistic MinHash/LSH candidates. All
    pruning decisions run in integer arithmetic (rational threshold);
    candidate join keys are each doc's globally-RAREST shingles, the
    algorithm's built-in anti-skew property. Oracle = brute-force
    all-pairs (fine at sf0.01; the Spark side never goes all-pairs).
    See ``operators.dedup.prefix_filter_join``."""
    d = load_table(spark, sf, "documents")
    sets = D.shingle_sets(d, k=3)
    return D.prefix_filter_join(sets, threshold=(3, 5)).orderBy(
        "id_a", "id_b"
    )


def q93_snapshot_diff(spark, sf):
    """Snapshot reconciliation diff (lakehouse audit op): one FULL
    OUTER join on the key classifies every orderkey added / removed /
    changed between two table versions; 'new' is a deterministic
    mutation of orders (drop %97 keys, +1 price on %101 keys, clone
    %103 keys to new ids). The != 'unchanged' filter pushes into the
    join output — callers pay only for the delta. See
    ``lakehouse.snapshot_diff``."""
    from data_lake_project_spark.lakehouse import snapshot_diff

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    kept = o.filter(F.col("o_orderkey") % 97 != 0)
    mutated = kept.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    cloned = kept.filter(F.col("o_orderkey") % 103 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    new = mutated.unionByName(cloned)
    return (
        snapshot_diff(o, new, ["o_orderkey"])
        .filter(F.col("change_type") != "unchanged")
        .orderBy("o_orderkey")
    )


def q90_rare_tokens(spark, sf):
    """OOV/rarity quality signal: per-doc count of token occurrences
    whose corpus-wide frequency is <= 2 — the integer-exact cousin of
    an n-gram LM perplexity score (see
    ``operators.text.rare_token_stats``). Docs with zero non-empty
    tokens drop out (none exist in the fixture)."""
    from data_lake_project_spark.operators.text import rare_token_stats

    d = load_table(spark, sf, "documents")
    return rare_token_stats(d, threshold=2).orderBy("doc_id")


def q88_kmeans_clusters(spark, sf):
    """Full-corpus distributed k-means (k=8, 3 Lloyd iterations) over
    the embeddings table — the unsupervised domain-discovery pass of a
    mixture pipeline. Deterministic (lowest-id seeds, lowest-index tie
    break), so the cluster histogram is stable across runs/engines.
    Iterative + Arrow-matmul assignment → no SQL oracle (rows-only);
    quality/determinism pinned in tests/test_operators.py."""
    from data_lake_project_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    e = load_table(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=3)
    return (
        kmeans_assign(e, cents)
        .groupBy("cluster")
        .agg(F.count("*").cast("long").alias("n_members"))
        .orderBy("cluster")
    )


def q94_ngram_lm_score(spark, sf):
    """Corpus-self-trained bigram LM quality score (CCNet's perplexity
    filter re-expressed with an in-corpus model): per doc, mean
    add-one-smoothed log P(word | prefix). One pre-aggregated shuffle
    builds the occurrence stream; the model and its prefix marginal
    derive from that same aggregate; scoring is co-partitioned joins.
    See ``operators.text.ngram_lm_score``."""
    from data_lake_project_spark.operators.text import ngram_lm_score

    d = load_table(spark, sf, "documents")
    return ngram_lm_score(d).orderBy("doc_id")


def q95_pareto_frontier(spark, sf):
    """2-D Pareto frontier (skyline) over part: the cheapest-per-size
    shortlist — parts no other part beats on BOTH price (min) and
    size (max). Two-phase distributed skyline: per-block window prune,
    then a global pass over the tiny survivor union; price compares
    as integer cents so dominance ties are engine-exact. See
    ``operators.frontier.skyline2d``."""
    from data_lake_project_spark.operators.frontier import skyline2d

    p = load_table(spark, sf, "part")
    base = p.select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )
    return skyline2d(base, "price_cents", "size").orderBy("p_partkey")


def q96_ewma_anomaly(spark, sf):
    """Per-user EWMA residual anomaly scan over the events stream:
    flag events deviating > 150 from the exponentially weighted mean
    of the user's 8 prior values (alpha=1/2 → exact binary weights,
    bit-identical across engines — no rounding tolerance). ONE keyed
    window shuffle serves all lags. See
    ``operators.timeseries.ewma_residual``."""
    from data_lake_project_spark.operators.timeseries import ewma_residual

    e = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return (
        ewma_residual(e)
        .filter(F.abs(F.col("resid")) > 150.0)
        .select("event_id", "user_id", "value", "ewma_prev", "resid")
        .orderBy("event_id")
    )


def q97_chunk_documents(spark, sf):
    """Context-window chunking: split every doc into 32-token chunks
    advancing by 24 (8-token overlap), last chunk clipped — the
    long-doc complement of q50's pack_sequences. Pure per-row map
    (tokenize → sequence → slice), zero shuffle. See
    ``operators.dataset.chunk_documents``."""
    from data_lake_project_spark.operators.dataset import chunk_documents

    d = load_table(spark, sf, "documents")
    return chunk_documents(d, chunk_size=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


def q98_sorted_neighborhood(spark, sf):
    """Sorted-neighborhood (SNM) dedup blocking: rank the corpus by
    its first-two-token key (two-phase distributed rank — parallel
    per-block row_number + tiny cumulative offsets), pair each doc
    with the 4 that follow in rank order via the banded |Δrank|
    equi-join, verify with exact token-set Jaccard >= 0.5. See
    ``operators.dedup.sorted_neighborhood_pairs``."""
    from data_lake_project_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    d = load_table(spark, sf, "documents")
    return sorted_neighborhood_pairs(d, window=5, jaccard_min=0.5).orderBy(
        "left_id", "right_id"
    )


def q99_pagerank(spark, sf):
    """PageRank (3 iterations, d=0.85) over the customer→supplier
    interaction graph (distinct pairs from orders ⋈ lineitem; keys
    tagged 'c'/'s' so the two id domains can't collide). Decimal-
    summed contributions + portable rounding make the fixed-iteration
    ranks engine-exact — the oracle unrolls the same three rounds as
    CTEs. See ``operators.graph.pagerank``."""
    from data_lake_project_spark.operators.graph import pagerank

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iters=3).orderBy("node")


def q109_categorical_drift(spark, sf):
    """Source-mix drift monitor: two-sample chi-square over the order
    priority mix of finished ('F') vs open ('O') orders — per-category
    contributions localize WHERE the mix moved. Vocabulary-sized
    groupBys + full-outer join + broadcast totals. See
    ``operators.drift.categorical_drift``."""
    from data_lake_project_spark.operators.drift import categorical_drift

    o = load_table(spark, sf, "orders")
    return categorical_drift(
        o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority"),
        o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority"),
        "o_orderpriority",
    ).orderBy("o_orderpriority")


def q110_ks_drift(spark, sf):
    """Numeric-feature drift monitor: exact two-sample KS statistic
    between the totalprice distributions of finished vs open orders.
    Per-distinct-value collapse + the two-phase distributed CDF
    prefix (per-block windows + tiny carry-in offsets). See
    ``operators.drift.ks_drift``."""
    from data_lake_project_spark.operators.drift import ks_drift

    o = load_table(spark, sf, "orders")
    return ks_drift(
        o.filter(F.col("o_orderstatus") == "F").select("o_totalprice"),
        o.filter(F.col("o_orderstatus") == "O").select("o_totalprice"),
        "o_totalprice",
        block_width=1000.0,
    )


def q108_count_min(spark, sf):
    """Count-min sketch frequency estimates vs their exact twin for
    the corpus top-20 tokens — the fixed-size mergeable summary
    (3 md5 rows x 256 buckets) whose deterministic hashing keeps even
    the collision overestimates oracle-checkable. See
    ``operators.sketches.count_min_sketch`` / ``count_min_estimate``."""
    from data_lake_project_spark.functions import spread, tokens
    from data_lake_project_spark.operators.sketches import (
        count_min_estimate,
        count_min_sketch,
    )

    d = load_table(spark, sf, "documents")
    tok = spread(d).select(
        F.explode(
            F.filter(tokens(F.lower(F.col("text"))), lambda t: t != "")
        ).alias("tok")
    )
    exact = tok.groupBy("tok").agg(
        F.count("*").cast("long").alias("exact_count")
    )
    probes = exact.orderBy(F.col("exact_count").desc(), "tok").limit(20)
    sketch = count_min_sketch(tok, "tok", depth=3, hex_chars=2)
    est = count_min_estimate(
        sketch, probes.select("tok"), "tok", depth=3, hex_chars=2
    )
    return (
        probes.join(est, "tok")
        .select("tok", "exact_count", "cms_count")
        .orderBy(F.col("exact_count").desc(), "tok")
    )


def q111_triangles(spark, sf):
    """Per-node triangle counts over the supplier co-occurrence graph
    (suppliers joined by sharing >= 5 orders — the co-occurrence
    threshold that keeps a 100 TB interaction graph sparse before any
    triangle work starts). Degree-ordered orientation bounds the
    wedge join at |E|^1.5 pairs regardless of hub skew. See
    ``operators.graph.triangle_count``."""
    from data_lake_project_spark.operators.graph import triangle_count

    li = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2")
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
        .select("s1", "s2")
    )
    return triangle_count(edges, "s1", "s2").orderBy("node")


def q112_markov_transitions(spark, sf):
    """Event-path analysis: the first-order Markov transition matrix
    over per-user event sequences — which action follows which, and
    with what probability (product analytics' "next step" readout).
    One window pass (lag to the next event) + a vocabulary-sized
    transition agg; probabilities are exact small-integer ratios."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("src_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = Window.partitionBy("src_type")
    return pairs.select(
        "src_type",
        "next_type",
        "n",
        pround(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    ).orderBy("src_type", "next_type")


def q113_attribution(spark, sf):
    """Marketing-style conversion attribution: each purchase credits
    the user's FIRST preceding non-purchase touch (first-touch model)
    and the LAST one (last-touch model); purchases with no prior
    touch credit 'direct'. One window pass with IGNORE NULLS
    first/last over the preceding frame — no per-conversion self-join
    — then two vocabulary-sized aggs full-outer-joined into the
    side-by-side model comparison."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    attributed = e.select(
        "event_type",
        F.coalesce(F.first(touch, ignorenulls=True).over(w), F.lit("direct"))
        .alias("ft"),
        F.coalesce(F.last(touch, ignorenulls=True).over(w), F.lit("direct"))
        .alias("lt"),
    ).filter(F.col("event_type") == "purchase")
    first = attributed.groupBy(F.col("ft").alias("channel")).agg(
        F.count("*").cast("long").alias("first_touch")
    )
    last = attributed.groupBy(F.col("lt").alias("channel")).agg(
        F.count("*").cast("long").alias("last_touch")
    )
    return (
        first.join(last, "channel", "full_outer")
        .na.fill({"first_touch": 0, "last_touch": 0})
        .orderBy("channel")
    )


def q114_forward_fill(spark, sf):
    """LOCF gap fill: carry each user's last purchase amount forward
    onto every subsequent event (NULL before the first purchase) —
    sparse-to-dense repair in one keyed window pass, no self-join.
    See ``operators.timeseries.forward_fill``."""
    from data_lake_project_spark.operators.timeseries import forward_fill

    e = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "purchase_value"
        ),
    )
    return forward_fill(
        e, "user_id", "ts", "event_id", "purchase_value", "carried"
    ).select(
        "event_id",
        "user_id",
        _ts(F.col("ts")).alias("ts_str"),
        "carried",
    ).orderBy("event_id")


def q115_autocorrelation(spark, sf):
    """Per-user sample autocorrelation of event values at lags 1-3 —
    the memory/seasonality readout of each entity's metric series.
    Decimal-exact sums make r engine-identical; one window pass + one
    partial-agg'd groupBy. See ``operators.timeseries.autocorrelation``."""
    from data_lake_project_spark.operators.timeseries import autocorrelation

    e = load_table(spark, sf, "events")
    return autocorrelation(
        e, "user_id", "ts", "event_id", "value", max_lag=3
    ).orderBy("user_id", "lag")


def q116_cusum_changepoint(spark, sf):
    """Per-user CUSUM level-shift detector: the event where the
    running sum of deviations from the user's mean value peaks in
    magnitude — "when did this metric move". Decimal running sums keep
    the argmax engine-exact; one window pass + one max_by agg. See
    ``operators.timeseries.cusum_changepoint``."""
    from data_lake_project_spark.operators.timeseries import (
        cusum_changepoint,
    )

    e = load_table(spark, sf, "events")
    out = cusum_changepoint(e, "user_id", "ts", "event_id", "value")
    return out.select(
        "user_id",
        "n",
        _ts(F.col("cp_ts")).alias("cp_ts"),
        "cp_seq",
        "cusum",
    ).orderBy("user_id")


def q117_unpivot_profile(spark, sf):
    """Wide→long reshape (melt/UNPIVOT) + long-format profile: the
    four lineitem measures unpivot into (metric, val) rows in one
    narrow Expand pass — no per-column scans — then a vocabulary-sized
    agg profiles each metric (count, decimal-exact sum, min/max,
    portable mean)."""
    l = load_table(spark, sf, "lineitem")
    long = l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    return (
        long.groupBy("metric")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("val").cast("decimal(20,2)"))
            .cast("decimal(38,2)")
            .cast("string")
            .alias("total"),
            F.min("val").alias("vmin"),
            F.max("val").alias("vmax"),
            pround(
                F.sum(F.col("val").cast("decimal(20,2)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean"),
        )
        .orderBy("metric")
    )


def q118_correlation_matrix(spark, sf):
    """Pairwise Pearson correlation across the four lineitem measures
    in ONE aggregation pass (15 decimal-exact sums, no per-pair
    scans): r = (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) *
    sqrt(n*syy - sy*sy)) — sqrt and the divisions are the only
    floats, all correctly-rounded on exact inputs, so the matrix is
    engine-identical before rounding."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    l = load_table(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(20,2)")  # noqa: E731
    aggs = [F.count("*").cast("long").alias("n")]
    for c in cols:
        aggs.append(F.sum(dec(c)).cast("decimal(38,6)").alias(f"s_{c}"))
        aggs.append(
            F.sum(dec(c) * dec(c)).cast("decimal(38,6)").alias(f"ss_{c}")
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum(dec(a) * dec(b))
                .cast("decimal(38,6)")
                .alias(f"sxy_{a}_{b}")
            )
    one = l.agg(*aggs)
    n = F.col("n").cast("double")
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sx = F.col(f"s_{a}").cast("double")
            sy = F.col(f"s_{b}").cast("double")
            sxx = F.col(f"ss_{a}").cast("double")
            syy = F.col(f"ss_{b}").cast("double")
            sxy = F.col(f"sxy_{a}_{b}").cast("double")
            r = (n * sxy - sx * sy) / (
                F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    pround(r, 6).alias("r"),
                )
            )
    return (
        one.select(F.explode(F.array(*pairs)).alias("__p"))
        .select("__p.col_a", "__p.col_b", "__p.r")
        .orderBy("col_a", "col_b")
    )


def q119_systematic_sample(spark, sf):
    """Weight-proportional systematic sample: ~50 documents drawn
    PPS by character count with pure BIGINT stride arithmetic — the
    deterministic weighted companion to q41's uniform hash split
    (token-budgeted mixtures sample what they'll actually train on).
    Distributed prefix weights via the two-phase block trick. See
    ``operators.dataset.systematic_sample``."""
    d = load_table(spark, sf, "documents")
    return (
        DS.systematic_sample(
            d.select("doc_id", "source", "n_chars"),
            "n_chars",
            k=50,
            order_col="doc_id",
        )
        .select("doc_id", "source", "n_chars", "cum_w")
        .orderBy("doc_id")
    )


def q120_ivm_apply(spark, sf):
    """Incremental view maintenance: a per-customer (order count,
    spend) rollup materialized on pre-1996 orders absorbs one change
    batch — inserts of the 1996+ orders plus deletes of every tenth
    old order — via O(delta) fold (delta agg + one full-outer join),
    never rescanning base data. Decimal sums make delete-then-insert
    exactly restorative. Oracle recomputes from scratch; the
    maintained view must match it bit-for-bit. See
    ``lakehouse.ivm_apply``."""
    from data_lake_project_spark.lakehouse import ivm_apply

    o = load_table(spark, sf, "orders")
    cutoff = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    base = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(20,2)"))
            .cast("decimal(38,2)")
            .alias("spend"),
        )
    )
    inserts = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_custkey", "o_totalprice", F.lit(1).alias("op")
    )
    deletes = o.filter(
        (F.col("o_orderdate") < cutoff) & (F.col("o_orderkey") % 10 == 0)
    ).select("o_custkey", "o_totalprice", F.lit(-1).alias("op"))
    delta = inserts.unionAll(deletes)
    return (
        ivm_apply(
            base,
            delta,
            ["o_custkey"],
            count_col="n",
            sum_cols={"o_totalprice": "spend"},
        )
        .select(
            "o_custkey", "n", F.col("spend").cast("string").alias("spend")
        )
        .orderBy("o_custkey")
    )


# q121 synth corpus (q34 pattern: the SAME SQL template builds the
# PII-bearing text on both engines; Spark runs the real report
# operator, the oracle re-counts with the same RE2-safe patterns).
_Q121_SYNTH = """
    SELECT
      c_custkey,
      CASE WHEN c_custkey % 4 = 0 THEN 'segment-a' ELSE 'segment-b'
      END AS segment,
      'account ' || c_name
      || CASE WHEN c_custkey % 3 <> 0
              THEN ' mail user' || CAST(c_custkey AS BIGINT)
                   || '@corp.example and backup.'
                   || CAST(c_custkey AS BIGINT) || '@mail.example'
              ELSE ' no contact on file' END
      || CASE WHEN c_custkey % 5 = 0
              THEN ' call +33140' || CAST(100000 + c_custkey AS BIGINT)
              ELSE '' END
      || CASE WHEN c_custkey % 7 = 0
              THEN ' ref 123-45-'
                   || CAST(1000 + (c_custkey % 8999) AS BIGINT)
              ELSE '' END AS text
    FROM __TBL__
"""


def q121_pii_report(spark, sf):
    """Typed PII exposure report (emails / +phones / SSN-shaped ids)
    per customer segment over a synthesized contact-note corpus —
    sentinel-collapse counting, one regex pass per type, one
    vocabulary-sized agg. See ``operators.text.pii_report``."""
    load_table(spark, sf, "customer").createOrReplaceTempView(
        "q121_customer"
    )
    docs = spark.sql(_Q121_SYNTH.replace("__TBL__", "q121_customer"))
    return TX.pii_report(docs, "text", ["segment"]).orderBy("segment")


def q122_snapshot_novelty(spark, sf):
    """Corpus-refresh novelty: per source, how many of the NEW
    snapshot's distinct 3-token shingles were never seen in the OLD
    snapshot (even/odd doc split stands in for two crawl dates) —
    the freshness/contamination readout before a retrain. Distinct
    shingle sets + one left-anti join on the shingle key; exact
    integer ratio."""
    d = load_table(spark, sf, "documents")
    old_sh = (
        D.shingle_sets(d.filter(F.col("doc_id") % 2 == 0), k=3)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    new_docs = d.filter(F.col("doc_id") % 2 == 1)
    new_sh = D.shingle_sets(new_docs, k=3).join(
        new_docs.select("doc_id", "source"), "doc_id"
    )
    # per_source feeds the anti-join AND the totals — cut once (r14
    # multi-reference rule)
    per_source = (
        new_sh.select("source", F.explode("sh").alias("shingle"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    novel = per_source.join(old_sh, "shingle", "left_anti")
    tot = per_source.groupBy("source").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    nov = novel.groupBy("source").agg(
        F.count("*").cast("long").alias("n_novel")
    )
    return (
        tot.join(nov, "source", "left")
        .na.fill({"n_novel": 0})
        .select(
            "source",
            "n_shingles",
            "n_novel",
            pround(F.col("n_novel") / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("source")
    )


def q123_radius_join(spark, sf):
    """Planar radius join: purchase events paired with error events
    within Euclidean distance 1.5 in a derived (value, event_id mod 997)
    point space — grid-cell blocking (3x3 neighbor probe on one side,
    equi-join on the cell key) instead of an all-pairs distance scan.
    Squared-distance predicate, sqrt only on survivors. See
    ``operators.spatial.radius_join``."""
    from data_lake_project_spark.operators.spatial import radius_join

    e = load_table(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.col("value").alias("x"),
        (F.col("event_id") % 997).cast("double").alias("y"),
    )
    a = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "x", "y"
    )
    b = e.filter(F.col("event_type") == "error").select(
        "event_id", "x", "y"
    )
    j = radius_join(a, b, "x", "y", radius=1.5)
    dx = F.col("x_a") - F.col("x_b")
    dy = F.col("y_a") - F.col("y_b")
    return j.select(
        F.col("event_id_a"),
        F.col("event_id_b"),
        pround(F.sqrt(dx * dx + dy * dy), 6).alias("dist"),
    ).orderBy("event_id_a", "event_id_b")


def q124_session_paths(spark, sf):
    """Top user-journey paths: each (user, day) session's ordered
    event-type sequence collapses to a '>'-joined path string in ONE
    grouped pass (sorted collect, no self-joins), then a
    vocabulary-sized path count ranks the 20 most common journeys."""
    e = load_table(spark, sf, "events")
    day = F.to_date("ts").alias("day")
    paths = (
        e.select("user_id", day, "ts", "event_id", "event_type")
        .groupBy("user_id", "day")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


def q125_rolling_active_users(spark, sf):
    """Trailing-7-day active users per observed day: each distinct
    (user, day) fact explodes into the <=7 window-days it supports (a
    bounded literal-sequence explode — never a range self-join of
    data against data), then one distinct + one count per day.
    Restricting output to OBSERVED days keeps the report aligned with
    the calendar the data actually covers."""
    e = load_table(spark, sf, "events")
    ud = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    support = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("win_day"),
    ).distinct()
    return (
        support.join(days, support["win_day"] == days["day"])
        .groupBy("win_day")
        .agg(F.count("*").cast("long").alias("active_users"))
        .select(
            F.col("win_day").cast("string").alias("win_day"),
            "active_users",
        )
        .orderBy("win_day")
    )


_BENFORD = {
    1: 0.301030,
    2: 0.176091,
    3: 0.124939,
    4: 0.096910,
    5: 0.079181,
    6: 0.066947,
    7: 0.057992,
    8: 0.051153,
    9: 0.045757,
}


def q126_benford(spark, sf):
    """Benford's-law forensic profile of order totals: observed
    leading-digit shares vs the Benford expectation (shared 6-digit
    literals on both engines — no engine-variant log10 anywhere),
    with per-digit chi-square contributions to localize the
    distortion. First digit extracted via string arithmetic (exact),
    one vocabulary-sized agg + broadcast total."""
    o = load_table(spark, sf, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("__t"))
    expected = F.create_map(
        *[
            x
            for d, p in _BENFORD.items()
            for x in (F.lit(d), F.lit(p))
        ]
    )
    share = F.col("n") / F.col("__t")
    exp_p = expected[F.col("digit")]
    contrib = (share - exp_p) * (share - exp_p) / exp_p
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            pround(share, 6).alias("share"),
            exp_p.alias("expected"),
            pround(contrib, 6).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


def q127_conversion_lag(spark, sf):
    """Time-to-convert quantiles per user cohort: each purchase's lag
    since the user's most recent view (one IGNORE NULLS window pass),
    then NEAREST-RANK medians/p90s — rank arithmetic on integer
    seconds, no interpolation formula for engines to disagree on.
    One window + one vocabulary-sized conditional agg."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.last(
        F.when(F.col("event_type") == "view", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    conv = (
        e.select(
            (F.col("user_id") % 4).cast("int").alias("cohort"),
            "event_type",
            "event_id",
            F.col("ts"),
            last_view.alias("__lv"),
        )
        .filter(
            (F.col("event_type") == "purchase") & F.col("__lv").isNotNull()
        )
        .select(
            "cohort",
            "event_id",
            (
                (F.unix_micros(F.col("ts").cast("timestamp"))
                 - F.unix_micros(F.col("__lv").cast("timestamp")))
                / F.lit(1000000)
            ).cast("long").alias("gap_s"),
        )
    )
    rw = Window.partitionBy("cohort").orderBy("gap_s", "event_id")
    cw = Window.partitionBy("cohort")
    ranked = conv.select(
        "cohort",
        "gap_s",
        F.row_number().over(rw).cast("long").alias("__rn"),
        F.count("*").over(cw).cast("long").alias("__n"),
    )
    k50 = F.ceil(F.col("__n") * 0.5).cast("long")
    k90 = F.ceil(F.col("__n") * 0.9).cast("long")
    return (
        ranked.groupBy("cohort")
        .agg(
            F.max("__n").alias("n_conversions"),
            F.max(F.when(F.col("__rn") == k50, F.col("gap_s"))).alias(
                "med_lag_s"
            ),
            F.max(F.when(F.col("__rn") == k90, F.col("gap_s"))).alias(
                "p90_lag_s"
            ),
        )
        .orderBy("cohort")
    )


def q128_equidepth_hist(spark, sf):
    """EXACT equi-depth (equal-frequency) histogram of order totals:
    10 buckets holding n/10 rows each, boundaries at true rank
    positions — the statistics a cost-based optimizer actually wants,
    complementing q60's equi-width buckets. One rank window + one
    10-row agg; all bucket math is integer rank arithmetic."""
    o = load_table(spark, sf, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    # two-phase distributed global rank (per-price-block row_number +
    # carry-in offsets over block counts) — no single-partition sort
    # of the data, the ks_drift / sorted-neighborhood recipe
    staged = o.withColumn(
        "__blk", F.floor(F.col("o_totalprice") / 10000).cast("long")
    )
    bw = Window.partitionBy("__blk").orderBy("o_totalprice", "o_orderkey")
    runs = staged.withColumn(
        "__rnl", F.row_number().over(bw).cast("long")
    )
    nets = staged.groupBy("__blk").agg(F.count("*").alias("__c"))
    off_w = Window.orderBy("__blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = nets.select(
        "__blk",
        F.coalesce(F.sum("__c").over(off_w), F.lit(0)).alias("__off"),
    )
    n = o.count()  # 1-row driver scalar: fixes the bucket width
    ranked = runs.join(F.broadcast(offsets), "__blk").select(
        "o_totalprice",
        (F.col("__off") + F.col("__rnl")).alias("__rn"),
    )
    bucket = F.expr(f"((__rn - 1) * 10) div {n}")
    return (
        ranked.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


def q130_source_overlap(spark, sf):
    """Cross-source contamination matrix: for every source pair, how
    many distinct 3-gram shingles they share and the containment
    ratio (shared / smaller side) — which feeds deduped-mixture
    weighting and catches a crawl that re-scraped another source.
    Distinct (source, shingle) facts equi-join on the shingle key
    (pairs bounded by sources² per shingle, sources are
    vocabulary-sized); never a doc-level all-pairs."""
    d = load_table(spark, sf, "documents")
    # ss feeds sizes and both pair-join sides, but its subtree ends in
    # a DISTINCT exchange that ReuseExchange already shares — an eager
    # cut measured as a wash (r14 interleave: 1.92 vs 1.90 s medians)
    # and was deliberately NOT added.
    ss = (
        D.shingle_sets(d, k=3)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", F.explode("sh").alias("shingle"))
        .distinct()
    )
    sizes = ss.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sh")
    )
    a = ss.select(F.col("source").alias("src_a"), "shingle")
    b = ss.select(F.col("source").alias("src_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_sh").alias("n_b")
    )
    return (
        shared.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            pround(
                F.col("n_shared") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


def q131_cluster_safe_split(spark, sf):
    """Leakage-proof train/val/test split: near-dup FAMILIES (q51's
    connected components over verified Jaccard pairs) are assigned as
    a unit — the split hashes the family key (cluster id for members,
    own doc id for singletons), so two near-duplicate documents can
    never land in different splits and leak eval data into training.
    The md5-threshold assignment stays a pure map; only the family
    derivation shuffles."""
    from data_lake_project_spark.operators.dataset import split_column

    d = load_table(spark, sf, "documents")
    pairs = D.minhash_neardup_pairs(d)
    comp = D.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    fam = d.select("doc_id").join(comp, "doc_id", "left")
    family = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return fam.select(
        "doc_id",
        family.alias("family"),
        split_column(
            family, {"train": 0.8, "val": 0.1, "test": 0.1}
        ).alias("split"),
    ).orderBy("doc_id")


def q132_expectations(spark, sf):
    """Declarative data-quality gate over orders: non-null keys,
    status vocabulary, price range, unique order ids, and referential
    integrity against customer — one aggregation pass for every
    column-local rule plus one broadcast anti-join for the foreign
    key. The Deequ/dbt-test shape as an engine operator. See
    ``operators.expectations.validate``."""
    from data_lake_project_spark.operators.expectations import validate

    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    rules = [
        ("not_null", "o_custkey"),
        ("not_null", "o_orderdate"),
        ("accepted_values", "o_orderstatus", ["F", "O", "P"]),
        ("range", "o_totalprice", 0.0, 1000000.0),
        ("unique", "o_orderkey"),
        ("in_set", "o_custkey", c, "c_custkey"),
    ]
    return validate(o, rules).orderBy("rule", "column")


def q134_new_vs_returning(spark, sf):
    """Daily growth split: per observed day, how many active users
    were first-ever-seen that day vs returning — the activation
    readout. One per-user min-day agg joined back to the distinct
    (user, day) facts; both shuffles keyed on user_id (exchange
    reuse), then a vocabulary-sized day agg."""
    e = load_table(spark, sf, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ud.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("day") == F.col("first_day"), 1))
            .cast("long")
            .alias("new_users"),
            F.count(F.when(F.col("day") != F.col("first_day"), 1))
            .cast("long")
            .alias("returning_users"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "new_users",
            "returning_users",
        )
        .orderBy("day")
    )


def q135_dup_source_mix(spark, sf):
    """Near-dup provenance: verified Jaccard pairs (the q26 pipeline)
    classified intra-source vs cross-source — whether duplication is
    a within-crawl artifact or cross-source contamination (drives
    which dedup key the curation ladder needs). Two broadcast-sized
    joins of the pair list against the doc->source map."""
    d = load_table(spark, sf, "documents")
    pairs = D.minhash_neardup_pairs(d)
    src = d.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    tagged = pairs.join(sa, "id_a").join(sb, "id_b")
    return (
        tagged.groupBy(
            (F.col("src_a") == F.col("src_b")).alias("intra_source")
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("intra_source")
    )


def q107_max_concurrency(spark, sf):
    """Peak concurrent activity per hour: sweep-line max-overlap over
    per-(user, day) activity spans [first event, last event] — the
    capacity-planning readout. Distributed two-phase prefix sum
    (per-hour windows + tiny carry-in offsets), starts-before-ends
    tie rule. See ``operators.interval.max_concurrency``."""
    from data_lake_project_spark.operators.interval import max_concurrency

    e = load_table(spark, sf, "events")
    iv = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    return max_concurrency(iv, "s", "e", bucket_s=3600).orderBy("bucket")


def q106_skew_report(spark, sf):
    """Pre-flight shuffle-skew diagnostic on the events key
    ``event_type`` (5 hot keys): per-key row share, the load ratio of
    its md5 hash bucket vs uniform, and the salt factor
    ``salted_join`` would need — the report a pipeline reads before
    picking a join strategy. One vocabulary-sized shuffle + scalar
    total. See ``operators.skew.skew_report``."""
    from data_lake_project_spark.operators.skew import skew_report

    e = load_table(spark, sf, "events")
    return skew_report(e, ["event_type"], hex_chars=1, top=10).orderBy(
        F.col("n_rows").desc(), "event_type"
    )


def q105_robust_outliers(spark, sf):
    """Median/MAD robust outlier gate per event_type over the heavy-
    tailed value column — the outlier-safe twin of q72's winsorize
    (one wild value cannot drag a median threshold the way it drags a
    mean/stddev one). Two grouped exact-median passes + broadcast
    joins of the 5-row stats. See
    ``operators.sketches.robust_outliers``."""
    from data_lake_project_spark.operators.sketches import robust_outliers

    e = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    return (
        robust_outliers(e, "value", ["event_type"], c=3.0)
        .filter(F.col("is_outlier"))
        .select("event_id", "event_type", "value", "grp_median", "grp_mad")
        .orderBy("event_id")
    )


def q104_zorder_layout(spark, sf):
    """Z-order (Morton) clustering readout: interleave customer-key
    and price-bucket bits into a Z-value, bucket rows into the files
    a range-partition on Z would produce, and report each file's
    min/max envelope on BOTH dimensions — the parquet-stats pruning
    surface Delta's OPTIMIZE ZORDER BY builds. Pure bit math + one
    file-keyed roll-up. See ``operators.layout.zorder_file_stats``."""
    from data_lake_project_spark.operators.layout import zorder_file_stats

    o = load_table(spark, sf, "orders").select(
        (F.col("o_orderkey") % 65536).cast("long").alias("x"),
        (F.floor("o_totalprice").cast("long") % 65536).alias("y"),
    )
    return zorder_file_stats(o, "x", "y", bits=16, file_shift=22).orderBy(
        "file_id"
    )


def q103_cdc_apply(spark, sf):
    """CDC merge-on-read collapse: materialize the CURRENT snapshot
    from a change log (insert + update + delete + tie-broken
    same-timestamp ops + post-delete re-insert), keeping per key only
    the latest op and dropping deleted keys. The log is a
    deterministic mutation ladder over orders (q93's synth pattern).
    One keyed window shuffle. See ``lakehouse.cdc_apply``."""
    from data_lake_project_spark.lakehouse import cdc_apply

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    ins = o.select(
        "o_orderkey",
        F.lit(1).alias("ts"),
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
        "o_totalprice",
        "o_orderstatus",
    )
    upd = o.filter(k % 7 == 0).select(
        "o_orderkey",
        F.lit(2).alias("ts"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        "o_orderstatus",
    )
    dele = o.filter(k % 13 == 0).select(
        "o_orderkey",
        F.lit(2).alias("ts"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        "o_totalprice",
        "o_orderstatus",
    )
    upd2 = o.filter(k % 11 == 0).select(
        "o_orderkey",
        F.lit(3).alias("ts"),
        F.lit(0).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 9.0).alias("o_totalprice"),
        "o_orderstatus",
    )
    log = ins.unionByName(upd).unionByName(dele).unionByName(upd2)
    return (
        cdc_apply(log, ["o_orderkey"], ["ts", "seq"], op_col="op")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def q102_dedup_against(spark, sf):
    """Incremental near-dup: the re-ingest batch (docs with
    ``doc_id % 5 == 0``) is deduplicated AGAINST the standing corpus
    (the rest) — asymmetric LSH band join (batch×corpus, never
    corpus²) + exact Jaccard >= 0.5 verify; survivors are the batch
    docs safe to append. See ``operators.dedup.dedup_against``."""
    d = load_table(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    return (
        D.dedup_against(corpus, batch, k=3, num_hashes=8, band_size=2)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


def q136_dedup_index_gate(spark, sf):
    """q102's ingest gate served from a MAINTAINED index: the standing
    corpus's band/set tables are built in two increments (the O(delta)
    fold — the second half is indexed WITHOUT re-touching the first)
    and the re-ingest batch is gated against the composed index. Same
    semantics and oracle as q102 — incremental ≡ recompute is the
    operator's contract (CI-pinned in
    test_dedup_index_incremental_equals_recompute). See
    ``operators.dedup_index``."""
    from data_lake_project_spark.operators.dedup_index import (
        build_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )

    d = load_table(spark, sf, "documents")
    idx = extend_dedup_index(
        build_dedup_index(d.filter((F.col("doc_id") % 5).isin(1, 2))),
        d.filter((F.col("doc_id") % 5).isin(3, 4)),
    )
    batch = d.filter(F.col("doc_id") % 5 == 0)
    return (
        dedup_against_index(idx, batch)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


def q101_bloom_decontaminate(spark, sf):
    """Bloom-filter decontamination: the broadcast is md5-derived
    4-hex-char position codes (3 per probe shingle) instead of raw
    shingle strings — fixed-width, an order of magnitude smaller at
    benchmark scale, no false negatives, deterministic FP so even the
    approximate op is hash-checkable. Probe set: docs with
    ``doc_id % 89 == 0``. See ``operators.dedup.bloom_decontaminate``."""
    d = load_table(spark, sf, "documents")
    probes = d.filter(F.col("doc_id") % 89 == 0).select("text")
    return (
        D.bloom_decontaminate(d, probes, k=3, n_hashes=3, hex_chars=4)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


# Shared synth template for q100 (q34 pattern: the SAME SQL builds the
# semi-structured input on both engines; the Spark side then runs the
# real operator while the oracle re-derives the expected profile).
_Q100_SYNTH = """
    SELECT CASE event_type
      WHEN 'click' THEN '{"k": ' || CAST(user_id AS BIGINT)
           || ', "page": "p' || CAST(user_id AS BIGINT) || '"}'
      WHEN 'error' THEN '{"k": ' || CAST(user_id AS BIGINT)
           || ', "code": ' || CAST(floor(value) AS BIGINT)
           || ', "fatal": true}'
      WHEN 'view' THEN '{"k": ' || CAST(user_id AS BIGINT)
           || ', "dwell": ' || CAST(floor(value) AS BIGINT) || '.25}'
      WHEN 'signup' THEN '{"k": ' || CAST(user_id AS BIGINT)
           || ', "ref": null}'
      ELSE props
    END AS doc
    FROM __TBL__
"""


def q100_json_schema_infer(spark, sf):
    """Semi-structured schema inference: per-JSON-key presence + type
    histogram + coarsest admitting type over a synthesized landing-
    zone payload column (mixed int/float/bool/null/string shapes per
    event_type). Parse+explode is a pure map; ONE schema-breadth
    shuffle. See ``operators.sketches.infer_json_schema``."""
    from data_lake_project_spark.operators.sketches import infer_json_schema

    load_table(spark, sf, "events").createOrReplaceTempView("q100_events")
    j = spark.sql(_Q100_SYNTH.replace("__TBL__", "q100_events"))
    return infer_json_schema(j, "doc").orderBy("key")


# ---------------------------------------------------------------------------
# Mergeable-sketch rollups + layout planning + quantized serving
# (q151-q156): Spark 4's built-in Apache DataSketches aggregates as a
# persisted continuous-aggregate lane, the OPTIMIZE compaction
# planner, the int8 embedding-serving lane, and the vocabulary-growth
# curation signal.
# ---------------------------------------------------------------------------


def _published_hll_rollup(spark, sf):
    """The q151/q158 shared artifact: per-(event_type, day) HLL
    sketches of distinct users, built once per (sf, fingerprint) and
    published under the cache root; both queries serve from this
    table and the raw events are never rescanned."""
    from data_lake_project_spark.operators.sketches import (
        build_hll_rollup,
        load_hll_rollup,
        save_hll_rollup,
    )

    e = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    # lg_k=14: the exact (coupon/sparse) regime must cover the LARGEST
    # fixture the oracle contract could meet — measured: lg_k=12 goes
    # dense at sf0.1's 1500 distinct users (estimate 1488), lg_k=14
    # is exact there with margin. Beyond the exact regime the lane
    # degrades to ±0.8% estimates with an unchanged plan — but then
    # the hard COUNT(DISTINCT) oracle no longer applies; a deployment
    # at that scale treats q151/q158 as rows-only like q153. The
    # _hll14 path suffix is the layout-version discipline: a stale
    # lg_k=12 cache can never be loaded.
    path = _published_lane(
        spark,
        sf,
        ["events"],
        "hll14",
        lambda tmp: save_hll_rollup(
            build_hll_rollup(e, ["event_type", "day"], "user_id", 14),
            tmp,
            lg_k=14,
        ),
    )
    return load_hll_rollup(spark, path)


def q151_hll_rollup(spark, sf):
    """Distinct-user rollup served from a PERSISTED HLL sketch table:
    per-(event_type, day) sketches are built once per (sf,
    fingerprint) with one partial-agg'd pass and saved; every
    slice/rollup after unions KB-sized registers — the raw events are
    never rescanned (the continuous-aggregate shape for NDV
    dashboards over 100 TB of events). Oracle-exact BY REGIME, not by
    luck: a datasketches HLL stays in exact sparse mode far above the
    fixture's per-slice cardinality (~150 users « 2^lg_k), so every
    estimate here IS the true distinct count; the property suite pins
    the fold/replay algebra at the same scale. See
    ``operators.sketches.build_hll_rollup``."""
    from data_lake_project_spark.operators.sketches import (
        query_hll_rollup,
    )

    r = _published_hll_rollup(spark, sf)
    per_type = query_hll_rollup(r, ["event_type"]).select(
        F.col("event_type").alias("slice_key"), "approx_ndv"
    )
    overall = query_hll_rollup(
        r.withColumn("slice_key", F.lit("__all__")), ["slice_key"]
    )
    return per_type.unionByName(overall).orderBy("slice_key")


def q152_theta_overlap(spark, sf):
    """Cross-segment audience overlap via theta-sketch set algebra:
    |A∩B| / |A∪B| / |A\\B| for every event-type pair WITHOUT the
    exact computation's value-set self-join — one sketch pass, then
    (k choose 2) sketch-pair ops. Exact in the fixture's regime
    (cardinalities « the sketch's k=4096 sampling threshold, so the
    sketches hold the full hash sets); the same query at 100 TB
    degrades to ±1.6% estimates with an unchanged plan. See
    ``operators.sketches.theta_overlap``."""
    from data_lake_project_spark.operators.sketches import theta_overlap

    e = load_table(spark, sf, "events")
    return theta_overlap(e, "event_type", "user_id").orderBy(
        "set_a", "set_b"
    )


def q153_kll_quantile_rollup(spark, sf):
    """Mergeable per-source KLL quantile sketches + a merged global
    row derived by folding the PER-SOURCE sketches (never rescanning
    the data) — the percentile-dashboard shape: store one sketch per
    (source, hour) and answer any rollup from sketch merges.
    Rows-only: KLL is a sampling sketch whose quantile definition
    differs from SQL percentile_disc beyond its exact regime; the
    rank-error contract (normalized rank within 2*eps of exact) is
    CI-pinned instead. See ``operators.sketches.kll_quantile_rollup``."""
    from data_lake_project_spark.operators.sketches import (
        kll_quantile_rollup,
    )

    d = load_table(spark, sf, "documents")
    return kll_quantile_rollup(
        d, "source", "n_chars", [0.5, 0.9, 0.99]
    ).orderBy("key")


def q154_compaction_plan(spark, sf):
    """Small-file compaction planning (OPTIMIZE's metadata half):
    treat documents as a file inventory (id=doc_id, bytes=n_chars,
    partition=source), pack under-target files into rewrite groups by
    windowed next-fit, pass big files through. One window + one
    group-by over METADATA rows. See
    ``operators.layout.compaction_plan``."""
    from data_lake_project_spark.operators.layout import compaction_plan

    d = load_table(spark, sf, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return compaction_plan(d, "source", "doc_id", "n_chars", 1600).orderBy(
        "part", "group_id", "first_file"
    )


def q155_int8_topk(spark, sf):
    """Top-k neighbor serving over int8 scalar-quantized embeddings —
    the 4x-compressed serving lane next to PQ (q129), and the only
    ANN-family query with a HARD oracle: quantize → decode → cosine
    is a fixed sequence of correctly-rounded IEEE ops on identical
    operands, so Spark and DuckDB agree bit-for-bit (no recall floor
    needed). ``dim=64`` fails fast on a wrong-width corpus, q37's
    convention. See ``operators.similarity.sq_topk``."""
    e = load_table(spark, sf, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.sq_topk(e, probes, k=10, dim=64).orderBy(
        "probe_id", "vec_id"
    )


def q158_sketch_cube(spark, sf):
    """The full OLAP distinct-count CUBE — (event_type x day) lattice
    with both margins and the grand total — answered ENTIRELY from
    the persisted q151 sketch table: ``cube()`` over key-count-sized
    rows, each lattice cell a union of its member sketches. This is
    the continuous-aggregate + cube composition (Druid/Timescale's
    sketch-rollup dashboards): the 100 TB event stream contributes
    one partial-agg'd pass EVER, and every cube cell after reads KB
    of registers. Exact in the sparse regime like q151."""
    r = _published_hll_rollup(spark, sf)
    return (
        r.cube("event_type", "day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("hll_sketch"))
            .cast("long")
            .alias("approx_ndv")
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("__all__")).alias(
                "etype"
            ),
            F.coalesce(
                F.col("day").cast("string"), F.lit("__all__")
            ).alias("day"),
            "approx_ndv",
        )
        .orderBy("etype", "day")
    )


def q159_basket_lift(spark, sf):
    """Market-basket association mining: per part-pair basket
    co-occurrence + lift over lineitem orders (the apriori-first-pass
    / item-item recommender statistic). Pair fan-out is per-basket
    C(n,2) under an explicit mega-basket cap; counts stay integer and
    lift is one portable double division. Top-50 by (support desc,
    pair) — a total order. See ``operators.market.cooccurrence_lift``."""
    from data_lake_project_spark.operators.market import (
        cooccurrence_lift,
    )

    l = load_table(spark, sf, "lineitem")
    return (
        cooccurrence_lift(
            l, "l_orderkey", "l_partkey", min_support=3, max_basket=200
        )
        .orderBy(F.col("n_ab").desc(), "item_a", "item_b")
        .limit(50)
    )


def q160_golden_record(spark, sf):
    """MDM survivorship: q87's fuzzy-match pairs promoted to entity
    clusters (deterministic min-label components), then a GOLDEN
    RECORD per cluster assembled attribute-by-attribute with explicit
    survivorship rules — min id as canonical key, max completeness
    (n_chars), deterministic representative source, member/provenance
    counts. Unmatched records survive as their own golden record
    (cluster_id = own id; component labels are min member ids, so the
    namespaces cannot collide). Oracle: the identical pair SQL + the
    q51 recursive-CTE closure + the same aggregation rules."""
    from data_lake_project_spark.operators.linkage import fuzzy_join

    d = load_table(spark, sf, "documents")
    pairs = fuzzy_join(
        d, ["lang", "source"], "text", "doc_id", max_dist=14, prefix_len=24
    ).select(
        F.col("left_id").alias("id_a"), F.col("right_id").alias("id_b")
    )
    # fuzzy-match graphs are chain-shaped (measured diameter ~14 —
    # min-label would scan the edge set 14x); large/small-star
    # converges in 5 rounds with the identical labeling (parity
    # CI-pinned)
    comp = D.connected_components(pairs, algo="star").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    labeled = (
        d.select("doc_id", "source", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn(
            "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
        )
    )
    return (
        labeled.groupBy(F.col("cluster_id").cast("long").alias("cluster_id"))
        .agg(
            F.min("doc_id").cast("long").alias("golden_id"),
            F.count("*").cast("long").alias("n_members"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.max("n_chars").cast("long").alias("best_n_chars"),
            F.min("source").alias("rep_source"),
        )
        .orderBy("cluster_id")
    )


def q161_ab_test(spark, sf):
    """A/B experiment readout: users hash-split into two arms (the
    q41 deterministic assignment), conversion = did the user ever
    purchase; per-arm rates plus the pooled two-proportion z-score —
    the decision statistic an experimentation platform serves. All
    counts integer; the rate/z arithmetic is +-*/ and sqrt on
    identical operands (every op correctly rounded — the q22 cosine
    precedent), pround(4)."""
    e = load_table(spark, sf, "events")
    users = (
        e.groupBy("user_id")
        .agg(
            # 'ever purchased' saturates at 1.0 on the fixture (every
            # user buys); the non-degenerate conversion is a
            # high-value purchase
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 150.0),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn(
            # the q41 portable assignment: md5-prefix threshold gives
            # the identical arm on any engine (xxhash64 has no DuckDB
            # twin)
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8)
                < "80000000",
                "A",
            ).otherwise("B"),
        )
    )
    # ONE conditional aggregation pass instead of two filtered 1-row
    # frames cross-joined: the user-agg subtree evaluates once and the
    # report needs no join at all
    is_a = F.col("arm") == "A"
    j = users.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(is_a, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(~is_a, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    ra = F.col("ca").cast("double") / F.col("na").cast("double")
    rb = F.col("cb").cast("double") / F.col("nb").cast("double")
    pool = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    ).cast("double")
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("na").cast("double")
            + F.lit(1.0) / F.col("nb").cast("double")
        )
    )
    return j.select(
        "na",
        "ca",
        "nb",
        "cb",
        pround(ra, 4).alias("rate_a"),
        pround(rb, 4).alias("rate_b"),
        # degenerate pools (0% or 100% everywhere) have no z — NULL,
        # never a divide-by-zero under ANSI
        F.when(se > 0, pround((ra - rb) / se, 4)).alias("z_score"),
    )


def q162_cohort_ltv(spark, sf):
    """Cohort lifetime-value matrix: users cohorted by first-seen
    day, cumulative purchase value per cohort at each age (days since
    first seen) — the (cohort x age) triangle every growth dashboard
    plots, and the retention (q70) companion with VALUE instead of
    presence. Decimal-summed values make the cumulative exact."""
    e = load_table(spark, sf, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort")
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort",
            F.datediff(F.to_date("ts"), F.col("cohort")).alias("age"),
            "value",
        )
        .groupBy("cohort", "age")
        .agg(
            # stay DECIMAL through the window: a double cumsum's
            # addition order differs between engines (DuckDB windows
            # aggregate via segment trees); exact decimal is
            # order-free
            F.sum(F.col("value").cast("decimal(27,6)")).alias("__v"),
            F.count("*").cast("long").alias("n_purchases"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purch.select(
            _ts(F.col("cohort")).alias("cohort_day"),
            F.col("age").cast("long").alias("age"),
            "n_purchases",
            pround(F.sum("__v").over(w).cast("double"), 2).alias(
                "cum_value"
            ),
        )
        .orderBy("cohort_day", "age")
    )


def q157_sq_index_search(spark, sf):
    """q155 served from a PERSISTED int8 index — the fifth
    train-once/serve-many lifecycle: stats + tinyint codes are built
    once per (sf, fingerprint) and saved; every run after scans the
    4x-compressed codes table instead of the raw embeddings.
    ``search_sq_index`` is the ``sq_topk`` ranking verbatim, so q157
    equals q155 by construction and SHARES its oracle (the q150/q144
    pattern). See ``operators.sq_index``."""
    from data_lake_project_spark.operators.sq_index import (
        build_sq_index,
        load_sq_index,
        save_sq_index,
        search_sq_index,
    )

    e = load_table(spark, sf, "embeddings")
    path = _published_lane(
        spark,
        sf,
        ["embeddings"],
        "sq8_64",
        lambda tmp: save_sq_index(build_sq_index(e, dim=64), tmp),
    )
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return search_sq_index(
        load_sq_index(spark, path), probes, k=10
    ).orderBy("probe_id", "vec_id")


def q156_vocab_growth(spark, sf):
    """Vocabulary-growth curve across ingest batches: per batch, the
    token count, the NEW types (first ever seen in that batch), the
    cumulative vocabulary, and the novelty rate — the curation signal
    for 'is new data still adding diversity or just repeating the
    corpus' (a flattening curve is the stop signal for scraping a
    domain). First-seen attribution is one min-aggregate over the
    token stream; batches derive from doc_id so the split is
    deterministic on any engine."""
    d = load_table(spark, sf, "documents")
    mx = d.agg(F.max("doc_id").alias("__mx"))
    b = d.crossJoin(F.broadcast(mx)).select(
        F.floor(
            (F.col("doc_id") * 8).cast("double")
            / (F.col("__mx") + 1).cast("double")
        )
        .cast("long")
        .alias("batch"),
        "text",
    )
    toks = b.select(
        "batch", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    ).filter(F.col("w") != "")
    per_batch = toks.groupBy("batch").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    news = (
        toks.groupBy("w")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count("*").cast("long").alias("new_types"))
    )
    w = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_batch.join(news, "batch", "left")
        .withColumn("new_types", F.coalesce("new_types", F.lit(0)).cast("long"))
        .select(
            "batch",
            "n_tokens",
            "new_types",
            F.sum("new_types").over(w).cast("long").alias("cum_types"),
            pround(
                F.col("new_types").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# Q163-Q167: oracle-checked quality reports for the approximate lanes.
#
# The ANN one-shots (q33 LSH / q37 IVF / q129 PQ / q133 IVF+PQ) and the
# HLL count (q32) are rows-only by design — their VALUES depend on
# trained codebooks or sketch registers no SQL engine re-derives. These
# report twins give each family a hard DuckDB differential anyway, the
# q148 recipe: parameterize the lane with DETERMINISTIC, SQL-derivable
# index artifacts (lowest-id centroids/codebooks, md5-derived LSH
# planes), run the REAL search machinery, and report integer
# hit-counts + exact-rational recalls the oracle recomputes end to end.
# Training itself stays covered by the CI recall floors (numpy k-means
# isn't SQL-expressible); everything downstream of training — encode,
# bucket resolution, candidate joins, ADC/exact scoring, ranking — is
# the production code path under oracle check.
# ---------------------------------------------------------------------------


def _lowid_vectors(e, n, unit=False):
    """The ``n`` lowest-id embedding vectors as plain float lists — a
    bounded, codebook-sized collect (the ivf_topk training class).
    ``unit=True`` normalizes each with SEQUENTIAL Python float ops
    (sum left-to-right, ``math.sqrt``, one divide per component) —
    every step correctly-rounded IEEE on the same operands DuckDB's
    ``x / sqrt(list_sum(...))`` sees, so the oracle re-derives the
    exact same doubles."""
    import math

    vecs = [
        [float(x) for x in r[0]]
        for r in e.select("embedding", "vec_id")
        .orderBy("vec_id")
        .limit(n)
        .collect()
    ]
    if not unit:
        return vecs
    out = []
    for v in vecs:
        nrm = math.sqrt(sum(x * x for x in v))
        out.append([x / nrm for x in v] if nrm > 0 else v)
    return out


def _ann_probes(e):
    return e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )


def q163_ivf_recall_report(spark, sf):
    """IVF recall vs the exact baseline (q37's family, driver-checkable):
    centroids are the 16 lowest-id corpus vectors (no Lloyd step — the
    ``centroids=`` production path), so the oracle re-derives the
    whole search: assignment, nprobe bucket resolution, candidate
    equi-join, rounded-cosine ranking, per-probe recall."""
    e = load_table(spark, sf, "embeddings")
    probes = _ann_probes(e)
    cents = _lowid_vectors(e, 16)
    exact = SIM.brute_force_topk(e, probes, k=10)
    appr = SIM.ivf_topk(
        e, probes, k=10, n_centroids=16, nprobe=3, centroids=cents, dim=64
    )
    return SIM.recall_report(exact, appr).orderBy("probe_id")


def q164_pq_recall_report(spark, sf):
    """PQ recall vs the exact baseline (q129's family): codebooks are
    the per-subspace slices of the 64 lowest-id UNIT vectors (the
    ``codebooks=`` production path — training stays CI-covered), so
    encode (argmin per subspace), ADC scoring and ranking all run
    under a hard oracle. PQ keeps self-matches (no namespace filter in
    the lane); the report drops them so recall is measured against the
    self-excluded exact top-k."""
    e = load_table(spark, sf, "embeddings")
    probes = _ann_probes(e)
    cb = _pq_codebook_lowid(e)
    exact = SIM.brute_force_topk(e, probes, k=10)
    appr = SIM.pq_topk(
        e, probes, k=10, m_subspaces=16, n_codes=64, codebooks=cb, dim=64
    ).filter(F.col("probe_id") != F.col("vec_id"))
    return SIM.recall_report(exact, appr).orderBy("probe_id")


def _pq_codebook_lowid(e, m=16, n_codes=64, dsub=4):
    """m x n_codes x dsub codebook: subspace slices of the lowest-id
    unit vectors (deterministic + SQL-derivable)."""
    unit = _lowid_vectors(e, n_codes, unit=True)
    return [
        [v[s * dsub : (s + 1) * dsub] for v in unit] for s in range(m)
    ]


def q165_ivfpq_recall_report(spark, sf):
    """IVF+PQ recall vs the exact baseline (q133's family): injected
    lowest-id centroids + unit-slice codebooks (the new
    ``centroids=``/``codebooks=`` train-once path), so the composed
    coarse-prune + ADC pipeline runs under a hard oracle."""
    e = load_table(spark, sf, "embeddings")
    probes = _ann_probes(e)
    cents = _lowid_vectors(e, 16)
    cb = _pq_codebook_lowid(e)
    exact = SIM.brute_force_topk(e, probes, k=10)
    appr = SIM.ivfpq_topk(
        e,
        probes,
        k=10,
        n_centroids=16,
        nprobe=4,
        m_subspaces=16,
        n_codes=64,
        centroids=cents,
        codebooks=cb,
        dim=64,
    ).filter(F.col("probe_id") != F.col("vec_id"))
    return SIM.recall_report(exact, appr).orderBy("probe_id")


def q166_lsh_recall_report(spark, sf):
    """LSH recall vs the exact baseline (q33's family) at q33's exact
    config (bits=6, n_tables=4, multiprobe Hamming-1). The hyperplanes
    are md5-derived ±1 constants, so the oracle embeds the SAME
    constants and re-derives signatures, probed buckets, candidate
    union and ranking — the one ANN lane whose whole index is
    SQL-expressible."""
    e = load_table(spark, sf, "embeddings")
    probes = _ann_probes(e)
    exact = SIM.brute_force_topk(e, probes, k=10)
    appr = SIM.lsh_bucketed_topk(
        e, probes, k=10, bits=6, n_tables=4, dim=64
    )
    return SIM.recall_report(exact, appr).orderBy("probe_id")


def q167_hll_tolerance_report(spark, sf):
    """HLL estimate-vs-exact tolerance (q32's family, driver-checkable):
    exact distincts are hard oracle values; the within-10pct flags pin
    Spark's HLL++ (default rsd=0.05) against them — measured rel-err
    is <=6.7% across sf0.001-0.1, so the 10% bound has 1.5x margin
    while a broken sketch (or a silently changed rsd) flips a flag and
    hash-mismatches. The estimate itself is deliberately NOT an output
    column: its value is implementation-defined, the contract is the
    bound."""
    o = load_table(spark, sf, "orders")
    ev = load_table(spark, sf, "events")
    li = load_table(spark, sf, "lineitem")

    def one(t, col, prefix):
        return t.agg(
            F.countDistinct(col).cast("long").alias(f"n_{prefix}"),
            (
                F.abs(
                    F.approx_count_distinct(col).cast("double")
                    - F.countDistinct(col).cast("double")
                )
                / F.countDistinct(col).cast("double")
                <= 0.10
            ).alias(f"{prefix}_within_10pct"),
        )

    return (
        one(o, "o_custkey", "custkeys")
        .crossJoin(F.broadcast(one(ev, "user_id", "users")))
        .crossJoin(F.broadcast(one(li, "l_partkey", "partkeys")))
    )


# Deterministic, SQL-expressible erased-id predicates for the GDPR
# capstone — modular on the id so BOTH engines derive the same sets
# without a side channel.
_GDPR_DOC_PRED = "doc_id % 7 = 3"
_GDPR_VEC_PRED = "vec_id % 9 = 4"
_GDPR_USER_PRED = "user_id % 10 = 3"


def _gdpr_build_fn(spark, sf):
    """The q168 build closure: all NINE lanes built + the fixed
    deletion request erased through every one, into the directory the
    closure receives. Exposed separately from the publish step so the
    partial-replay crash test can drive ``_publish_if_absent`` with
    the REAL build against a scratch path (kill between lane erases →
    nothing published, temp cleaned; re-run → identical artifact)."""
    from data_lake_project_spark.operators.ann_index import (
        build_ann_index,
        save_ann_index,
    )
    from data_lake_project_spark.operators.dedup_index import (
        build_dedup_index,
        save_dedup_index,
    )
    from data_lake_project_spark.operators import erasure as _er
    from data_lake_project_spark.operators import knn_index as _knn
    from data_lake_project_spark.multimodal import phash_index as _ph
    from data_lake_project_spark.operators.retrieval import (
        build_bm25_index,
        save_bm25_index,
    )
    from data_lake_project_spark.operators.sketches import (
        build_hll_rollup,
        save_hll_rollup,
    )
    from data_lake_project_spark.operators.sq_index import (
        build_sq_index,
        save_sq_index,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    emb = load_table(spark, sf, "embeddings")
    ev = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    erased_docs = docs.filter(_GDPR_DOC_PRED).select("doc_id")
    erased_vecs = emb.filter(_GDPR_VEC_PRED).select("vec_id")

    def build(tmp):
        import os as _os

        _os.makedirs(tmp, exist_ok=True)
        save_dedup_index(build_dedup_index(docs), f"{tmp}/dedup")
        save_bm25_index(build_bm25_index(docs), f"{tmp}/bm25")
        save_sq_index(build_sq_index(emb, dim=64), f"{tmp}/sq", id_buckets=8)
        save_ann_index(build_ann_index(emb, kind="ivf", dim=64), f"{tmp}/ann")
        save_hll_rollup(
            build_hll_rollup(ev, ["event_type", "day"], "user_id", 14),
            f"{tmp}/hll",
            lg_k=14,
        )
        _knn.save_knn_index(emb, f"{tmp}/knn", k=10)
        # the multimodal lane: the documents' rasters fingerprinted
        # into the pHash index (the q189/q191 ASCII-raster
        # convention), erased under the same doc deletion request
        rasters = docs.select(
            "doc_id",
            F.encode(
                F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", ""),
                "UTF-8",
            ).alias("image"),
        )
        _ph.save_phash_index(_ph.build_phash_index(rasters), f"{tmp}/phash")
        # the AV lanes (round-13 verdict #3: q200's standalone
        # artifacts composed into the capstone), keyed by clip_id ==
        # doc_id and erased under the SAME document deletion request
        _write_av_artifacts(
            rasters.filter(F.length("image") > 0).select(
                F.col("doc_id").cast("string").alias("path"),
                F.col("image").alias("content"),
            ),
            tmp,
        )
        # the deletion request, propagated through every lane (module
        # attribute lookups, not from-imports, so the crash test can
        # inject a failure at any single lane boundary)
        _er.erase_dedup_index(spark, f"{tmp}/dedup", erased_docs)
        _er.erase_bm25_index(spark, f"{tmp}/bm25", erased_docs)
        _er.erase_sq_index(spark, f"{tmp}/sq", erased_vecs)
        _er.erase_ann_index(spark, f"{tmp}/ann", erased_vecs)
        _knn.erase_knn_index(spark, f"{tmp}/knn", erased_vecs)
        _ph.erase_phash_index(spark, f"{tmp}/phash", erased_docs)
        _erase_av_artifacts(
            spark,
            tmp,
            erased_docs.select(
                F.col("doc_id").alias("clip_id")
            ).localCheckpoint(eager=True),
        )
        remaining = ev.filter(f"NOT ({_GDPR_USER_PRED})")
        touched = ev.filter(_GDPR_USER_PRED).select("event_type", "day")
        _er.rebuild_hll_keys(
            spark, f"{tmp}/hll", remaining, touched,
            ["event_type", "day"], "user_id",
        )

    return build


def _published_gdpr_lanes(spark, sf) -> str:
    """The q168 artifact: ALL NINE persisted lanes (dedup, BM25, SQ
    with the id-bucket erase layout, IVF ANN, HLL rollup, kNN-graph,
    the pHash fingerprint index, and the AV pair — 16-way id-bucketed
    scene keyframes + audio feature rows, q200's artifacts composed
    in, round-13 verdict #3)
    built from the lake, then a fixed deletion request erased through
    every one — inside ONE publish-if-absent step, so the published
    directory IS the post-erasure state (replays never re-build or
    re-erase; the q141 composition pattern applied to deletion).
    Keyed by the fingerprints of all three source tables."""
    return _published_lane(
        spark,
        sf,
        ["documents", "embeddings", "events"],
        "gdpr13",
        _gdpr_build_fn(spark, sf),
    )


def q168_gdpr_erasure_report(spark, sf):
    """GDPR capstone (the q141 composition pattern for DELETION):
    every persisted lane is built from the lake and a fixed deletion
    request erased through all nine — dedup bands/sets, BM25
    postings/dl, id-bucketed SQ codes, bucket-partitioned IVF codes,
    HLL rollup (non-invertible → touched-key rebuild), and the
    kNN-graph index (bounded rebuild: only nodes that lost a neighbor
    re-probe — ``knn_index.erase_knn_index``), the pHash
    fingerprint index over the documents' rasters (a per-row
    anti-join rewrite), and the AV pair — 16-way id-bucketed scene
    keyframes (bucket-scoped rewrite) + audio feature rows
    (anti-join rewrite), clip_id == doc_id so one deletion request
    covers text, image, video, and audio — then this report
    audits the post-erasure state per lane: rows remaining and erased
    ids still visible (must be 0). The kNN lane contributes TWO rows:
    its corpus vectors (the uniform per-id unit) and its directed
    edge table, whose post-erasure cardinality the oracle re-derives
    as n_remaining x least(k, n_remaining - 1) — exactly the count an
    index that never ingested the erased ids would hold, and erased
    ids must be invisible as src OR dst. The oracle re-derives
    n_remaining from the source tables under the same modular erased
    predicates and asserts the zero — a lane that leaked an erased id
    (or dropped a survivor) hash-mismatches. Serve-equals-never-
    ingested is CI-pinned per lane; this query is the driver-visible
    audit of the composed pipeline."""
    from data_lake_project_spark.operators.dedup_index import (
        load_dedup_index,
    )
    from data_lake_project_spark.operators.knn_index import (
        load_knn_edges,
    )
    from data_lake_project_spark.operators.retrieval import (
        load_bm25_index,
    )
    from data_lake_project_spark.operators.sketches import (
        load_hll_rollup,
    )
    from data_lake_project_spark.operators.sq_index import load_sq_index

    root = _published_gdpr_lanes(spark, sf)

    def lane(name, t, visible_pred):
        return t.agg(
            F.lit(name).alias("lane"),
            F.count("*").cast("long").alias("n_remaining"),
            F.coalesce(
                F.sum(F.when(F.expr(visible_pred), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_erased_visible"),
        )

    dd = lane(
        "dedup", load_dedup_index(spark, f"{root}/dedup").sets,
        _GDPR_DOC_PRED,
    )
    bm = lane(
        "bm25", load_bm25_index(spark, f"{root}/bm25").dl, _GDPR_DOC_PRED
    )
    sq = lane("sq", load_sq_index(spark, f"{root}/sq").codes, _GDPR_VEC_PRED)
    ann = lane(
        "ann",
        spark.read.parquet(f"{root}/ann/codes"),
        _GDPR_VEC_PRED,
    )
    knn = lane(
        "knn",
        spark.read.parquet(f"{root}/knn/vectors"),
        _GDPR_VEC_PRED,
    )
    # the edge table: an erased id may appear on EITHER end of a
    # directed edge, and both are leaks
    edge_pred = (
        f"({_GDPR_VEC_PRED.replace('vec_id', 'src')}) OR "
        f"({_GDPR_VEC_PRED.replace('vec_id', 'dst')})"
    )
    knn_e = lane(
        "knn_edges", load_knn_edges(spark, f"{root}/knn"), edge_pred
    )
    ph = lane(
        "phash",
        spark.read.parquet(f"{root}/phash/codes"),
        _GDPR_DOC_PRED,
    )
    # the AV pair: clip_id == doc_id, so the SAME deletion request
    # audits both (q200's lanes composed in — round-13 verdict #3)
    clip_pred = _GDPR_DOC_PRED.replace("doc_id", "clip_id")
    kfr = lane(
        "keyframes", _keyframes(spark, root).read(), clip_pred
    )
    aud = lane("audio", spark.read.parquet(f"{root}/audio"), clip_pred)
    # HLL rows are keyed by (event_type, day), not user — "visible"
    # here means a key that would not exist had the erased users never
    # ingested (i.e. a key with no remaining-user events survived the
    # touched-key rebuild)
    ev = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    rem_keys = (
        ev.filter(f"NOT ({_GDPR_USER_PRED})")
        .select("event_type", "day")
        .distinct()
    )
    r = load_hll_rollup(spark, f"{root}/hll")
    hll = (
        r.join(
            F.broadcast(rem_keys.withColumn("__ok", F.lit(True))),
            ["event_type", "day"],
            "left_outer",
        )
        .agg(
            F.lit("hll").alias("lane"),
            F.count("*").cast("long").alias("n_remaining"),
            F.coalesce(
                F.sum(F.when(F.col("__ok").isNull(), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("n_erased_visible"),
        )
    )
    return (
        dd.unionByName(bm)
        .unionByName(sq)
        .unionByName(ann)
        .unionByName(knn)
        .unionByName(knn_e)
        .unionByName(ph)
        .unionByName(kfr)
        .unionByName(aud)
        .unionByName(hll)
        .orderBy("lane")
    )


def q169_kll_tolerance_report(spark, sf):
    """KLL estimate-vs-exact tolerance (q153's family made
    driver-checkable, the q167 recipe): per source AND the sketch-fold
    '__all__' row, the EXACT discrete quantiles (value at rank
    ceil(p*n) — identical IEEE rank arithmetic on both engines) are
    hard oracle values, and the within-flags pin the q153 sketch lane:
    each KLL estimate must land inside the exact value envelope of the
    ±5%-normalized-rank window. KLL is a randomized sampling sketch
    (estimates vary run to run within its ~1.65% rank-error contract
    at the default k=200), so the 5% window has ~3x margin — a broken
    merge fold or a silently retuned k flips a flag and
    hash-mismatches, while legitimate sketch noise never does."""
    from data_lake_project_spark.operators.sketches import (
        kll_quantile_rollup,
    )

    d = load_table(spark, sf, "documents")
    sk = kll_quantile_rollup(d, "source", "n_chars", [0.5, 0.9, 0.99])

    vals = d.select(
        F.col("source").cast("string").alias("key"),
        F.col("n_chars").cast("long").alias("v"),
    )
    vals = vals.unionByName(vals.withColumn("key", F.lit("__all__")))
    ranked = vals.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("key").orderBy("v")),
    ).localCheckpoint(eager=True)
    counts = ranked.groupBy("key").agg(
        F.count("*").cast("long").alias("n")
    )

    # 9 target ranks per key: (quantile, bound) -> clamp(ceil((p+d)*n))
    specs = [
        (q, bound, delta)
        for q in (50, 90, 99)
        for bound, delta in (("lo", -0.05), ("exact", 0.0), ("hi", 0.05))
    ]
    targets = counts.select(
        "key",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{q}_{bound}").alias("slot"),
                        F.greatest(
                            F.lit(1).cast("long"),
                            F.least(
                                F.col("n"),
                                F.ceil(
                                    F.lit(q / 100.0 + delta) * F.col("n")
                                ).cast("long"),
                            ),
                        ).alias("rn"),
                    )
                    for q, bound, delta in specs
                ]
            )
        ).alias("t"),
    ).select("key", "n", F.col("t.slot").alias("slot"), F.col("t.rn").alias("rn"))

    picked = (
        targets.join(ranked, ["key", "rn"])
        .groupBy("key", "n")
        .agg(
            *[
                F.max(
                    F.when(F.col("slot") == f"{q}_{bound}", F.col("v"))
                ).alias(f"q{q}_{bound}")
                for q, bound, _ in specs
            ]
        )
    )
    return (
        picked.join(sk.select("key", "q_50", "q_90", "q_99"), "key")
        .select(
            "key",
            "n",
            F.col("q50_exact").alias("q50_exact"),
            F.col("q90_exact").alias("q90_exact"),
            F.col("q99_exact").alias("q99_exact"),
            F.col("q_50").between(F.col("q50_lo"), F.col("q50_hi")).alias(
                "q50_ok"
            ),
            F.col("q_90").between(F.col("q90_lo"), F.col("q90_hi")).alias(
                "q90_ok"
            ),
            F.col("q_99").between(F.col("q99_lo"), F.col("q99_hi")).alias(
                "q99_ok"
            ),
        )
        .orderBy("key")
    )


def q170_ann_index_injected_search(spark, sf):
    """Persisted-ANN serving under a HARD oracle (q137's lifecycle,
    q165's arithmetic): an IVF+PQ index with the INJECTED
    deterministic model (lowest-id centroids + unit-slice codebooks —
    the ``build_ann_index(centroids=, codebooks=)`` train-once path)
    is published once per (sf, fingerprint), and every run serves
    from the loaded index. Because the model is SQL-derivable, the
    DuckDB oracle re-derives the entire save→load→search result —
    the first persisted-lifecycle lane with a value oracle rather
    than an equivalence pin (q137 keeps covering the trained
    variant). Search semantics: nprobe=4, self-matches kept (the
    serving default), (round(score,4) DESC, id) ranking."""
    from data_lake_project_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        save_ann_index,
        search_ann_index,
    )

    e = load_table(spark, sf, "embeddings")
    probes = _ann_probes(e)
    def build(tmp):
        cents = _lowid_vectors(e, 16)
        cb = _pq_codebook_lowid(e)
        save_ann_index(
            build_ann_index(
                e, kind="ivfpq", centroids=cents, codebooks=cb, dim=64
            ),
            tmp,
        )

    path = _published_lane(
        spark, sf, ["embeddings"], "ivfpq_inj16x16x64", build
    )
    return search_ann_index(
        load_ann_index(spark, path), probes, k=10, nprobe=4
    ).orderBy("probe_id", "vec_id")


def q171_kmeans_assign_report(spark, sf):
    """Distributed k-means ASSIGNMENT under a hard oracle (q88's
    family): the distributed half of k-means — one Arrow-matmul
    assignment pass against a broadcast centroid matrix — runs with
    INJECTED deterministic centroids (the 8 lowest-id vectors), so the
    DuckDB oracle re-derives every assignment (argmax cosine of unit
    vectors, ties to the LOWEST cluster — the numpy argmax contract,
    zero vectors to cluster 0) and the per-cluster histogram. Training
    (driver-side numpy Lloyd, q88) stays covered by the determinism +
    inertia-monotonicity CI pins; this certifies the part that touches
    100 TB."""
    import numpy as np

    from data_lake_project_spark.operators.clustering import kmeans_assign

    e = load_table(spark, sf, "embeddings")
    cents = np.array(_lowid_vectors(e, 8))
    return (
        kmeans_assign(e, cents)
        .groupBy("cluster")
        .agg(F.count("*").cast("long").alias("n_members"))
        .orderBy("cluster")
    )


def q172_semantic_dedup_report(spark, sf):
    """Semantic dedup (q139's lane) under a HARD oracle: injected
    deterministic centroids (the 8 lowest-id vectors — the
    ``semantic_dedup(centroids=)`` train-once path) make the whole
    run SQL-derivable — assignment is q171's argmax arithmetic, the
    within-cluster keep rule is q28's raw-vector cosine (expr lane,
    sequential-sum parity), and the report is per-cluster
    (n_total, n_kept, n_dropped). Training stays covered by the q88
    CI pins; this certifies everything that touches 100 TB. See
    ``operators.dedup.semantic_dedup_report``."""
    import numpy as np

    from data_lake_project_spark.operators.dedup import (
        semantic_dedup_report,
    )

    e = load_table(spark, sf, "embeddings")
    cents = np.array(_lowid_vectors(e, 8))
    return semantic_dedup_report(
        e, n_clusters=8, threshold=0.4, impl="expr", centroids=cents
    )


def q173_chunk_index_recall_report(spark, sf):
    """q143's ANN-served RAG retrieval under a HARD oracle: the chunk
    corpus (q142's chunking + hash embedding — both SQL-derivable)
    builds a PERSISTED IVF index with INJECTED centroids (the 8
    lowest packed-vec_id chunk vectors — ``build_ann_index(
    centroids=)``), so the DuckDB oracle re-derives the entire
    save→load→search: chunking, embedding, bucket assignment, probe
    bucket resolution, in-bucket exact-cosine ranking — and the
    recall arithmetic vs the exact brute-force baseline. The q170
    recipe applied to the chunk-retrieval family; q143 keeps covering
    the TRAINED variant (recall floor CI-pinned). Probes are the
    q142 query set — a different id namespace than the packed chunk
    ids, so self-exclusion is OFF on both lanes (a packed vec_id can
    numerically collide with a query id)."""
    from data_lake_project_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        save_ann_index,
        search_ann_index,
    )
    from data_lake_project_spark.operators.dataset import chunk_documents

    d = load_table(spark, sf, "documents")
    probes = spark.createDataFrame(
        _Q142_QUERIES, "query_id int, qtext string"
    ).select(
        F.col("query_id").alias("probe_id"),
        hash_embedding("qtext", 16).alias("embedding"),
    )
    # chunk+embed feeds THREE consumers (centroid collect, index
    # build on the cold path, exact baseline) — eager-cut it once
    # (the q141/q148 multi-consumer rule)
    chunks = (
        chunk_documents(d, chunk_size=32, overlap=8)
        .select(
            F.expr(
                "doc_id * 4096 + chunk_id + coalesce(cast(assert_true("
                "chunk_id < 4096, 'q173: chunk_id >= 4096 overflows the "
                "packed vec_id — raise the pack width') AS BIGINT), 0)"
            ).alias("vec_id"),
            hash_embedding("chunk_text", 16).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    cents = _lowid_vectors(chunks, 8)
    def _build(tmp):
        save_ann_index(
            build_ann_index(
                chunks, kind="ivf", n_centroids=8, centroids=cents,
                dim=16,
            ),
            tmp,
        )

    path = _published_lane(
        spark, sf, ["documents"], "chunks_ivf_inj8", _build
    )
    appr = search_ann_index(
        load_ann_index(spark, path), probes, k=5, nprobe=4
    )
    exact = SIM.brute_force_topk(chunks, probes, k=5, exclude_self=False)
    return SIM.recall_report(exact, appr).orderBy("probe_id")


def q174_bpe_merge_trace(spark, sf):
    """BPE TRAINING under a HARD oracle — the last rows-only family
    without a driver-visible twin. Identical parameters to q138
    (k_merges=8, min_pair_count=2), so the oracle certifies exactly
    q138's lane: the DuckDB side replays all 8 merge iterations as a
    CTE chain — weighted adjacent-pair counts over the
    separator-wrapped word vocabulary, (count DESC, left, right)
    winner selection, and the merge fold expressed as ONE global
    ``replace`` on the doubled-separator encoding (chr(31)-wrapped
    symbols make left-to-right non-overlapping replacement exactly
    Sennrich's i-walk — the q140 serving encoding, reused for
    training). Every (step, left, right, merged, pair_count) row is a
    deterministic integer/string an oracle can re-derive, closing the
    evidence gap golden-vs-pure-Python left. See ``operators.bpe``."""
    from data_lake_project_spark.operators.bpe import bpe_merges

    d = load_table(spark, sf, "documents")
    return bpe_merges(d, k_merges=8, min_pair_count=2).orderBy("step")


def q175_stream_interval_join_report(spark, sf):
    """The stream-stream interval join EXPRESSION
    (``streaming/windows.py`` St2 — watermarked, range-bounded, the
    canonical two-stream Structured Streaming join) run in batch mode
    — the unified-API degradation the batch≡stream equivalence test
    exploits, here pinned against a plain SQL range join so the
    streaming-join family gets a driver-visible hash row (q42/q43's
    recipe applied to the join). Each error event pairs with the SAME
    user's clicks in [error_ts - 30 min, error_ts]; the report is
    q66's shape (per-error click count + closest gap). The key
    equality makes the batch plan an EQUI-join with a range residual
    — never a cross product — and in streaming mode the same
    expression bounds join state to O(rate x 40 min) per key."""
    from data_lake_project_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    e = load_table(spark, sf, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", F.col("ts").alias("e_ts")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    j = stream_stream_interval_join(
        err, clk, on="user_id", left_ts="e_ts", right_ts="c_ts",
        horizon="30 minutes",
    )
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    return (
        j.groupBy("event_id")
        .agg(
            F.count("*").cast("long").alias("n_clicks_30m"),
            (
                F.min(epoch("e_ts") - epoch("c_ts")).cast("long")
            ).alias("closest_gap_s"),
        )
        .orderBy("event_id")
    )


# q176's own query set: terms drawn from the corpus vocabulary so the
# lexical lane actually retrieves (the q142 queries share only 2 terms
# with the synthetic corpus, which would zero every metric — a report
# whose arithmetic the hash never exercises).
_Q176_QUERIES = [
    (1, "hash join spark"),
    (2, "customer order table"),
    (3, "slow window merge"),
]


def q176_retrieval_quality_report(spark, sf):
    """IR ranking quality for the retrieval ladder — recall_report's
    role for the lexical/hybrid lanes: BM25 top-5 (q144's scorer) AND
    the RRF hybrid top-5 (q145's fusion) are each judged against the
    dense exact top-5 as the binary relevance set (cross-lane
    agreement, the standard hybrid-retrieval diagnostic), producing
    per-(lane, query) MRR reciprocal rank and DCG@5/nDCG@5. The one
    transcendental (log2 rank discounts) enters as quantized decimal
    LITERALS identical on both engines
    (``retrieval.dcg_weight_literals`` — the q166 plane-literal
    rule), sums are exact decimals, so the whole report is
    hash-checkable. See
    ``operators.retrieval.ranking_quality_report``."""
    from data_lake_project_spark.operators.retrieval import (
        bm25_topk,
        ranking_quality_report,
        rrf_fuse,
    )

    d = load_table(spark, sf, "documents")
    qdf = spark.createDataFrame(
        _Q176_QUERIES, "query_id int, qtext string"
    )
    # lex10 feeds the judged bm25 lane AND the fusion — cut the BM25
    # subtree once (the q141/q148 multi-consumer rule; (queries x 10)
    # rows)
    lex10 = (
        bm25_topk(d, qdf, k=10)
        .select("query_id", "doc_id", "rk")
        .localCheckpoint(eager=True)
    )
    corpus = d.select(
        F.col("doc_id").alias("vec_id"),
        hash_embedding("text", 16).alias("embedding"),
    )
    probes = qdf.select(
        F.col("query_id").alias("probe_id"),
        hash_embedding("qtext", 16).alias("embedding"),
    )
    wd = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id")
    )
    # exclude_self=False: query ids and doc ids are independent
    # namespaces that merely overlap (the q145 rule). dense10 feeds
    # the fusion AND the relevance subset — cut once.
    dense10 = (
        SIM.brute_force_topk(corpus, probes, k=10, exclude_self=False)
        .select(
            F.col("probe_id").alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            "cosine",
        )
        .withColumn("rk", F.row_number().over(wd))
        .localCheckpoint(eager=True)
    )
    rel = dense10.filter(F.col("rk") <= 5).select("query_id", "doc_id")
    lex5 = lex10.filter(F.col("rk") <= 5)
    rrf5 = rrf_fuse(
        lex10, dense10.select("query_id", "doc_id", "rk"),
        ["query_id", "doc_id"], k=5,
    ).select("query_id", "doc_id", "rk")
    rep_lex = ranking_quality_report(lex5, rel, k=5).select(
        F.lit("bm25").alias("lane"), "*"
    )
    rep_rrf = ranking_quality_report(rrf5, rel, k=5).select(
        F.lit("rrf").alias("lane"), "*"
    )
    return rep_lex.unionByName(rep_rrf).orderBy("lane", "query_id")


def _stream_table_source(spark, sf, table: str):
    """A fixture table as a Structured Streaming file source. The
    file source needs a DIRECTORY (basePath on a file path fails in
    FileStreamSource), so the fixture file is exposed through a
    symlink dir under the cache root — no data copy, publish-if-absent
    keyed on (fixture dir, size, mtime) like the index lifecycles.
    Batch-read schema, so nanos handling matches ``load_table``."""
    import os as _os

    load_table(spark, sf, table)  # pins TZ + nanos confs
    path = f"{sf.rstrip('/')}/{table}.parquet"
    st = _os.stat(path)
    key = (table, str(st.st_size), str(int(st.st_mtime)))
    src_dir = _cache_path("spark_graft_stream_src", sf, *key)
    _os.makedirs(src_dir, exist_ok=True)
    link = _os.path.join(src_dir, f"{table}.parquet")
    if not _os.path.exists(link):
        try:
            _os.symlink(path, link)
        except FileExistsError:  # concurrent publisher won the race
            pass
    return spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(src_dir)


def _await_stream(q, timeout_s: int = 600) -> None:
    """``awaitTermination(timeout)`` returns FALSE on timeout with
    the query still running — reading the memory sink then would
    snapshot a partial result, and a rerun in the same session would
    fail on the duplicate active queryName. Stop the straggler and
    fail loudly instead of returning a silently-wrong frame."""
    if not q.awaitTermination(timeout_s):
        name = q.name
        q.stop()
        raise TimeoutError(
            f"streaming query {name!r} still running after "
            f"{timeout_s}s (availableNow batch should finish in "
            "seconds) — stopped it rather than snapshot a partial "
            "memory-sink table"
        )


def q177_stream_funnel_report(spark, sf):
    """The CUSTOM-STATEFUL streaming funnel
    (``streaming/stateful.funnel_stages`` — St3's
    ``applyInPandasWithState`` per-key state machine) executed as a
    REAL Structured Streaming query and hash-pinned against q69's
    relational min-chain oracle: the whole fixture arrives as ONE
    availableNow micro-batch (in-order delivery by construction), so
    the final per-user snapshot equals the batch fold exactly — the
    documented contract ``test_funnel_stream_equals_batch`` pins
    across 4 batches, here made driver-visible (the q175 recipe
    applied to the stateful family; the last equivalence-only lane
    gains a driver row). The file source needs a DIRECTORY, so the
    fixture file is exposed through a symlink dir under the cache
    root (no data copy). Scale: state is O(stages) epoch-micros per key in
    the executor state store (RocksDB on a cluster); the memory-sink
    snapshot here is per-key depth rows — a deployment writes the
    idempotent parquet sink (``write_stream_idempotent``) instead."""
    from data_lake_project_spark.streaming.stateful import funnel_stages

    stream = _stream_table_source(spark, sf, "events")
    q = (
        funnel_stages(stream)
        .writeStream.format("memory")
        .queryName("q177_funnel_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    # depth is monotone: the snapshot per key is the max stage across
    # updates (single-batch here, but robust to a multi-file source)
    snap = spark.table("q177_funnel_mem").groupBy("key").agg(
        F.max("stage").alias("stage")
    )
    return (
        snap.select(
            F.when(F.col("stage") == 3, "3_purchase")
            .when(F.col("stage") == 2, "2_click")
            .when(F.col("stage") == 1, "1_view")
            .otherwise("0_none")
            .alias("stage")
        )
        .groupBy("stage")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("stage")
    )


def q178_hard_negative_mining(spark, sf):
    """Contrastive training-pair mining for the retrieval ladder
    (``operators.retrieval.mine_hard_negatives`` — the DPR
    BM25-negatives recipe): the dense exact top-3 per query is the
    positive set, the BM25 top-10 minus those positives yields the 5
    highest-ranked hard negatives — documents the lexical retriever
    finds confusable but the relevance set rejects, exactly what an
    embedding-model trainer needs next to each positive. Output is
    the labeled (query, doc, role, pair_rank) training frame. Plan:
    both lanes are (queries x k)-sized after their own top-k cuts;
    the mining itself is an anti-join + window over tens of rows —
    training-set-shaped, never corpus-shaped."""
    from data_lake_project_spark.operators.retrieval import (
        bm25_topk,
        mine_hard_negatives,
    )

    d = load_table(spark, sf, "documents")
    qdf = spark.createDataFrame(
        _Q176_QUERIES, "query_id int, qtext string"
    )
    lex10 = (
        bm25_topk(d, qdf, k=10)
        .select("query_id", "doc_id", "rk")
        .localCheckpoint(eager=True)
    )
    corpus = d.select(
        F.col("doc_id").alias("vec_id"),
        hash_embedding("text", 16).alias("embedding"),
    )
    probes = qdf.select(
        F.col("query_id").alias("probe_id"),
        hash_embedding("qtext", 16).alias("embedding"),
    )
    # exclude_self=False: query ids and doc ids are independent
    # namespaces that merely overlap (the q145 rule)
    pos = SIM.brute_force_topk(
        corpus, probes, k=3, exclude_self=False
    ).select(
        F.col("probe_id").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
    )
    return mine_hard_negatives(lex10, pos, k_neg=5).orderBy(
        "query_id", "role", "pair_rank", "doc_id"
    )


def q179_k_anonymity_report(spark, sf):
    """Privacy-risk audit before a data release
    (``operators.privacy.k_anonymity_report``): customers bucketed by
    the quasi-identifier pair (nation, account-balance-per-1000) —
    the generalized attributes a linker could join on — with market
    segment as the sensitive attribute. One row per QI equivalence
    class: size ``k``, sensitive diversity ``l_div``, and the
    ``risky`` flag for classes under k=5 (re-identifiable). Plan: a
    single hash-groupBy with partial aggregation — keyed-count cost
    at any scale. The balance bucket is exact decimal floor division
    (no float boundary between engines)."""
    from data_lake_project_spark.operators.privacy import (
        k_anonymity_report,
    )

    c = load_table(spark, sf, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
            "bal_bucket"
        ),
        "c_mktsegment",
    )
    return k_anonymity_report(
        c, ["c_nationkey", "bal_bucket"], "c_mktsegment", k_threshold=5
    ).orderBy("c_nationkey", "bal_bucket")


def q180_mutual_knn_graph(spark, sf):
    """Mutual k-nearest-neighbor graph over the embeddings table
    (``operators.similarity.knn_graph``): every vector probes the
    corpus, and an undirected edge survives only when both endpoints
    rank each other in their own top-10 — the hub-stripping
    symmetrization whose edge list feeds diversity sampling and
    graph dedup (``connected_components``). Expr lane for the oracle
    (sequential-fold dot products are bit-identical to DuckDB's
    list_sum — the q22 rule); the Arrow/BLAS lane is the documented
    production scorer, and at corpus scale the probe pass runs per
    IVF/LSH bucket instead of brute-force."""
    e = load_table(spark, sf, "embeddings")
    return SIM.knn_graph(e, k=10, mutual=True).orderBy("src", "dst")


def q182_stream_window_report(spark, sf):
    """The WATERMARKED tumbling-window aggregation (St1/St2's
    ``streaming/windows.tumbling_agg``) executed as a REAL Structured
    Streaming query — q42 pins the window EXPRESSION in batch mode;
    this runs the streaming plan itself (StateStoreSave/complete
    output over a memory sink, availableNow) and hash-pins the final
    window totals against q42's date_trunc oracle, which they must
    equal exactly once the one in-order batch lands (complete mode:
    every window's current total, none dropped — the watermark only
    bounds state eviction). With q177 (custom-stateful) and q175
    (stream-stream join), every streaming family now has a
    driver-visible hash row that executed the streaming engine, not
    just its batch degradation. Scale: state is one row per open
    (window, event_type); the watermark evicts closed windows on a
    real unbounded stream."""
    from data_lake_project_spark.streaming.windows import tumbling_agg

    stream = _stream_table_source(spark, sf, "events")
    # EventTimeWatermark requires TIMESTAMP, not TIMESTAMP_NTZ; the
    # session timeZone is pinned UTC (load_table), so the cast is a
    # rendering-identical relabel
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = tumbling_agg(
        stream,
        "ts",
        "1 hour",
        agg_exprs=[
            F.count("*").cast("long").alias("n"),
            pround(dec_sum(F.col("value")), 2).alias("sum_value"),
        ],
        keys=["event_type"],
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("q182_window_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return (
        spark.table("q182_window_mem")
        .select(
            _ts(F.col("win.start")).alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("bucket_start", "event_type")
    )


def q183_knn_graph_recall_report(spark, sf):
    """Graph-level recall of the APPROXIMATE mutual-kNN graph
    (``knn_graph(method='lsh')`` — q33/q166's md5-plane multi-table
    LSH as the corpus-scale edge scorer) against q180's exact graph:
    both undirected edge sets explode to per-node incidence and
    ``recall_report`` counts, per node, its exact-mutual degree, its
    approx-mutual degree, the shared edges and the recall — the
    diagnostic that tunes bits/n_tables before the approximate graph
    feeds dedup or diversity sampling. Everything is integer set
    algebra over two (N x k)-bounded edge lists; the oracle
    re-derives both graphs end to end (the embedded plane literals
    make even the LSH side SQL-expressible — the q166 property,
    graph-scale).

    The exact side is SERVED from the q187 maintained index instead
    of rebuilt inline (round-10 verdict item: the recall report was
    the suite's slowest query because it re-ran the quadratic
    baseline it certifies) — maintained == rebuilt is exactly what
    q187's own driver hash proves, and this report's oracle still
    derives the exact graph from scratch, so the hash is unchanged
    while the quadratic rebuild cost drops out."""
    from data_lake_project_spark.operators.knn_index import (
        load_knn_edges,
        mutual_knn_edges,
    )

    e = load_table(spark, sf, "embeddings")
    ex = mutual_knn_edges(
        load_knn_edges(spark, _published_knn_index(spark, sf))
    )
    ap = SIM.knn_graph(e, k=10, mutual=True, method="lsh", dim=64)

    def incident(g):
        return g.select(F.col("src").alias("node"), "dst").unionByName(
            g.select(F.col("dst").alias("node"), F.col("src").alias("dst"))
        )

    return SIM.recall_report(
        incident(ex), incident(ap), probe_id_col="node", id_col="dst"
    ).orderBy("node")


def q184_curation_waterfall(spark, sf):
    """Per-stage attrition waterfall for a 4-stage curation ladder
    (``dataset.waterfall_report``) — the corpus-build dashboard row:
    normalized dedup (q47's canonical hash, lowest-id survivor) →
    quality >= 0.6 (q30's composite) → token-length window [20, 500]
    → per-source quota of the 50 best by quality (q48's cut). Every
    flag is a COLUMN on one narrow scored pass and the whole report
    is ONE aggregation (map-side partial cumulative-AND sums) — the
    corpus is scanned once however long the ladder, and removals
    attribute to the FIRST rejecting stage, exactly the semantics of
    running the filters sequentially. The quota rank orders
    prior-survivors first (boolean desc), so qualifying rows rank
    1..n among themselves — deterministic on both engines."""
    from data_lake_project_spark.operators.dataset import (
        waterfall_report,
    )
    from data_lake_project_spark.operators.text import canonicalize

    d = load_table(spark, sf, "documents")
    scored = TX.quality_score(d).join(
        d.select("doc_id", "source", "text"), "doc_id"
    )
    base = scored.withColumn(
        "__canon", F.md5(canonicalize(F.col("text")))
    )
    wd = Window.partitionBy("__canon").orderBy("doc_id")
    flagged = (
        base.withColumn("f_dedup", F.row_number().over(wd) == 1)
        .withColumn("f_quality", F.col("quality") >= 0.6)
        .withColumn(
            "f_length", F.col("n_tokens").between(20, 500)
        )
    )
    prior = (
        F.col("f_dedup") & F.col("f_quality") & F.col("f_length")
    )
    wq = Window.partitionBy("source").orderBy(
        prior.desc(), F.col("quality").desc(), F.col("doc_id")
    )
    flagged = flagged.withColumn(
        "f_quota", prior & (F.row_number().over(wq) <= 50)
    )
    return waterfall_report(
        flagged,
        [
            ("dedup", "f_dedup"),
            ("quality", "f_quality"),
            ("length", "f_length"),
            ("source_quota", "f_quota"),
        ],
    ).orderBy("stage")


def q185_stream_dedup_report(spark, sf):
    """Streaming DEDUP executed as a real stream
    (``streaming/windows.stream_dedup`` — watermarked
    ``dropDuplicates``, the scalable fix for the reference's
    at-least-once duplicate delivery, ``spark_stream.py:217-224``):
    the events stream dedups on (user_id, event_type) with dedup
    state bounded by the watermark, append-mode first-seen rows land
    in the memory sink, and the distinct-pair set is hash-pinned
    against a plain DISTINCT oracle (projected to the key columns, so
    first-arrival nondeterminism cannot leak into the result). The
    fourth streaming family executed for real after q175/q177/q182 —
    dedup state, not window or funnel state. Report: events per user
    across distinct event types — proves the dedup dropped the
    duplicate (user, type) deliveries and nothing else."""
    from data_lake_project_spark.streaming.windows import stream_dedup

    stream = _stream_table_source(spark, sf, "events")
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = stream_dedup(
        stream.select("user_id", "event_type", "ts"),
        ["user_id", "event_type"],
        ts_col="ts",
    ).select("user_id", "event_type")
    q = (
        deduped.writeStream.format("memory")
        .queryName("q185_dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return (
        spark.table("q185_dedup_mem")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_event_types"))
        .orderBy("user_id")
    )


def q186_cdc_chunks(spark, sf):
    """Content-defined chunking by ROLLING hash
    (``text.cdc_chunks`` — the rsync/LBFS boundary trick at token
    granularity): a chunk cut falls after token i exactly when the
    md5-derived hash of the 3-token window ending at i is 0 mod 32,
    so boundary decisions are purely LOCAL — an insertion re-chunks
    its neighborhood and nothing else (the self-healing property
    fixed-size chunking lacks, CI-pinned), which is what makes the
    emitted chunk-fingerprint table the unit of sub-document
    duplicate detection and delta storage. Pure map + one generator;
    the whole derivation is portable integer/md5 arithmetic, so the
    oracle replays every boundary."""
    from data_lake_project_spark.operators.text import cdc_chunks

    d = load_table(spark, sf, "documents")
    return cdc_chunks(d).orderBy("doc_id", "chunk_id")


def _published_knn_index(spark, sf) -> str:
    """The q187 artifact: the kNN-graph index built from 90% of the
    corpus with the remaining 10% folded in (``fold_knn_index`` —
    O(N x delta), EXACT), inside one publish-if-absent step keyed on
    the embeddings fixture. The maintained edge table equals a
    from-scratch rebuild (q187's driver hash IS that proof), so any
    consumer needing the exact graph — q187's serve, q183's recall
    report exact side — loads these edges instead of re-running the
    quadratic baseline."""
    from data_lake_project_spark.operators.knn_index import (
        fold_knn_index,
        save_knn_index,
    )

    def _build(tmp):
        e = load_table(spark, sf, "embeddings")
        save_knn_index(
            e.filter(F.col("vec_id") % 10 != 0), tmp, k=10
        )
        fold_knn_index(
            spark, tmp, e.filter(F.col("vec_id") % 10 == 0)
        )

    return _published_lane(spark, sf, ["embeddings"], "knn10", _build)


def q187_knn_index_maintained(spark, sf):
    """The persisted kNN-graph index under MAINTENANCE
    (``operators/knn_index.py`` — the seventh persisted lifecycle):
    the index is built from 90% of the corpus, the remaining 10%
    folds in through ``fold_knn_index`` — O(N x delta) scoring that is
    EXACT, because cosines never change when the corpus grows (a new
    top-k is always a subset of stored-top-k UNION delta), then the
    mutual graph serves straight off the maintained edge table. The
    published cache artifact IS the post-fold state (built inside one
    publish-if-absent step — replay-idempotent, the q168 pattern),
    and the oracle is q180's FROM-SCRATCH full-graph SQL verbatim:
    the driver hash proves maintained == rebuilt, the equality that
    makes O(delta) ingest trustworthy at 100 TB."""
    from data_lake_project_spark.operators.knn_index import (
        load_knn_edges,
        mutual_knn_edges,
    )

    path = _published_knn_index(spark, sf)
    return mutual_knn_edges(load_knn_edges(spark, path)).orderBy(
        "src", "dst"
    )


def q188_knn_index_erased(spark, sf):
    """GDPR erasure for the kNN-graph lane
    (``knn_index.erase_knn_index`` — the seventh lifecycle gains its
    delete leg): the full-corpus index is built, a fixed modular
    deletion request (vec_id % 9 == 4 — SQL-expressible, no side
    channel; the q168 convention) is erased with the BOUNDED rebuild
    (only nodes that lost a neighbor re-probe the remaining corpus;
    removing a non-neighbor can never promote anyone, so everyone
    else's edges pass through verbatim), and the mutual graph serves
    off the post-erasure edges. Build + erase compose inside ONE
    publish-if-absent step, so the artifact IS the post-erasure state
    (replay-idempotent — the q168 pattern), and the oracle is the
    from-scratch q180 SQL over the REMAINING corpus: the driver hash
    proves erase == never-ingested for the graph family."""
    from data_lake_project_spark.operators.knn_index import (
        erase_knn_index,
        load_knn_edges,
        mutual_knn_edges,
        save_knn_index,
    )

    def _build(tmp):
        e = load_table(spark, sf, "embeddings")
        save_knn_index(e, tmp, k=10)
        erase_knn_index(
            spark,
            tmp,
            e.filter(F.col("vec_id") % 9 == 4).select("vec_id"),
        )

    path = _published_lane(
        spark, sf, ["embeddings"], "knn10_erased", _build
    )
    return mutual_knn_edges(load_knn_edges(spark, path)).orderBy(
        "src", "dst"
    )


def q181_quality_calibration(spark, sf):
    """Reliability diagram for the q30 quality scorer
    (``operators.dataset.calibration_report``): documents ranked into
    10 equal-count bins by predicted quality (deterministic
    (score, doc_id) ntile), each bin reporting row count, the
    token-richness proxy label's positive count/rate (n_tokens >= 40
    — the threshold a curation gate would tune), and the score
    envelope — the audit that justifies (or kills) a classifier
    threshold before it filters a corpus. Counting + one exact
    division + order-free min/max of pre-rounded scores keep every
    cell hash-checkable; the global ntile is audit-sized here and
    pre-bucketed at corpus scale (see the operator docstring)."""
    from data_lake_project_spark.operators.dataset import (
        calibration_report,
    )

    d = load_table(spark, sf, "documents")
    scored = TX.quality_score(d).select(
        "doc_id",
        "quality",
        (F.col("n_tokens") >= 40).alias("is_good"),
    )
    return calibration_report(
        scored, "quality", "is_good", n_bins=10
    ).orderBy("bin")


# the printable-ASCII alphabet and its +1 "brightness shift" (0x7E
# maps to 0x7F — still one UTF-8 byte), used to synthesize the q189
# re-encoded twins
_PRINTABLE = "".join(chr(c) for c in range(0x20, 0x7F))
_SHIFTED = "".join(chr(c + 1) for c in range(0x20, 0x7F))


def _phash_fingerprints(spark, sf):
    """The shared q189/q190 head: every document rendered as a binary
    raster and fingerprinted with the 64-bit average-hash
    (``multimodal/phash.py``), plus a RE-ENCODED TWIN (id + 1000000)
    for every third document — the same raster under a uniform +1
    brightness shift, the transform class aHash is provably invariant
    to ((v+1)*64 > tot+64 ⟺ v*64 > tot, pure integer math), standing
    in for the re-exported/re-brightened copies an image corpus
    accumulates. The near-dup stage must catch every (original, twin)
    pair at Hamming 0 while distinct documents stay far apart (the
    fixture's minimum cross-document distance is 5).

    Under the package's no-codec convention the encoded bytes ARE the
    raster, so the raster here is the UTF-8 encoding of the
    printable-ASCII projection of the text — a deterministic stand-in
    a DuckDB oracle can replay byte-for-byte (ASCII bytes ==
    characters on both engines), while the OPERATOR consumes only the
    binary column, exactly as it does on real page images (golden
    composition test: ``test_document_pipeline.py::
    test_phash_page_dedup_composition``). Empty rasters carry no
    brightness signal and are excluded on both sides."""
    from data_lake_project_spark.multimodal.phash import ahash64

    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    originals = d.select(
        "doc_id", "source", F.encode(ascii_txt, "UTF-8").alias("image")
    )
    twins = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.encode(
            F.translate(ascii_txt, _PRINTABLE, _SHIFTED), "UTF-8"
        ).alias("image"),
    )
    pages = originals.unionByName(twins).filter(F.length("image") > 0)
    return ahash64(pages, image_col="image")


def q189_phash_neardup(spark, sf):
    """Perceptual near-duplicate pairs over image rasters — the
    multimodal x dedup composition (the image-dedup stage every
    multimodal training pipeline runs on page/frame columns, here on
    deterministic text-derived rasters so the fingerprint is
    oracle-replayable): 64-bit average-hash per raster, 4x16-bit
    Hamming banding for candidates (EXACT — recall 1 by pigeonhole at
    max_hamming=3), ``bit_count(xor)`` verification. Never all-pairs:
    the only shuffle is the band equi-join, the MinHash/SimHash shape
    at corpus scale."""
    from data_lake_project_spark.multimodal.phash import phash_neardup

    fp = _phash_fingerprints(spark, sf)
    return phash_neardup(fp, id_col="doc_id", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def q190_phash_survivors(spark, sf):
    """The perceptual-dedup gate applied: drop every raster with a
    near-duplicate of smaller id (the one-pass anti-join rule — the
    scalable ingest-gate shape; cluster-representative semantics live
    in ``dedup.keep_cluster_representatives``), then report the
    per-source survivor census a curation dashboard tracks: rasters
    fingerprinted, survivors kept, and the band-0 fingerprint
    diversity among survivors (distinct 16-bit low bands — a cheap
    proxy for visual variety that the oracle re-derives exactly)."""
    from data_lake_project_spark.multimodal.phash import (
        phash_neardup,
        phash_survivors,
    )

    # three consumers of the fingerprints (near-dup, survivor gate,
    # census) — hash once, serve the narrow projection
    fp = (
        _phash_fingerprints(spark, sf)
        .select("doc_id", "source", "pband0", "pband1", "pband2", "pband3")
        .localCheckpoint(eager=True)
    )
    pairs = phash_neardup(fp, id_col="doc_id", max_hamming=3)
    surv = phash_survivors(fp, pairs, id_col="doc_id")
    n_all = fp.groupBy("source").agg(
        F.count("*").cast("long").alias("n_hashed")
    )
    n_surv = surv.groupBy("source").agg(
        F.count("*").cast("long").alias("n_survivors"),
        F.countDistinct("pband0").cast("long").alias("n_band0_distinct"),
    )
    return (
        n_all.join(n_surv, "source", "left_outer")
        .select(
            "source",
            "n_hashed",
            F.coalesce("n_survivors", F.lit(0)).alias("n_survivors"),
            F.coalesce("n_band0_distinct", F.lit(0)).alias(
                "n_band0_distinct"
            ),
        )
        .orderBy("source")
    )


def _published_phash_index(spark, sf) -> str:
    """The q191/q192 artifact: the fingerprint index BUILT from half
    the corpus rasters (doc_id % 4 in (0, 2)) with the other stored
    quarter (doc_id % 4 == 3) FOLDED in through the O(delta) append
    (``phash_index_apply`` — the corpus is never refingerprinted),
    inside one publish-if-absent step (the artifact IS the post-fold
    state, q168 pattern). Keyed on the CONTENT fingerprint like every
    other ``_published_*`` artifact — size+mtime alone misses an
    in-place fixture regeneration inside the same mtime second
    (round-5 lesson), and a stale hit here would serve q191/q192
    fingerprints from a previous corpus."""
    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        phash_index_apply,
        save_phash_index,
    )

    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    originals = d.select(
        "doc_id", F.encode(ascii_txt, "UTF-8").alias("image")
    ).filter(F.length("image") > 0)

    def _build(tmp):
        save_phash_index(
            build_phash_index(
                originals.filter(F.col("doc_id") % 4 == 0)
                .unionByName(originals.filter(F.col("doc_id") % 4 == 2))
            ),
            tmp,
        )
        phash_index_apply(
            spark, tmp, originals.filter(F.col("doc_id") % 4 == 3)
        )

    return _published_lane(spark, sf, ["documents"], "phash_idx", _build)


def _phash_gate_batch(spark, sf):
    """The q191/q192 serving batch: held-out originals (doc_id % 4 ==
    1 — novel to the index) plus the q189 re-encoded twins
    (brightness-shifted copies of every third doc — perceptual
    duplicates of stored rasters iff their base is stored)."""
    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    held_out = d.select(
        "doc_id", F.encode(ascii_txt, "UTF-8").alias("image")
    ).filter(
        (F.length("image") > 0) & (F.col("doc_id") % 4 == 1)
    )
    twins = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.encode(
            F.translate(ascii_txt, _PRINTABLE, _SHIFTED), "UTF-8"
        ).alias("image"),
    ).filter(F.length("image") > 0)
    return held_out.unionByName(twins)


def q191_phash_index_gate(spark, sf):
    """The persisted perceptual-fingerprint index under its full
    lifecycle (``multimodal/phash_index.py`` — the image ingest gate):
    build half, fold a quarter (O(delta)), publish once
    (``_published_phash_index``), then audit the gate's match set per
    batch row — matched?, match count, closest Hamming distance,
    smallest matching stored id — over a batch mixing held-out
    originals (novel) with re-encoded twins (perceptual duplicates of
    stored rasters iff their base is stored). The oracle re-derives
    index membership, every fingerprint, and the band-join + verify
    from the source table — a fold that dropped rows, a gate that
    missed a twin, or banding that lost recall all hash-mismatch."""
    from data_lake_project_spark.multimodal.phash_index import (
        load_phash_index,
        phash_index_matches,
    )

    idx = load_phash_index(spark, _published_phash_index(spark, sf))
    batch = _phash_gate_batch(spark, sf)
    matches = phash_index_matches(idx, batch, max_hamming=3)
    return (
        batch.select("doc_id")
        .join(matches, "doc_id", "left_outer")
        .groupBy("doc_id")
        .agg(
            (F.count("dup_of") > 0).alias("is_dup"),
            F.count("dup_of").cast("long").alias("n_matches"),
            F.min("hamming").cast("long").alias("min_hamming"),
            F.min("dup_of").cast("long").alias("first_dup_of"),
        )
        .orderBy("doc_id")
    )


def q192_stream_phash_gate(spark, sf):
    """The perceptual ingest gate executed as a REAL STREAM — the
    fifth streaming family run through the engine (after q177 funnel
    state, q182 window state, q185 dedup state: here a stream-side
    SERVE against a persisted index): the q191 batch population
    arrives as a Structured Streaming file source (each document
    explodes in-stream into its batch roles — held-out original,
    re-encoded twin, or neither), and every micro-batch is gated
    against the published fingerprint index inside ``foreachBatch``
    (``gate_against_phash_index`` — batch-sized band-join + verify,
    the streaming/pipeline.py micro-batch-sink shape), survivors
    landing in a per-call parquet sink. The oracle is the q191
    derivation projected to the surviving ids: streaming the corpus
    through the gate must admit exactly the rows a batch gate admits
    — micro-batch boundaries cannot change a per-row decision against
    a static index."""
    import shutil as _shutil
    import tempfile as _tempfile

    from data_lake_project_spark.multimodal.phash_index import (
        gate_against_phash_index,
        load_phash_index,
    )

    idx = load_phash_index(spark, _published_phash_index(spark, sf))

    stream = _stream_table_source(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    roles = (
        stream.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.encode(ascii_txt, "UTF-8").alias("image"),
                        (F.col("doc_id") % 4 == 1).alias("keep"),
                    ),
                    F.struct(
                        (F.col("doc_id") + 1000000).alias("doc_id"),
                        F.encode(
                            F.translate(ascii_txt, _PRINTABLE, _SHIFTED),
                            "UTF-8",
                        ).alias("image"),
                        (F.col("doc_id") % 3 == 0).alias("keep"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("keep") & (F.length("image") > 0))
        .drop("keep")
    )

    from data_lake_project_spark.streaming.pipeline import read_sink

    out = _tempfile.mkdtemp(prefix="spark_graft_q192_out_")
    ckpt = _tempfile.mkdtemp(prefix="spark_graft_q192_ckpt_")

    def gate_batch(bdf, batch_id):
        # per-batch dir + overwrite (the write_idempotent_foreach_batch
        # sink shape): foreachBatch is at-least-once, so a retried
        # micro-batch must REWRITE its own directory, never append
        # duplicates to a flat one
        (
            gate_against_phash_index(idx, bdf)
            .select("doc_id")
            .write.mode("overwrite")
            .parquet(f"{out}/data/__batch={batch_id}")
        )

    # both per-call dirs go in the finally; the sink read is eagerly
    # checkpointed first, so the result outlives the deleted files
    try:
        q = (
            roles.writeStream.foreachBatch(gate_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        _await_stream(q)
        kept = read_sink(spark, out).localCheckpoint(eager=True)
    finally:
        for d_ in (out, ckpt):
            _shutil.rmtree(d_, ignore_errors=True)
    return kept.orderBy("doc_id")


def q193_perceptual_waterfall(spark, sf):
    """The curation waterfall with PERCEPTUAL DEDUP as its first
    stage — the image-corpus build ladder (q184's one-pass
    cumulative-AND report over a different, multimodal ladder): the
    q189 raster population (originals + re-encoded twins) flows
    through [perceptual dedup (the q190 keep-lowest-id gate — every
    twin dies here, attributed HERE and not to a later stage), token
    floor (a twin's shifted raster has no spaces left, so the stage
    is also what catches mojibake re-encodes that slip past dedup),
    per-source quota of the 25 longest rasters]. One corpus pass
    computes every flag; the report is ONE aggregation
    (``dataset.waterfall_report``). The oracle replays fingerprints,
    banding, the survivor rule, and both gates from the source
    table."""
    from data_lake_project_spark.multimodal.phash import phash_neardup
    from data_lake_project_spark.operators.dataset import (
        waterfall_report,
    )

    fp = (
        _phash_fingerprints(spark, sf)
        .select(
            "doc_id", "source", "image",
            "pband0", "pband1", "pband2", "pband3",
        )
        .localCheckpoint(eager=True)
    )
    pairs = phash_neardup(fp, id_col="doc_id", max_hamming=3)
    doomed = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("__doomed", F.lit(True))
    )
    rtext = F.decode(F.col("image"), "UTF-8")
    flagged = (
        fp.join(doomed, "doc_id", "left")
        .withColumn("f_phash", F.col("__doomed").isNull())
        .withColumn("__n_chars", F.length("image").cast("long"))
        .withColumn(
            "__n_tokens", F.size(F.split(F.trim(rtext), r"\s+"))
        )
        .withColumn("f_tokens", F.col("__n_tokens") >= 20)
    )
    prior = F.col("f_phash") & F.col("f_tokens")
    wq = Window.partitionBy("source").orderBy(
        prior.desc(), F.col("__n_chars").desc(), F.col("doc_id")
    )
    flagged = flagged.withColumn(
        "f_quota", prior & (F.row_number().over(wq) <= 25)
    )
    return waterfall_report(
        flagged,
        [
            ("phash_dedup", "f_phash"),
            ("min_tokens", "f_tokens"),
            ("source_quota", "f_quota"),
        ],
    ).orderBy("stage")


def q194_stream_phash_ingest_fold(spark, sf):
    """The pHash ingest loop CLOSED: gate AND fold per micro-batch
    (``multimodal/phash_index.stream_ingest_with_phash_gate``) — where
    q192 serves every batch against a STATIC index, a production
    ingest pipeline admits each batch's survivors INTO the index
    before the next batch arrives, so batch N+1's perceptual
    duplicates of batch N's survivors are rejected (the
    serve-before-ingest cycle the dedup/BM25 lanes already run). Two
    deterministic micro-batches (one file each, mtime-ordered +
    maxFilesPerTrigger=1): batch 0 = originals with doc_id % 4 in
    (1, 2); batch 1 = originals with doc_id % 4 == 3 plus the q189
    re-encoded twins. The index starts from the doc_id % 4 == 0
    originals (copied fresh per call — the loop MUTATES it, so it can
    never be the shared published artifact). A twin whose base
    survived batch 0 is the order-dependent case: it carries the
    IDENTICAL fingerprint (aHash brightness invariance) and must be
    rejected BY THE FOLD, not the base corpus. Twins of doc_id % 12
    == 3 bases ride batch 1 TOGETHER with their originals — the
    intra-batch crawl-burst case (round-12 verdict #1): neither side
    is in the prior index, so only the gate's batch-LOCAL
    keep-lowest-id survivor pass rejects the twin. The oracle replays
    the sequential admission with the same in-batch rule: s_k =
    batch-k rows with no stored match AND no smaller-id in-batch
    match; stored grows by s_k before batch k+1. Temp dirs (mutable
    index copy, src, stage, sink, checkpoint) are deleted before
    returning — the result rides an eager localCheckpoint, so the
    frame outlives its source files (round-12 verdict #3)."""
    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        save_phash_index,
        stream_ingest_with_phash_gate,
    )

    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    originals = d.select(
        "doc_id", F.encode(ascii_txt, "UTF-8").alias("image")
    ).filter(F.length("image") > 0)
    twins = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.encode(
            F.translate(ascii_txt, _PRINTABLE, _SHIFTED), "UTF-8"
        ).alias("image"),
    ).filter(F.length("image") > 0)
    # base index: fingerprints of the doc_id % 4 == 0 originals
    base = _published_lane(
        spark,
        sf,
        ["documents"],
        "phash_base",
        lambda tmp: save_phash_index(
            build_phash_index(originals.filter(F.col("doc_id") % 4 == 0)),
            tmp,
        ),
    )
    return _drain_ingest_stream(
        spark,
        "q194",
        base,
        [
            originals.filter((F.col("doc_id") % 4).isin(1, 2)),
            originals.filter(F.col("doc_id") % 4 == 3).unionByName(twins),
        ],
        "doc_id long, image binary",
        stream_ingest_with_phash_gate,
    )


def _drain_ingest_stream(
    spark, tag, base_path, batches, schema, start
) -> DataFrame:
    """Run the q194/q201 ingest-AND-fold stream: copy the published
    base index fresh per call (the loop MUTATES it), land each of
    ``batches`` as ONE source file with distinct ascending mtimes (the
    file source orders pickup by modification time — funnel-test
    lesson; maxFilesPerTrigger=1 makes each file one micro-batch),
    drain the stream through
    ``start(stream, index, out, checkpoint, available_now=True)`` and
    return (doc_id, admitted_in_batch). The five per-call temp dirs
    are deleted before returning; the result is eagerly checkpointed
    first, so it holds no lineage into the deleted files."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    dirs = [
        _tempfile.mkdtemp(prefix=f"spark_graft_{tag}_{role}_")
        for role in ("idx", "src", "stage", "out", "ckpt")
    ]
    idx, src, stage, out, ckpt = dirs
    try:
        _shutil.rmtree(idx)
        _shutil.copytree(base_path, idx)
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("overwrite").parquet(f"{stage}/b{i}")
            part = sorted(_glob.glob(f"{stage}/b{i}/part-*.parquet"))[0]
            dst = _os.path.join(src, f"{i:02d}.parquet")
            _shutil.copy(part, dst)
            _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        _await_stream(start(stream, idx, out, ckpt, available_now=True))
        admitted = (
            spark.read.parquet(f"{out}/data")
            .select(
                "doc_id",
                F.col("__batch").cast("long").alias("admitted_in_batch"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        for d_ in dirs:
            _shutil.rmtree(d_, ignore_errors=True)
    return admitted.orderBy("doc_id")


def q197_keyframe_dedup(spark, sf):
    """Video KEYFRAME dedup — the composition a video training
    pipeline runs to kill re-uploaded clips: clips (every 10th doc
    also arrives as an exact re-upload under a new id) → sampled
    frames (q195's decoder seam) → scene keyframes only
    (``frame_scene_report``; non-keyframes never reach the join) →
    cross-clip perceptual match over keyframe fingerprints
    (``phash_neardup`` band join; on these 64-byte rasters all four
    bands coincide, so Hamming≤3 degenerates to exact fingerprint
    equality — including the deterministic 16-bit birthday collisions
    the oracle replays equally) → per-clip census: keyframes, how
    many are duplicates of a SMALLER clip's keyframes, and the
    clip-level verdict (every keyframe matched ⇒ re-upload). Scale:
    only keyframes (a fraction of frames) enter the band self-join;
    the census is one clip-keyed aggregate."""
    from data_lake_project_spark.multimodal.av import (
        frame_scene_report,
        make_fake_frame_decoder,
        sample_frames,
    )
    from data_lake_project_spark.multimodal.phash import phash_neardup

    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    base = d.select(
        "doc_id", F.encode(ascii_txt, "UTF-8").alias("content")
    ).filter(F.length("content") > 0)
    reup = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "content"
    )
    clips = base.unionByName(reup).select(
        F.col("doc_id").cast("string").alias("path"), "content"
    )
    frames = sample_frames(
        clips, every_ms=1024, decoder=make_fake_frame_decoder()
    )
    rep = frame_scene_report(
        frames, path_col="path", frame_col="frame", threshold=8
    )
    # keyframe ids pack (clip, frame) — frame < 16 by the decoder's
    # 8-frame cap, so id order == (clip, frame) lexicographic order
    # and phash_neardup's id_a < id_b convention makes id_b the
    # later-clip side. Checkpoint: the band self-join reads both
    # sides, and the census reads it again.
    keys = (
        rep.filter("is_scene_change")
        .select(
            (F.col("path").cast("long") * 16 + F.col("frame")).alias(
                "kf_id"
            ),
            F.col("path").cast("long").alias("clip_id"),
            "pband0",
            "pband1",
            "pband2",
            "pband3",
        )
        .localCheckpoint(eager=True)
    )
    pairs = phash_neardup(keys, id_col="kf_id", max_hamming=3)
    clip_of_a = keys.select(
        F.col("kf_id").alias("id_a"), F.col("clip_id").alias("clip_a")
    )
    clip_of_b = keys.select(
        F.col("kf_id").alias("id_b"), F.col("clip_id").alias("clip_b")
    )
    dup_kf = (
        pairs.join(clip_of_a, "id_a")
        .join(clip_of_b, "id_b")
        .filter(F.col("clip_a") != F.col("clip_b"))
        .select(F.col("id_b").alias("kf_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        keys.join(dup_kf, "kf_id", "left")
        .groupBy(F.col("clip_id").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_keyframes"),
            F.count("__dup").cast("long").alias("n_dup_keyframes"),
            (F.count("__dup") == F.count("*")).alias("is_dup_clip"),
        )
        .orderBy("doc_id")
    )


def q198_crossmodal_dedup(spark, sf):
    """CROSS-MODAL pair dedup — the LAION-style family formation a
    multimodal corpus needs: a (caption, image) record is a duplicate
    if EITHER side matches, so the family graph is the UNION of two
    modality-specific matchers — perceptual raster pairs
    (``phash_neardup``: image twins under a +1 brightness re-encode
    carry IDENTICAL fingerprints but their shifted text has no
    whitespace left, so the text lane can't see them) and verified
    Jaccard text pairs (the q26 shingle→minhash→band→verify ladder:
    text twins append four tokens, keeping shingle overlap high while
    shifting the raster's sample grid so the image lane misses them)
    — promoted to families by connected components over the merged
    edge set. Hub-shaped (twin stars), so the 1-round label default
    wins (SCALE.md round-12 measurement). The oracle rebuilds BOTH
    matchers over the identical population and closes the union graph
    with a recursive CTE. Scale: both lanes are banded (never
    all-pairs), the union is edge-sized, components run over the pair
    graph only."""
    pop, edges = _crossmodal_pop_and_edges(spark, sf)
    return (
        # require_converged: a chain of near-dup collisions deeper
        # than max_iter must fail loudly, never emit split families
        # (round-12 advice)
        D.connected_components(edges, require_converged=True)
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "cluster_id",
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def _crossmodal_pop_and_edges(spark, sf):
    """The shared q198/q199 front half: the (caption, image) population
    (originals + brightness-shifted image twins + token-appended text
    twins) and the UNION match graph over both banded matchers."""
    from data_lake_project_spark.multimodal.phash import (
        _BAND_COLS,
        ahash64,
        phash_neardup,
    )

    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    orig = d.select("doc_id", ascii_txt.alias("text")).filter(
        F.length("text") > 0
    )
    img_twin = orig.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.translate("text", _PRINTABLE, _SHIFTED).alias("text"),
    )
    txt_twin = orig.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx ww")).alias("text"),
    )
    # both lanes scan the population; one eager narrow cut
    pop = (
        orig.unionByName(img_twin)
        .unionByName(txt_twin)
        .localCheckpoint(eager=True)
    )
    fp = ahash64(
        pop.select("doc_id", F.encode("text", "UTF-8").alias("image"))
    ).select("doc_id", *_BAND_COLS)
    pairs_img = phash_neardup(fp, id_col="doc_id", max_hamming=3).select(
        "id_a", "id_b"
    )
    pairs_txt = D.minhash_neardup_pairs(pop).select("id_a", "id_b")
    edges = pairs_img.unionByName(pairs_txt).distinct()
    return pop, edges


def q199_crossmodal_survivors(spark, sf):
    """The cross-modal family graph APPLIED — the production step a
    LAION-style pipeline actually ships (round-12 verdict #4): q198
    stops at family formation; q199 composes it with q86's
    keep-one-per-family materialization
    (``dedup.keep_cluster_representatives``). Within each union-graph
    family keep the LONGEST member (a multimodal corpus keeps the
    highest-information variant; here the token-appended text twin
    outranks its base — deterministic tie-break on lowest doc_id),
    drop the rest; records that matched nothing pass through with
    family_size 1. Plan shape: components + rank windows run over the
    PAIR GRAPH only (a vanishing fraction of the corpus); the corpus
    itself is touched by exactly ONE anti-join against the dropped-id
    set. require_converged: a deeper-than-bound collision chain fails
    loudly instead of emitting survivors from split families."""
    pop, edges = _crossmodal_pop_and_edges(spark, sf)
    kept = D.keep_cluster_representatives(
        pop,
        edges,
        order_cols=[
            F.length("text").desc(),
            F.col("doc_id").asc(),
        ],
        require_converged=True,
    )
    return kept.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.col("family_size").cast("long").alias("family_size"),
    ).orderBy("doc_id")


def _keyframes(spark, root: str):
    """The AV keyframes table under ``root``: a 16-bucket parquet
    ``KeyedTable`` on clip_id."""
    from data_lake_project_spark.sources import KeyedTable

    return KeyedTable(
        spark, f"{root}/keyframes", "clip_id", 16, table_format="parquet"
    )


def _write_av_artifacts(clips, root: str) -> None:
    """The persisted AV pair of q200/q168 under ``root``, both keyed by
    clip_id: per-clip scene keyframes in a ``KeyedTable``
    (:func:`_keyframes`), so an erase scans and rewrites only the
    buckets the request's clip ids hash to, and audio feature rows
    (plain). ``clips``: (path = clip id as string, content)."""
    from data_lake_project_spark.multimodal import av as _av

    rep = _av.frame_scene_report(
        _av.sample_frames(
            clips, every_ms=1024, decoder=_av.make_fake_frame_decoder()
        ),
        path_col="path",
        frame_col="frame",
        threshold=8,
    )
    keyframes = rep.filter("is_scene_change").select(
        F.col("path").cast("long").alias("clip_id"),
        "frame",
        "pband0",
        "pband1",
        "pband2",
        "pband3",
    )
    _keyframes(clips.sparkSession, root).append(keyframes)
    _av.audio_features(clips).select(
        F.col("path").cast("long").alias("clip_id"),
        "duration_ms",
        "features",
    ).write.parquet(f"{root}/audio")


def _erase_av_artifacts(spark, root: str, clip_ids) -> None:
    """Erase ``clip_ids`` from both AV tables under ``root``."""
    from data_lake_project_spark.operators.erasure import _erase_rows

    _keyframes(spark, root).erase(clip_ids)
    _erase_rows(spark, f"{root}/audio", "clip_id", clip_ids)


def q200_av_erasure_report(spark, sf):
    """GDPR erasure for the AV modality (round-12 verdict #5): q195's
    keyframe fingerprints and q196's audio features become PERSISTED
    artifacts (q195-q197 built them per-call) with erase-by-clip-id
    legs — the q168 lifecycle discipline extended to the last two
    modalities. Base artifacts are published once per corpus content
    fingerprint; each call erases a fixed deletion request (clips
    with ``doc_id % 9 == 4`` — the SQL-expressible modular predicate,
    q168 convention) from a per-call mutable copy and reports per
    lane: rows before/after, clips after, and an integer content
    checksum over the REMAINING rows (keyframes: band sums + frame
    ids; audio: duration + quantized lead mel) — so the oracle's
    rebuild-on-remaining re-derivation checks erase == never-ingested
    by VALUE, not just by count. Scale shape: the keyframe lane is
    a 16-bucket ``KeyedTable`` on clip_id, erased bucket-scoped (the
    touched buckets derive from the request ids — only they are read
    and rewritten); the audio lane is the plain
    anti-join rewrite. Temp dirs are cleaned before returning (q194
    hygiene rule); the report rides an eager localCheckpoint."""
    import shutil as _shutil
    import tempfile as _tempfile

    def _build(tmp):
        d = load_table(spark, sf, "documents")
        ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
        clips = d.select(
            F.col("doc_id").cast("string").alias("path"),
            F.encode(ascii_txt, "UTF-8").alias("content"),
        ).filter(F.length("content") > 0)
        _write_av_artifacts(clips, tmp)

    base_path = _published_lane(spark, sf, ["documents"], "av_art2", _build)
    work = _tempfile.mkdtemp(prefix="spark_graft_q200_work_")
    try:
        _shutil.rmtree(work)
        _shutil.copytree(base_path, work)
        before = {
            "keyframes": _keyframes(spark, work).read().count(),
            "audio": spark.read.parquet(f"{work}/audio").count(),
        }
        d = load_table(spark, sf, "documents")
        req = (
            d.filter(F.col("doc_id") % 9 == 4)
            .select(F.col("doc_id").alias("clip_id"))
            .localCheckpoint(eager=True)
        )
        _erase_av_artifacts(spark, work, req)
        kf = _keyframes(spark, work).read()
        au = spark.read.parquet(f"{work}/audio")
        kf_row = kf.agg(
            F.lit("keyframes").alias("lane"),
            F.lit(before["keyframes"]).cast("long").alias("rows_before"),
            F.count("*").cast("long").alias("rows_after"),
            F.countDistinct("clip_id").cast("long").alias("clips_after"),
            F.sum(
                F.col("pband0")
                + F.col("pband1")
                + F.col("pband2")
                + F.col("pband3")
                + F.col("frame")
            )
            .cast("long")
            .alias("checksum_after"),
        )
        au_row = au.agg(
            F.lit("audio").alias("lane"),
            F.lit(before["audio"]).cast("long").alias("rows_before"),
            F.count("*").cast("long").alias("rows_after"),
            F.countDistinct("clip_id").cast("long").alias("clips_after"),
            F.sum(
                F.col("duration_ms")
                + F.floor(F.element_at("features", 1) * F.lit(1000.0))
            )
            .cast("long")
            .alias("checksum_after"),
        )
        out = kf_row.unionByName(au_row).localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(work, ignore_errors=True)
    return out.orderBy("lane")


def q196_audio_neardup(spark, sf):
    """The audio modality's first oracle-checked query — the lane's
    whole path for real: blobs → ``av.audio_features`` (Arrow-batched
    mapInPandas through the pluggable extractor seam; the
    deterministic fake extractor's md5 arithmetic is replayed by the
    oracle to the last rounded decimal) → blocked cosine near-dup
    (``dedup.embedding_neardup``, the q28 production Arrow lane).
    Documents stand in as audio blobs; every fifth doc also arrives
    as a LOSSLESS RE-ENCODE (same bytes, new id — the duplicate class
    a hash-based feature extractor can see: identical features,
    cosine exactly 1). Blocking is what a real audio pipeline would
    key on — (duration_ms, quantized lead mel) — ~20k bins, so block
    self-joins stay tiny while exact re-encodes can never escape
    their block (identical features → identical key). Threshold
    0.999 admits re-encode pairs and whatever rare random pair the
    oracle equally replays."""
    from data_lake_project_spark.multimodal.av import audio_features

    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    base = d.select(
        "doc_id", F.encode(ascii_txt, "UTF-8").alias("content")
    ).filter(F.length("content") > 0)
    reenc = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "content"
    )
    auds = base.unionByName(reenc).select(
        F.col("doc_id").cast("string").alias("path"), "content"
    )
    feats = audio_features(auds)
    # extract once (the self-join would re-run the Python extractor
    # per side), serve the narrow projection
    emb = feats.select(
        F.col("path").cast("long").alias("vec_id"),
        F.concat_ws(
            ":",
            F.col("duration_ms").cast("string"),
            F.floor(F.element_at("features", 1) * F.lit(1000.0))
            .cast("long")
            .cast("string"),
        ).alias("block"),
        F.col("features").alias("embedding"),
    ).localCheckpoint(eager=True)
    # impl='expr', NOT the q28 arrow default: this blocking yields
    # MANY TINY blocks (~4.4k blocks of ~1.4 rows at sf0.1), where
    # applyInPandas pays its per-group Arrow/pandas fixture cost
    # thousands of times for a handful of pairs each — measured 8.2 s
    # arrow vs 0.46 s expr on the identical checkpointed input. The
    # arrow lane's BLAS matmul wins in q28's few-large-blocks regime;
    # block shape picks the lane.
    return D.embedding_neardup(
        emb,
        block_col="block",
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.999,
        impl="expr",
    ).orderBy("id_a", "id_b")


def q195_video_scene_ladder(spark, sf):
    """The video lane run END-TO-END as an oracle-checked query — the
    full ladder ``clips → sample_frames (mapInPandas UDTF through the
    pluggable decoder seam, ``av.py``) → frame_scene_report (ahash64
    fingerprint + clip-keyed lag window) → per-clip scene census``.
    Documents stand in as clips (ascii raster = the 'video' blob);
    the deterministic fake decoder IS the decoder under test: its
    whole arithmetic (md5-derived duration, per-frame md5 rasters at
    every_ms spacing) is replayed by the DuckDB oracle, so a dropped
    frame, a wrong timestamp pack, a fingerprint bit, or a lag-window
    slip all hash-mismatch. ``every_ms=1024`` keeps every packed
    little-endian timestamp byte below 0x80 (ts = 1024*i → bytes
    [0, 4*i, 0...]), which is what makes the md5 chain expressible as
    VARCHAR concatenation on the oracle side. Output per clip:
    frame count, scene count, total adjacent-frame Hamming, and the
    keyframe id list a downstream sampler would keep. Scale: the
    decode is a map-only pass (one blob never leaves its partition),
    the only shuffle is the clip-keyed window + the same-keyed
    aggregate."""
    from data_lake_project_spark.multimodal.av import (
        frame_scene_report,
        make_fake_frame_decoder,
        sample_frames,
    )

    d = load_table(spark, sf, "documents")
    ascii_txt = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    clips = d.select(
        F.col("doc_id").cast("string").alias("path"),
        F.encode(ascii_txt, "UTF-8").alias("content"),
    ).filter(F.length("content") > 0)
    frames = sample_frames(
        clips, every_ms=1024, decoder=make_fake_frame_decoder()
    )
    rep = frame_scene_report(
        frames, path_col="path", frame_col="frame", threshold=8
    )
    return (
        rep.groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.sum(F.col("is_scene_change").cast("long")).alias("n_scenes"),
            F.coalesce(F.sum("hamming_prev"), F.lit(0))
            .cast("long")
            .alias("hamming_total"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_scene_change"), F.col("frame"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("keyframes"),
        )
        .select(
            F.col("path").cast("long").alias("doc_id"),
            "n_frames",
            "n_scenes",
            "hamming_total",
            "keyframes",
        )
        .orderBy("doc_id")
    )


def q201_stream_text_ingest_fold(spark, sf):
    """The TEXT ingest loop CLOSED (q194's protocol on the shingle/
    minhash lane — text crawl is the highest-volume ingest a
    training-data pipeline runs, and the reference's at-least-once
    delivery window, ``spark_stream.py:217-224``, is exactly what the
    loop's exactly-once markers fix): gate AND fold per micro-batch
    (``operators/dedup_index.stream_ingest_with_text_gate``) — where
    q136 serves one batch against a STATIC index, the production
    crawl cycle admits each batch's survivors INTO the index before
    the next batch arrives, so batch N+1's near-duplicates of batch
    N's survivors are rejected BY THE FOLD. Two deterministic
    micro-batches (one file each, mtime-ordered + maxFilesPerTrigger
    = 1): batch 0 = docs with doc_id % 4 in (1, 2); batch 1 = docs
    with doc_id % 4 == 3 plus append-one-token twins (text || ' dup',
    id + 1000000) of every doc_id % 3 == 0 doc. The index starts from
    the doc_id % 4 == 0 docs (copied fresh per call — the loop
    MUTATES it). A twin whose base is doc_id % 12 in (6, 9) (base
    rode batch 0) is the order-dependent case; twins of doc_id % 12
    == 3 bases ride batch 1 TOGETHER with their originals — the
    intra-batch crawl-burst case (``self_dedup=True`` keep-lowest-id
    rule). Match = shared minhash band + exact shingle Jaccard >=
    0.5, identical to the q102/q136 gate; the oracle replays the
    sequential admission with the same in-batch rule. Temp dirs are
    deleted before returning; the result rides an eager
    localCheckpoint (q194 hygiene)."""
    from data_lake_project_spark.operators.dedup_index import (
        build_dedup_index,
        save_dedup_index,
        stream_ingest_with_text_gate,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" dup")).alias("text"),
    )
    base = _published_lane(
        spark,
        sf,
        ["documents"],
        "dedup_base",
        lambda tmp: save_dedup_index(
            build_dedup_index(docs.filter(F.col("doc_id") % 4 == 0)), tmp
        ),
    )
    return _drain_ingest_stream(
        spark,
        "q201",
        base,
        [
            docs.filter((F.col("doc_id") % 4).isin(1, 2)),
            docs.filter(F.col("doc_id") % 4 == 3).unionByName(twins),
        ],
        "doc_id long, text string",
        stream_ingest_with_text_gate,
    )


# ---------------------------------------------------------------------------
# Registry + oracles
# ---------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    "q01_scan_project": q01_scan_project,
    "q02_json_extract": q02_json_extract,
    "q03_contains_filter": q03_contains_filter,
    "q04_equi_join": q04_equi_join,
    "q05_multiway_join_agg": q05_multiway_join_agg,
    "q06_anti_join": q06_anti_join,
    "q06b_semi_join": q06b_semi_join,
    "q07_asof_join": q07_asof_join,
    "q08_groupby_agg": q08_groupby_agg,
    "q09_count_distinct": q09_count_distinct,
    "q10_rollup": q10_rollup,
    "q11_window_rank": q11_window_rank,
    "q12_window_frame": q12_window_frame,
    "q13_lag_delta": q13_lag_delta,
    "q14_topk": q14_topk,
    "q15_except": q15_except,
    "q15b_intersect": q15b_intersect,
    "q16_string_fns": q16_string_fns,
    "q17_date_fns": q17_date_fns,
    "q18_math_fns": q18_math_fns,
    "q19_array_fns": q19_array_fns,
    "q20_argmin": q20_argmin,
    "q21_dedup_exact": q21_dedup_exact,
    "q22_similarity_topk": q22_similarity_topk,
    "q23_text_stats": q23_text_stats,
    "q24_interval_join": q24_interval_join,
    "q25_minhash_candidates": q25_minhash_candidates,
    "q26_jaccard_neardup": q26_jaccard_neardup,
    "q27_simhash": q27_simhash,
    "q28_embedding_neardup": q28_embedding_neardup,
    "q28b_embedding_neardup_expr": q28b_embedding_neardup_expr,
    "q29_language_id": q29_language_id,
    "q30_quality_score": q30_quality_score,
    "q31_fingerprint": q31_fingerprint,
    "q32_approx_distinct": q32_approx_distinct,
    "q33_lsh_topk": q33_lsh_topk,
    "q34_textfacts": q34_textfacts,
    "q35_deplot_parse": q35_deplot_parse,
    "q36_keyword_scan": q36_keyword_scan,
    "q37_ivf_topk": q37_ivf_topk,
    "q129_pq_topk": q129_pq_topk,
    "q133_ivfpq_topk": q133_ivfpq_topk,
    "q38_language_id_ngram": q38_language_id_ngram,
    "q39_sentence_facts": q39_sentence_facts,
    "q40_term_frequency": q40_term_frequency,
    "q41_hash_split": q41_hash_split,
    "q42_time_bucket": q42_time_bucket,
    "q43_sessionize": q43_sessionize,
    "q44_top_supplier_per_nation": q44_top_supplier_per_nation,
    "q45_tfidf_topterms": q45_tfidf_topterms,
    "q46_stratified_sample": q46_stratified_sample,
    "q47_normalized_dedup": q47_normalized_dedup,
    "q48_source_quota": q48_source_quota,
    "q49_decontaminate": q49_decontaminate,
    "q50_pack_sequences": q50_pack_sequences,
    "q51_dedup_clusters": q51_dedup_clusters,
    "q52_repetition": q52_repetition,
    "q53_redact_pii": q53_redact_pii,
    "q54_length_quantiles": q54_length_quantiles,
    "q55_inverted_index": q55_inverted_index,
    "q56_asof_tolerance": q56_asof_tolerance,
    "q57_cube": q57_cube,
    "q58_pivot": q58_pivot,
    "q59_integrity_checks": q59_integrity_checks,
    "q60_histogram": q60_histogram,
    "q61_exists_subquery": q61_exists_subquery,
    "q62_scalar_subquery": q62_scalar_subquery,
    "q63_grouped_median": q63_grouped_median,
    "q64_distribution_windows": q64_distribution_windows,
    "q65_grouping_sets": q65_grouping_sets,
    "q66_range_join": q66_range_join,
    "q67_scd2": q67_scd2,
    "q68_rolling_range_window": q68_rolling_range_window,
    "q69_funnel": q69_funnel,
    "q70_retention": q70_retention,
    "q71_boilerplate_scrub": q71_boilerplate_scrub,
    "q72_winsorize": q72_winsorize,
    "q73_salted_join_agg": q73_salted_join_agg,
    "q74_top_bigrams": q74_top_bigrams,
    "q75_full_outer_join": q75_full_outer_join,
    "q79_curation_pipeline": q79_curation_pipeline,
    "q80_heavy_hitters_exact": q80_heavy_hitters_exact,
    "q81_line_dedup": q81_line_dedup,
    "q82_contamination_score": q82_contamination_score,
    "q83_temperature_mix": q83_temperature_mix,
    "q84_url_dedup": q84_url_dedup,
    "q85_token_budget_quota": q85_token_budget_quota,
    "q86_dedup_corpus": q86_dedup_corpus,
    "q87_fuzzy_match": q87_fuzzy_match,
    "q88_kmeans_clusters": q88_kmeans_clusters,
    "q89_dup_spans": q89_dup_spans,
    "q90_rare_tokens": q90_rare_tokens,
    "q91_groupwise_regression": q91_groupwise_regression,
    "q92_prefix_filter_join": q92_prefix_filter_join,
    "q93_snapshot_diff": q93_snapshot_diff,
    "q94_ngram_lm_score": q94_ngram_lm_score,
    "q95_pareto_frontier": q95_pareto_frontier,
    "q96_ewma_anomaly": q96_ewma_anomaly,
    "q97_chunk_documents": q97_chunk_documents,
    "q98_sorted_neighborhood": q98_sorted_neighborhood,
    "q99_pagerank": q99_pagerank,
    "q100_json_schema_infer": q100_json_schema_infer,
    "q101_bloom_decontaminate": q101_bloom_decontaminate,
    "q102_dedup_against": q102_dedup_against,
    "q103_cdc_apply": q103_cdc_apply,
    "q104_zorder_layout": q104_zorder_layout,
    "q105_robust_outliers": q105_robust_outliers,
    "q106_skew_report": q106_skew_report,
    "q107_max_concurrency": q107_max_concurrency,
    "q108_count_min": q108_count_min,
    "q109_categorical_drift": q109_categorical_drift,
    "q110_ks_drift": q110_ks_drift,
    "q111_triangles": q111_triangles,
    "q112_markov_transitions": q112_markov_transitions,
    "q113_attribution": q113_attribution,
    "q114_forward_fill": q114_forward_fill,
    "q115_autocorrelation": q115_autocorrelation,
    "q116_cusum_changepoint": q116_cusum_changepoint,
    "q117_unpivot_profile": q117_unpivot_profile,
    "q118_correlation_matrix": q118_correlation_matrix,
    "q119_systematic_sample": q119_systematic_sample,
    "q120_ivm_apply": q120_ivm_apply,
    "q121_pii_report": q121_pii_report,
    "q122_snapshot_novelty": q122_snapshot_novelty,
    "q123_radius_join": q123_radius_join,
    "q124_session_paths": q124_session_paths,
    "q125_rolling_active_users": q125_rolling_active_users,
    "q126_benford": q126_benford,
    "q127_conversion_lag": q127_conversion_lag,
    "q128_equidepth_hist": q128_equidepth_hist,
    "q130_source_overlap": q130_source_overlap,
    "q132_expectations": q132_expectations,
    "q134_new_vs_returning": q134_new_vs_returning,
    "q135_dup_source_mix": q135_dup_source_mix,
    "q136_dedup_index_gate": q136_dedup_index_gate,
    "q137_ann_index_search": q137_ann_index_search,
    "q138_bpe_vocab": q138_bpe_vocab,
    "q139_semantic_dedup": q139_semantic_dedup,
    "q140_bpe_tokenize": q140_bpe_tokenize,
    "q141_ingest_pipeline": q141_ingest_pipeline,
    "q142_chunk_retrieval": q142_chunk_retrieval,
    "q143_ann_chunk_retrieval": q143_ann_chunk_retrieval,
    "q144_bm25_retrieval": q144_bm25_retrieval,
    "q145_hybrid_retrieval": q145_hybrid_retrieval,
    "q146_bpe_compression": q146_bpe_compression,
    "q147_importance_weights": q147_importance_weights,
    "q148_lsh_quality_report": q148_lsh_quality_report,
    "q149_tokenizer_fertility": q149_tokenizer_fertility,
    "q150_bm25_index_search": q150_bm25_index_search,
    "q151_hll_rollup": q151_hll_rollup,
    "q152_theta_overlap": q152_theta_overlap,
    "q153_kll_quantile_rollup": q153_kll_quantile_rollup,
    "q154_compaction_plan": q154_compaction_plan,
    "q155_int8_topk": q155_int8_topk,
    "q156_vocab_growth": q156_vocab_growth,
    "q157_sq_index_search": q157_sq_index_search,
    "q158_sketch_cube": q158_sketch_cube,
    "q159_basket_lift": q159_basket_lift,
    "q160_golden_record": q160_golden_record,
    "q161_ab_test": q161_ab_test,
    "q162_cohort_ltv": q162_cohort_ltv,
    "q131_cluster_safe_split": q131_cluster_safe_split,
    "q76_column_profile": q76_column_profile,
    "q77_label_centroids": q77_label_centroids,
    "q78_resample_zero_fill": q78_resample_zero_fill,
    "q163_ivf_recall_report": q163_ivf_recall_report,
    "q164_pq_recall_report": q164_pq_recall_report,
    "q165_ivfpq_recall_report": q165_ivfpq_recall_report,
    "q166_lsh_recall_report": q166_lsh_recall_report,
    "q167_hll_tolerance_report": q167_hll_tolerance_report,
    "q168_gdpr_erasure_report": q168_gdpr_erasure_report,
    "q169_kll_tolerance_report": q169_kll_tolerance_report,
    "q170_ann_index_injected_search": q170_ann_index_injected_search,
    "q171_kmeans_assign_report": q171_kmeans_assign_report,
    "q172_semantic_dedup_report": q172_semantic_dedup_report,
    "q173_chunk_index_recall_report": q173_chunk_index_recall_report,
    "q174_bpe_merge_trace": q174_bpe_merge_trace,
    "q175_stream_interval_join_report": q175_stream_interval_join_report,
    "q176_retrieval_quality_report": q176_retrieval_quality_report,
    "q177_stream_funnel_report": q177_stream_funnel_report,
    "q178_hard_negative_mining": q178_hard_negative_mining,
    "q179_k_anonymity_report": q179_k_anonymity_report,
    "q180_mutual_knn_graph": q180_mutual_knn_graph,
    "q181_quality_calibration": q181_quality_calibration,
    "q182_stream_window_report": q182_stream_window_report,
    "q183_knn_graph_recall_report": q183_knn_graph_recall_report,
    "q184_curation_waterfall": q184_curation_waterfall,
    "q185_stream_dedup_report": q185_stream_dedup_report,
    "q186_cdc_chunks": q186_cdc_chunks,
    "q187_knn_index_maintained": q187_knn_index_maintained,
    "q188_knn_index_erased": q188_knn_index_erased,
    "q189_phash_neardup": q189_phash_neardup,
    "q190_phash_survivors": q190_phash_survivors,
    "q191_phash_index_gate": q191_phash_index_gate,
    "q192_stream_phash_gate": q192_stream_phash_gate,
    "q193_perceptual_waterfall": q193_perceptual_waterfall,
    "q194_stream_phash_ingest_fold": q194_stream_phash_ingest_fold,
    "q195_video_scene_ladder": q195_video_scene_ladder,
    "q196_audio_neardup": q196_audio_neardup,
    "q197_keyframe_dedup": q197_keyframe_dedup,
    "q198_crossmodal_dedup": q198_crossmodal_dedup,
    "q199_crossmodal_survivors": q199_crossmodal_survivors,
    "q200_av_erasure_report": q200_av_erasure_report,
    "q201_stream_text_ingest_fold": q201_stream_text_ingest_fold,
}

# Oracle fragments (the module docstring's rule): each is written once,
# here or next to its first user below, so a fix to a replayed
# algorithm reaches every oracle that composes it.

# q07/q56: each order's latest event at or before it (as-of rank 1).
_ASOF_RANKED = """ranked AS (
            SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, e.ts, e.event_type,
                   row_number() OVER (
                       PARTITION BY o.o_orderkey
                       ORDER BY e.ts DESC NULLS LAST, e.event_id DESC NULLS LAST
                   ) AS rn
            FROM orders o
            LEFT JOIN events e
              ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
        )"""


# q97/q142/q173: the 32-token windows at stride 24 over each doc's
# non-empty tokens, ``g(doc_id, toks, chunk_id)``.
_CHUNK_CTES = """t AS (
        SELECT doc_id,
               list_filter(
                   regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '') AS toks
        FROM documents
    ), c0 AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) <= 32 THEN 1
                    ELSE CAST(floor((len(toks) - 32 + 23) / 24)
                              AS BIGINT) + 1
               END AS nc
        FROM t
    ), g AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, nc - 1)) AS chunk_id
        FROM c0
    )"""


def _quality_ctes(src: str = "documents", carry: str = "") -> str:
    """t/s/r: the q30 quality inputs of every ``src`` row — char and
    token counts, punctuation and stopword ratios (pround-4), the
    length term. ``carry`` (``", col"``) rides along after doc_id."""
    return f"""t AS (
            SELECT doc_id{carry}, text,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM {src}
        ),
        s AS (
            SELECT doc_id{carry},
                   length(text) AS n_chars_m,
                   len(toks) AS n_tokens,
                   len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                   len(list_filter(list_transform(toks, x -> lower(x)),
                       x -> list_contains(
                           ['the','a','of','and','to','in','is',
                            'le','la','et','les','des','un','une',
                            'el','y','los','de','una',
                            'der','die','das','und','ein','zu','von',
                            'de5','shi4','le5','zai4','he2','you3','wo3'], x)))
                       AS n_stop
            FROM t
        ),
        r AS (
            SELECT doc_id{carry}, n_chars_m, n_tokens,
                   floor(n_punct / greatest(n_chars_m, 1)::DOUBLE * 10000.0 + 0.5)
                       / 10000.0 AS punct_ratio,
                   floor(n_stop / greatest(n_tokens, 1)::DOUBLE * 10000.0 + 0.5)
                       / 10000.0 AS stop_ratio,
                   least(n_tokens::DOUBLE / 100.0, 1.0) AS length_term
            FROM s
        )"""


# The q30 composite over an ``r`` row of _quality_ctes, pround-4.
_QUALITY = """floor((0.5 * length_term + 0.3 * (1.0 - punct_ratio)
                     + 0.2 * stop_ratio) * 10000.0 + 0.5) / 10000.0"""


def _textfacts_sql(src: str) -> str:
    """The q34 fact extractor over ``src(doc_id, text)``: positional
    tokens, value+unit tokens paired with the nearest following year,
    signed by the nearest preceding trend word within 25 tokens. Ends
    in the final SELECT."""
    return f"""toks AS (
            SELECT doc_id,
                   generate_subscripts(arr, 1) - 1 AS pos,
                   unnest(arr) AS tok
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
                  FROM {src})
        ),
        toks2 AS (
            SELECT *, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next_tok
            FROM toks
        ),
        vals AS (
            SELECT doc_id, pos AS v_pos,
                   tok || CASE WHEN coalesce(
                                   regexp_matches(next_tok, '^(?:%|\\$|bbl|dollars|millions)$'),
                                   false)
                               AND NOT regexp_matches(tok, '(?:%|\\$|bbl)$')
                          THEN ' ' || next_tok ELSE '' END AS value_text
            FROM toks2
            WHERE regexp_matches(tok, '^[0-9]+(?:[.,][0-9]+)?(?:%|\\$|bbl)?$')
              AND NOT regexp_matches(tok, '^(?:1[89][0-9]{{2}}|20[0-9]{{2}})$')
              AND (regexp_matches(tok, '(?:%|\\$|bbl)$')
                   OR coalesce(regexp_matches(next_tok, '^(?:%|\\$|bbl|dollars|millions)$'), false))
        ),
        years AS (
            SELECT doc_id, pos AS y_pos, tok AS year FROM toks
            WHERE regexp_matches(tok, '^(?:1[89][0-9]{{2}}|20[0-9]{{2}})$')
        ),
        paired AS (
            SELECT * FROM (
                SELECT v.doc_id, v.v_pos, v.value_text, y.year,
                       row_number() OVER (PARTITION BY v.doc_id, v.v_pos
                           ORDER BY y.y_pos - v.v_pos, y.y_pos) AS rn
                FROM vals v JOIN years y
                  ON v.doc_id = y.doc_id AND y.y_pos >= v.v_pos
            ) WHERE rn = 1
        ),
        sents AS (
            SELECT doc_id, pos AS s_pos,
                   CASE WHEN lower(tok) IN
                       ('hausse','augmentation','appreciation','excedent','accroissement')
                   THEN '+' ELSE '-' END AS sign
            FROM toks
            WHERE lower(tok) IN ('hausse','augmentation','appreciation',
                                 'excedent','accroissement',
                                 'baisse','diminution','deficit')
        ),
        signed AS (
            SELECT * FROM (
                SELECT p.doc_id, p.v_pos, p.value_text, p.year,
                       CASE WHEN s.s_pos < p.v_pos AND p.v_pos - s.s_pos <= 25
                            THEN s.sign END AS sign,
                       row_number() OVER (PARTITION BY p.doc_id, p.v_pos
                           ORDER BY CASE WHEN s.s_pos < p.v_pos
                                          AND p.v_pos - s.s_pos <= 25
                                     THEN p.v_pos - s.s_pos
                                     ELSE 1000000 END) AS srn
                FROM paired p LEFT JOIN sents s ON p.doc_id = s.doc_id
            ) WHERE srn = 1
        )
        SELECT doc_id, year,
               coalesce(sign, '') || value_text AS signed_value,
               CAST(v_pos AS BIGINT) AS v_pos
        FROM signed ORDER BY doc_id, v_pos"""


def _shingle_ctes(src: str = "documents", carry: str = "") -> str:
    """d/sh0/sh: the DISTINCT word 3-shingles of every ``src`` doc (a
    doc under 3 tokens is one shingle). ``carry`` (``", col"``) rides
    along after doc_id."""
    return f"""
    d AS (
        SELECT doc_id{carry}, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM {src}
    ),
    sh0 AS (
        SELECT doc_id{carry},
               unnest(CASE WHEN len(toks) >= 3
                      THEN list_transform(range(len(toks) - 2),
                           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                      ELSE [array_to_string(toks, ' ')] END) AS shingle
        FROM d
    ),
    sh AS (SELECT DISTINCT doc_id{carry}, shingle FROM sh0 WHERE shingle <> '')"""


def _minhash_ctes(src: str = "documents") -> str:
    """_shingle_ctes + sig/band/cand: 8 md5 minhashes per doc, 4 bands
    of 2, and the symmetric (id_a < id_b) shared-band candidates."""
    return (
        _shingle_ctes(src)
        + """,
    sig AS (
        SELECT s.doc_id, hs.h,
               min(substr(md5((hs.h // CAST(4 AS BIGINT))::VARCHAR || ':' || s.shingle),
                          (1 + 8 * (hs.h % 4))::INT, 8)) AS mh
        FROM sh s, (SELECT unnest(range(8)) AS h) hs
        GROUP BY s.doc_id, hs.h
    ),
    band AS (
        SELECT doc_id, (h // 2)::BIGINT AS band,
               string_agg(mh, '|' ORDER BY h) AS bandsig
        FROM sig GROUP BY doc_id, (h // 2)::BIGINT
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band a JOIN band b
          ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id
    )
"""
    )


def _jaccard_ok(x: str, y: str) -> str:
    """Exact shingle-set Jaccard of the ``sets`` rows ``x``, ``y`` >= 0.5."""
    return f"""len(list_intersect({x}.shs, {y}.shs))::DOUBLE
              / (len({x}.shs) + len({y}.shs)
                 - len(list_intersect({x}.shs, {y}.shs)))::DOUBLE >= 0.5"""


# Each doc's sorted shingle set (needs ``sh``).
_SETS_CTE = """sets AS (
        SELECT doc_id, list_sort(list(DISTINCT shingle)) AS shs
        FROM sh GROUP BY doc_id
    )"""

# The MinHash ladder's verify: candidates whose exact Jaccard passes.
_VERIFIED_CTE = f"""{_SETS_CTE},
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sets a ON a.doc_id = c.id_a
        JOIN sets b ON b.doc_id = c.id_b
        WHERE {_jaccard_ok("a", "b")}
    )"""

# q102/q141 gate: batch docs (doc_id % 5 = 0) with a verified near-dup
# in the corpus (the rest), as ``dup(bid)``.
_GATE_DUP_CTE = f"""{_SETS_CTE},
    cand2 AS (
        SELECT DISTINCT b.doc_id AS bid, a.doc_id AS cid
        FROM band b JOIN band a
          ON a.band = b.band AND a.bandsig = b.bandsig
        WHERE b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
    ),
    dup AS (
        SELECT DISTINCT c.bid FROM cand2 c
        JOIN sets x ON x.doc_id = c.bid
        JOIN sets y ON y.doc_id = c.cid
        WHERE {_jaccard_ok("x", "y")}
    )"""


def _components_ctes(pairs: str) -> str:
    """edges/nodes/reach/comp: connected components of the undirected
    ``pairs(id_a, id_b)`` graph, each node labelled with the lowest id
    it reaches (``comp(id, cluster_id)``; needs WITH RECURSIVE)."""
    return f"""edges AS (
        SELECT id_a AS src, id_b AS dst FROM {pairs}
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM {pairs}
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)"""


# Every clustered node with its cluster and the cluster's size.
_CLUSTERS_SELECT = """
    SELECT id AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp ORDER BY doc_id
"""

ORACLE: dict[str, str] = {
    "q01_scan_project": """
        SELECT c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS acctbal_str
        FROM customer ORDER BY c_custkey
    """,
    "q02_json_extract": """
        SELECT event_id, json_extract_string(props, '$.k') AS k
        FROM events ORDER BY event_id
    """,
    "q03_contains_filter": """
        SELECT p_partkey, p_type FROM part
        WHERE lower(p_type) LIKE '%omo%' ORDER BY p_partkey
    """,
    "q04_equi_join": """
        SELECT n_name, r_name FROM nation
        JOIN region ON n_regionkey = r_regionkey ORDER BY n_name
    """,
    "q05_multiway_join_agg": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
               floor(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    "q06_anti_join": """
        SELECT count(*)::BIGINT AS n_no_orders FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "q06b_semi_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O')
        ORDER BY c_custkey
    """,
    "q07_asof_join": f"""
        WITH {_ASOF_RANKED}
        SELECT o_orderkey, o_custkey,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
               event_type
        FROM ranked WHERE rn = 1 ORDER BY o_orderkey
    """,
    "q08_groupby_agg": """
        SELECT l_returnflag, l_linestatus,
               floor(sum(CAST(l_quantity AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_qty,
               floor(sum(CAST(l_extendedprice AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_base,
               floor((sum(CAST(l_discount AS DECIMAL(27,6)))::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
               count(*)::BIGINT AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q09_count_distinct": """
        SELECT count(DISTINCT o_custkey)::BIGINT AS n_cust FROM orders
    """,
    "q10_rollup": """
        SELECT o_orderpriority, o_orderstatus,
               floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_price,
               GROUPING(o_orderpriority, o_orderstatus)::BIGINT AS gid
        FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    "q11_window_rank": """
        WITH w AS (
            SELECT o_custkey, o_orderkey, o_orderdate,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS rn,
                   rank() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rk
            FROM orders
        )
        SELECT o_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
               rn::BIGINT AS rn, rk::BIGINT AS rk
        FROM w WHERE rn <= 2 ORDER BY o_custkey, rn
    """,
    "q12_window_frame": """
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
               floor(sum(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100.0 + 0.5)
                   / 100.0 AS roll_sum
        FROM events ORDER BY user_id, event_id
    """,
    "q13_lag_delta": """
        SELECT user_id, event_id,
               floor((value - lag(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) * 100.0 + 0.5)
                   / 100.0 AS delta
        FROM events ORDER BY user_id, event_id
    """,
    "q14_topk": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
    """,
    "q15_except": """
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY o_custkey
    """,
    "q15b_intersect": """
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY o_custkey
    """,
    "q16_string_fns": """
        SELECT p_partkey,
               lower(trim(p_name)) AS name_lc,
               replace(p_name, ' ', '_') AS name_us,
               strpos(lower(p_name), 'a')::BIGINT AS a_pos,
               substring(lower(p_name), 1, 5) AS name5,
               split_part(p_name, ' ', 1) AS first_word,
               CAST(replace(replace(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR),
                            '.', ','), ',', '.') AS DOUBLE) AS price_parsed
        FROM part ORDER BY p_partkey
    """,
    "q17_date_fns": """
        SELECT o_orderkey,
               year(o_orderdate)::BIGINT AS o_year,
               month(o_orderdate)::BIGINT AS o_month,
               datediff('day', o_orderdate, l_shipdate)::BIGINT AS ship_days,
               strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS ship_month
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_linenumber = 1
        ORDER BY o_orderkey
    """,
    "q18_math_fns": """
        SELECT l_orderkey, l_linenumber,
               floor(greatest(l_extendedprice * (1 - l_discount),
                              l_extendedprice * 0.9) * 100.0 + 0.5) / 100.0 AS g_val,
               floor(least(l_extendedprice * (1 - l_discount),
                           l_extendedprice * 0.9) * 100.0 + 0.5) / 100.0 AS l_val,
               floor(abs(l_extendedprice - l_quantity * 1000.0) * 100.0 + 0.5)
                   / 100.0 AS abs_val
        FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    "q19_array_fns": """
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents WHERE doc_id < 200
        )
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               len(list_distinct(toks))::BIGINT AS n_distinct,
               list_sort(toks)[1] AS first_sorted,
               toks[len(toks)] AS last_tok
        FROM t ORDER BY doc_id
    """,
    "q20_argmin": """
        WITH r AS (
            SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY abs(value), event_id) AS rn
            FROM events
        )
        SELECT user_id, event_type AS min_event_type,
               floor(value * 100.0 + 0.5) / 100.0 AS min_value
        FROM r WHERE rn = 1 ORDER BY user_id
    """,
    "q21_dedup_exact": """
        WITH h AS (
            SELECT doc_id, md5(text) AS content_hash,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        )
        SELECT doc_id, content_hash FROM h WHERE rn = 1 ORDER BY doc_id
    """,
    "q22_similarity_topk": """
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, v,
                   sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ),
        p AS (
            SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n
            WHERE vec_id < 5
        ),
        s AS (
            SELECT p.probe_id, c.vec_id,
                   floor(list_sum(list_transform(range(len(c.v)),
                             i -> p.pv[i+1] * c.v[i+1])) / (p.pn * c.nrm)
                         * 10000.0 + 0.5) / 10000.0 AS cosine
            FROM p, n c WHERE c.vec_id <> p.probe_id
        ),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                                         ORDER BY cosine DESC, vec_id) AS rk
            FROM s
        )
        SELECT probe_id, vec_id, cosine FROM r WHERE rk <= 10
        ORDER BY probe_id, vec_id
    """,
    "q23_text_stats": """
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpeish,
               len(regexp_extract_all(text,
                   '[0-9]+(?:[.,][0-9]+)?\\s*(?:%|\\$|bbl|dollars|millions)'))::BIGINT
                   AS n_facts
        FROM documents ORDER BY doc_id
    """,
    "q24_interval_join": """
        WITH cells AS (
            SELECT (r // 10)::BIGINT AS cell_row, (r % 10)::BIGINT AS cell_col,
                   ((r % 10) * 10)::DOUBLE AS cx1, ((r // 10) * 10)::DOUBLE AS cy1,
                   ((r % 10) * 10 + 10)::DOUBLE AS cx2,
                   ((r // 10) * 10 + 10)::DOUBLE AS cy2
            FROM range(100) t(r)
        ),
        boxes AS (
            SELECT b::BIGINT AS box_id,
                   ((b * 7) % 93)::DOUBLE AS bx1, ((b * 13) % 89)::DOUBLE AS by1,
                   ((b * 7) % 93 + (b % 5) + 3)::DOUBLE AS bx2,
                   ((b * 13) % 89 + (b % 7) + 4)::DOUBLE AS by2,
                   'b' || b::VARCHAR AS btext
            FROM range(200) t(b)
        ),
        m AS (
            SELECT c.cell_row, c.cell_col, b.box_id, b.btext,
                   greatest(least(cx2, bx2) - greatest(cx1, bx1), 0)
                 * greatest(least(cy2, by2) - greatest(cy1, by1), 0) AS inter,
                   (cx2 - cx1) * (cy2 - cy1) AS ca,
                   (bx2 - bx1) * (by2 - by1) AS ba
            FROM cells c, boxes b
        )
        SELECT cell_row, cell_col,
               arg_min(btext, box_id) AS first_text,
               count(*)::BIGINT AS n_boxes
        FROM m WHERE inter / (ca + ba - inter) > 0.09
        GROUP BY cell_row, cell_col ORDER BY cell_row, cell_col
    """,
    "q25_minhash_candidates": f"""
        WITH {_minhash_ctes()}
        SELECT id_a, id_b FROM cand ORDER BY id_a, id_b
    """,
    "q26_jaccard_neardup": f"""
        WITH {_minhash_ctes()},
        sets AS (
            SELECT doc_id, list_sort(list(DISTINCT shingle)) AS shs
            FROM sh GROUP BY doc_id
        ),
        verified AS (
            SELECT c.id_a, c.id_b,
                   len(list_intersect(a.shs, b.shs))::DOUBLE
                   / (len(a.shs) + len(b.shs)
                      - len(list_intersect(a.shs, b.shs)))::DOUBLE AS j
            FROM cand c
            JOIN sets a ON a.doc_id = c.id_a
            JOIN sets b ON b.doc_id = c.id_b
        )
        SELECT id_a, id_b, floor(j * 1000.0 + 0.5) / 1000.0 AS jaccard FROM verified
        WHERE j >= 0.5 ORDER BY id_a, id_b
    """,
    "q27_simhash": """
        WITH tok AS (
            SELECT DISTINCT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ),
        t2 AS (
            SELECT doc_id, substr(md5(tok), 1, 4) AS hex4
            FROM tok WHERE tok <> ''
        ),
        pos AS (
            SELECT doc_id, hex4, ps.p
            FROM t2, (SELECT unnest(range(16)) AS p) ps
        ),
        bits AS (
            SELECT doc_id, p,
                   CASE WHEN (((strpos('0123456789abcdef',
                                       substr(hex4, (p // 4)::INT + 1, 1)) - 1)
                               // CAST(2 ** (p % 4) AS BIGINT)) % 2) = 1
                        THEN 1 ELSE -1 END AS vote
            FROM pos
        ),
        votes AS (
            SELECT doc_id, p, sum(vote) AS s FROM bits GROUP BY doc_id, p
        )
        SELECT doc_id,
               sum(CASE WHEN s > 0 THEN 2 ** p ELSE 0 END)::BIGINT AS simhash
        FROM votes GROUP BY doc_id ORDER BY doc_id
    """,
    "q28_embedding_neardup": """
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, label, v,
                   sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ),
        p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_sum(list_transform(range(len(a.v)),
                        i -> a.v[i+1] * b.v[i+1])) / (a.nrm * b.nrm) AS cos
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, floor(cos * 10000.0 + 0.5) / 10000.0 AS cosine FROM p
        WHERE cos >= 0.35 ORDER BY id_a, id_b
    """,
    "q29_language_id": """
        WITH t AS (
            SELECT doc_id,
                   list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                len(list_intersect(toks, ['the','a','of','and','to','in','is'])) AS s_en,
                len(list_intersect(toks, ['le','la','et','les','des','un','une'])) AS s_fr,
                len(list_intersect(toks, ['el','la','y','los','de','un','una'])) AS s_es,
                len(list_intersect(toks, ['der','die','das','und','ein','zu','von'])) AS s_de,
                len(list_intersect(toks, ['de5','shi4','le5','zai4','he2','you3','wo3'])) AS s_zh
            FROM t
        ),
        m AS (
            SELECT doc_id, s_en, s_fr, s_es, s_de, s_zh,
                   greatest(s_en, s_fr, s_es, s_de, s_zh) AS mx
            FROM s
        )
        SELECT doc_id,
               CASE WHEN s_en = mx THEN 'en'
                    WHEN s_fr = mx THEN 'fr'
                    WHEN s_es = mx THEN 'es'
                    WHEN s_de = mx THEN 'de'
                    ELSE 'zh' END AS pred_lang,
               mx::INT AS lid_score
        FROM m ORDER BY doc_id
    """,
    "q30_quality_score": f"""
        WITH {_quality_ctes()}
        SELECT doc_id, n_chars_m::BIGINT AS n_chars_m, n_tokens::BIGINT AS n_tokens,
               punct_ratio, stop_ratio,
               {_QUALITY} AS quality
        FROM r ORDER BY doc_id
    """,
    "q31_fingerprint": """
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents ORDER BY doc_id
    """,
    # q32_approx_distinct / q33_lsh_topk: intentionally no oracle
    # (approximate results; driver records rows-only check).
    "q34_textfacts": f"""
        WITH docs AS (
            SELECT doc_id, {FACTS_CORPUS_EXPR} AS text FROM documents
        ),
        {_textfacts_sql("docs")}
    """,
    "q35_deplot_parse": """
        SELECT r_regionkey AS chart_id,
               'Region ' || r_name AS title,
               'Valeur' AS series_label,
               n_name AS x,
               CAST(n_nationkey AS DOUBLE) + 0.5 AS value
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY chart_id, x
    """,
    "q38_language_id_ngram": """
        WITH d AS (
            SELECT doc_id,
                   lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                   CASE WHEN length(t) >= 3 THEN
                     list_distinct([substr(t, i, 3)
                        for i in generate_series(1, greatest(length(t) - 2, 1))])
                   ELSE [t] END AS grams
            FROM d
        ),
        scores AS (
            SELECT doc_id,
                   len(list_intersect(grams, ['the','ing','and','ion','ent','her','for','tha'])) AS s_en,
                   len(list_intersect(grams, ['les','ent','des','ion','que','eur','ait','our'])) AS s_fr,
                   len(list_intersect(grams, ['los','ent','ado','que','cio','con','sta','las'])) AS s_es,
                   len(list_intersect(grams, ['der','ein','ich','sch','und','die','che','ung'])) AS s_de
            FROM g
        ),
        b0 AS (SELECT doc_id, s_en AS bs, 'en' AS bl, s_fr, s_es, s_de FROM scores),
        b1 AS (SELECT doc_id, CASE WHEN s_fr > bs THEN s_fr ELSE bs END AS bs,
                      CASE WHEN s_fr > bs THEN 'fr' ELSE bl END AS bl, s_es, s_de FROM b0),
        b2 AS (SELECT doc_id, CASE WHEN s_es > bs THEN s_es ELSE bs END AS bs,
                      CASE WHEN s_es > bs THEN 'es' ELSE bl END AS bl, s_de FROM b1),
        b3 AS (SELECT doc_id, CASE WHEN s_de > bs THEN s_de ELSE bs END AS bs,
                      CASE WHEN s_de > bs THEN 'de' ELSE bl END AS bl FROM b2)
        SELECT doc_id, bl AS pred_lang_ng, CAST(bs AS INT) AS ng_score
        FROM b3 ORDER BY doc_id
    """,
    "q36_keyword_scan": """
        WITH pages AS (
            SELECT doc_id % 50 AS doc,
                   doc_id // CAST(50 AS BIGINT) AS page,
                   text
            FROM documents
        )
        SELECT doc, min(page) AS page, arg_min(text, page) AS text
        FROM pages
        WHERE contains(lower(text), 'vector')
        GROUP BY doc ORDER BY doc
    """,
    "q40_term_frequency": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ),
        per_doc AS (
            SELECT tok, doc_id, count(*) AS c
            FROM toks WHERE tok <> '' GROUP BY tok, doc_id
        )
        SELECT tok, sum(c)::BIGINT AS tf, count(*)::BIGINT AS df_docs
        FROM per_doc GROUP BY tok
        ORDER BY tf DESC, tok LIMIT 50
    """,
    # q41: cumulative thresholds as zero-padded hex of floor(w * 16^8):
    # 0.8 -> cccccccc, 0.9 -> e6666666 (lexicographic compare on the
    # first 8 md5 hex chars == numeric compare of the 32-bit value).
    "q41_hash_split": """
        WITH s AS (
            SELECT CASE
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                    THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
                    THEN 'val'
                ELSE 'test' END AS split
            FROM documents
        )
        SELECT split, count(*)::BIGINT AS n_docs
        FROM s GROUP BY split ORDER BY split
    """,
    "q44_top_supplier_per_nation": """
        WITH rev AS (
            SELECT s_suppkey, s_name, s_nationkey,
                   floor(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY 1, 2, 3
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY s_nationkey
                       ORDER BY revenue DESC, s_suppkey) AS rk
            FROM rev
        )
        SELECT n_name, s_suppkey, s_name, revenue
        FROM ranked JOIN nation ON s_nationkey = n_nationkey
        WHERE rk = 1 ORDER BY n_name
    """,
    "q42_time_bucket": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
               event_type,
               count(*)::BIGINT AS n,
               floor(sum(CAST(value AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    # q43: Spark's session_window(gap=30min) closes a session at
    # last_event + gap (exclusive), so the islands flag is
    # diff >= 30 minutes; both windows order by (ts, event_id) so
    # timestamp ties resolve identically.
    "q43_sessionize": """
        WITH o AS (
            SELECT user_id, ts, event_id, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM o
        ),
        sess AS (
            SELECT user_id, ts, value,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*)::BIGINT AS n_events,
               floor(sum(CAST(value AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_value
        FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
    # q39: sentence segmentation (punct-separating normalization, the
    # reference boundary token set), first keyword sentence, 3-words-
    # before trim, then the q34 fact pipeline over the trimmed text.
    "q39_sentence_facts": f"""
        WITH docs AS (
            SELECT doc_id, {SENT_CORPUS_EXPR} AS text FROM documents
        ),
        norm AS (
            SELECT doc_id,
                   regexp_replace(text, '([.!?]+)(\\s|$)', ' \\1\\2', 'g') AS t
            FROM docs
        ),
        toksall AS (
            SELECT doc_id,
                   generate_subscripts(arr, 1) - 1 AS pos,
                   unnest(arr) AS tok
            FROM (SELECT doc_id, string_split_regex(trim(t), '\\s+') AS arr
                  FROM norm)
        ),
        marked AS (
            SELECT doc_id, pos, tok,
                   coalesce(sum(CASE WHEN regexp_matches(tok, '^(?:\\.{{1,3}}|!|\\?)$')
                                     THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS sent_idx
            FROM toksall
        ),
        sentences AS (
            SELECT doc_id, sent_idx,
                   string_agg(tok, ' ' ORDER BY pos) AS sentence
            FROM marked GROUP BY doc_id, sent_idx
        ),
        hit AS (
            SELECT doc_id, min(sent_idx) AS sent_idx FROM sentences
            WHERE instr(lower(sentence), 'production') > 0
            GROUP BY doc_id
        ),
        chosen AS (
            SELECT s.doc_id, s.sentence
            FROM sentences s JOIN hit h
              ON s.doc_id = h.doc_id AND s.sent_idx = h.sent_idx
        ),
        trimmedt AS (
            SELECT doc_id,
                   array_to_string(words[greatest(kidx - 3, 1):len(words)], ' ') AS text
            FROM (
                SELECT doc_id, words,
                       coalesce(list_position(
                           list_transform(words,
                               w -> instr(lower(w), 'production') > 0),
                           true), 0) AS kidx
                FROM (SELECT doc_id, string_split(sentence, ' ') AS words
                      FROM chosen)
            )
        ),
        {_textfacts_sql("trimmedt")}
    """,
    "q45_tfidf_topterms": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ),
        per_doc AS (
            SELECT doc_id, tok, count(*)::BIGINT AS tf_d
            FROM toks WHERE tok <> '' GROUP BY 1, 2
        ),
        dfd AS (
            SELECT tok, count(*)::BIGINT AS df_docs FROM per_doc GROUP BY tok
        ),
        n AS (SELECT count(*)::DOUBLE AS nn FROM documents),
        scored AS (
            SELECT doc_id, p.tok, tf_d, df_docs,
                   floor(tf_d * (nn - df_docs + 0.5) / (df_docs + 0.5)
                         * 10000.0 + 0.5) / 10000.0 AS tfidf
            FROM per_doc p JOIN dfd USING (tok) CROSS JOIN n
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, tok) AS rk
            FROM scored
        )
        SELECT doc_id, tok, tf_d, df_docs, tfidf
        FROM ranked WHERE rk <= 3 ORDER BY doc_id, tfidf DESC, tok
    """,
    # q46 thresholds: first 8 md5 hex chars of 'source:doc_id' vs
    # floor(rate * 16^8) as zero-padded hex — 0.5 -> 80000000,
    # 0.25 -> 40000000, 0.1 -> 19999999; rate 1.0 keeps everything.
    "q46_stratified_sample": """
        WITH h AS (
            SELECT doc_id, source,
                   substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS hex8
            FROM documents
        )
        SELECT doc_id, source FROM h
        WHERE CASE source
                  WHEN 'src0' THEN TRUE
                  WHEN 'src1' THEN hex8 < '80000000'
                  WHEN 'src2' THEN hex8 < '40000000'
                  ELSE hex8 < '19999999' END
        ORDER BY doc_id
    """,
    "q47_normalized_dedup": """
        WITH c AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS canon_hash
            FROM documents
        ),
        h AS (
            SELECT doc_id, canon_hash,
                   row_number() OVER (PARTITION BY canon_hash
                                      ORDER BY doc_id) AS rn,
                   count(*) OVER (PARTITION BY canon_hash) AS n_dups
            FROM c
        )
        SELECT doc_id, canon_hash, n_dups::BIGINT AS n_dups
        FROM h WHERE rn = 1 ORDER BY doc_id
    """,
    "q48_source_quota": f"""
        WITH {_quality_ctes(carry=", source")},
        q AS (SELECT doc_id, source, {_QUALITY} AS quality FROM r),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY quality DESC, doc_id) AS rk
            FROM q
        )
        SELECT source, doc_id, quality FROM ranked
        WHERE rk <= 10 ORDER BY source, quality DESC, doc_id
    """,
    "q49_decontaminate": f"""
        WITH {_shingle_ctes()},
        probe AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
        ),
        contam AS (
            SELECT DISTINCT doc_id FROM sh
            WHERE shingle IN (SELECT shingle FROM probe)
        )
        SELECT doc_id, n_chars::BIGINT AS n_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        ORDER BY doc_id
    """,
    "q50_pack_sequences": """
        WITH t AS (
            SELECT doc_id, source,
                   len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                       AS n_toks
            FROM documents
        ),
        w AS (
            SELECT doc_id, source, n_toks,
                   (sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_toks)::BIGINT
                       AS tok_offset
            FROM t
        )
        SELECT doc_id, source, n_toks, tok_offset,
               (tok_offset // 200)::BIGINT AS bin
        FROM w ORDER BY source, doc_id
    """,
    "q51_dedup_clusters": f"""
        WITH RECURSIVE {_minhash_ctes()},
        {_VERIFIED_CTE},
        {_components_ctes("verified")}
        {_CLUSTERS_SELECT}
    """,
    "q52_repetition": """
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(len(toks) - 2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                        ELSE [array_to_string(toks, ' ')] END AS grams
            FROM t
        )
        SELECT doc_id,
               len(grams)::BIGINT AS n_grams,
               len(list_distinct(grams))::BIGINT AS n_distinct,
               floor((1.0 - len(list_distinct(grams))::DOUBLE
                      / len(grams)::DOUBLE) * 10000.0 + 0.5) / 10000.0
                   AS rep_ratio
        FROM g ORDER BY doc_id
    """,
    "q53_redact_pii": f"""
        -- Same sentinel algorithm as the operator: spans collapse to
        -- single PUA chars (chr(57344)=U+E000 email, chr(57345)=U+E001
        -- url), counts are length arithmetic, mask tokens are literal
        -- replaces. Two regex passes total, like the Spark side.
        WITH d2 AS (
            SELECT doc_id, {PII_CORPUS_EXPR} AS text FROM documents
        ), m AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(text, '{_TEXT_EMAIL_RE}',
                                      chr(57344), 'g'),
                       '{_TEXT_URL_RE}', chr(57345), 'g') AS mt
            FROM d2
        )
        SELECT doc_id,
               (length(mt) - length(replace(mt, chr(57344), '')))::BIGINT
                   AS n_emails,
               (length(mt) - length(replace(mt, chr(57345), '')))::BIGINT
                   AS n_urls,
               md5(replace(replace(mt, chr(57344), '<EMAIL>'),
                           chr(57345), '<URL>')) AS redacted_fp
        FROM m ORDER BY doc_id
    """,
    "q54_length_quantiles": """
        WITH t AS (
            SELECT source,
                   len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE
                       AS n_toks
            FROM documents
        )
        SELECT source,
               floor(quantile_cont(n_toks, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
               floor(quantile_cont(n_toks, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90,
               floor(quantile_cont(n_toks, 0.99) * 10000.0 + 0.5) / 10000.0 AS p99
        FROM t GROUP BY source ORDER BY source
    """,
    "q55_inverted_index": """
        WITH pairs AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       regexp_split_to_array(trim(lower(text)), '\\s+')))
                       AS tok
            FROM documents
        )
        SELECT tok, count(*)::BIGINT AS df_docs,
               array_to_string(
                   list_transform(list_sort(list(doc_id))[1:20],
                                  x -> x::VARCHAR), ',') AS postings_csv
        FROM pairs WHERE tok <> ''
        GROUP BY tok ORDER BY tok
    """,
    "q56_asof_tolerance": f"""
        WITH {_ASOF_RANKED}
        SELECT o_orderkey, o_custkey,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
               CASE WHEN ts IS NOT NULL
                         AND epoch(o_orderdate) - epoch(ts) <= 30 * 86400
                    THEN strftime(ts, '%Y-%m-%d %H:%M:%S') END AS event_ts,
               CASE WHEN ts IS NOT NULL
                         AND epoch(o_orderdate) - epoch(ts) <= 30 * 86400
                    THEN event_type END AS event_type
        FROM ranked WHERE rn = 1 ORDER BY o_orderkey
    """,
    "q57_cube": """
        SELECT o_orderpriority, o_orderstatus,
               floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE * 100.0 + 0.5) / 100.0 AS sum_price,
               count(*)::BIGINT AS cnt,
               GROUPING(o_orderpriority, o_orderstatus)::BIGINT AS gid
        FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    "q58_pivot": """
        SELECT year(o_orderdate)::BIGINT AS order_year,
               sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
               sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_filled,
               sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_pending
        FROM orders GROUP BY year(o_orderdate) ORDER BY order_year
    """,
    "q59_integrity_checks": """
        WITH checks AS (
            SELECT 'lineitem.orderkey_fk' AS check_name,
                   count(*)::BIGINT AS violations
            FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)
            UNION ALL
            SELECT 'orders.custkey_fk', count(*)::BIGINT
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'orders.orderkey_unique',
                   (count(*) - count(DISTINCT o_orderkey))::BIGINT
            FROM orders
            UNION ALL
            SELECT 'orders.custkey_complete',
                   count(CASE WHEN o_custkey IS NULL THEN 1 END)::BIGINT
            FROM orders
        )
        SELECT check_name, violations FROM checks ORDER BY check_name
    """,
    "q60_histogram": """
        SELECT least(floor(len(regexp_split_to_array(trim(text), '\\s+')) / 20),
                     9)::BIGINT AS bucket,
               count(*)::BIGINT AS n_docs
        FROM documents GROUP BY 1 ORDER BY bucket
    """,
    "q61_exists_subquery": """
        SELECT o_orderpriority, count(*)::BIGINT AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q62_scalar_subquery": """
        SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6)))
                          AS DOUBLE) / 7.0 * 100.0 + 0.5) / 100.0
               AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity <
              (SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
                                  AS DOUBLE) / count(*))
               FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
    "q63_grouped_median": """
        SELECT l_returnflag,
               median(l_quantity) AS med_qty,
               count(*) FILTER (WHERE l_discount > 0.05)::BIGINT
                   AS n_discounted,
               count(*)::BIGINT AS n_items
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "q64_distribution_windows": """
        SELECT o_orderkey, o_orderpriority,
               ntile(4) OVER w::BIGINT AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey
    """,
    "q65_grouping_sets": """
        SELECT o_orderpriority, o_orderstatus,
               count(*)::BIGINT AS cnt,
               floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE
                     * 100.0 + 0.5) / 100.0 AS sum_price,
               GROUPING(o_orderpriority, o_orderstatus)::BIGINT AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    "q66_range_join": """
        -- floor(epoch(.)) everywhere: DuckDB's epoch() keeps the
        -- microsecond fraction, Spark's timestamp->long cast floors;
        -- flooring both sides makes the boundary rows identical.
        SELECT err.event_id,
               count(*)::BIGINT AS n_clicks_10m,
               min(abs(floor(epoch(clk.ts))::BIGINT
                       - floor(epoch(err.ts))::BIGINT))::BIGINT
                   AS closest_gap_s
        FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') err
        JOIN (SELECT ts FROM events WHERE event_type = 'click') clk
          ON abs(floor(epoch(clk.ts)) - floor(epoch(err.ts))) <= 600
        GROUP BY err.event_id ORDER BY err.event_id
    """,
    "q67_scd2": """
        WITH marked AS (
            SELECT user_id, ts, event_type, event_id,
                   lag(event_type) OVER w AS prev
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), changes AS (
            SELECT user_id, ts, event_type, event_id FROM marked
            WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
               row_number() OVER w2::BIGINT AS version
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, version
    """,
    "q68_rolling_range_window": """
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
               count(*) OVER w::BIGINT AS n_7d,
               floor(sum(CAST(value AS DECIMAL(27,6))) OVER w::DOUBLE
                     * 10000.0 + 0.5) / 10000.0 AS sum_7d
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
                     RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "q69_funnel": """
        WITH f AS (
            SELECT user_id, event_type, ts FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ),
        u AS (SELECT DISTINCT user_id FROM f),
        v AS (SELECT user_id, min(ts) AS v FROM f
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT f.user_id, min(f.ts) AS c FROM f
              JOIN v ON v.user_id = f.user_id
              WHERE f.event_type = 'click' AND f.ts > v.v
                AND f.ts <= v.v + INTERVAL 24 HOURS GROUP BY f.user_id),
        p AS (SELECT f.user_id, min(f.ts) AS p FROM f
              JOIN c ON c.user_id = f.user_id
              WHERE f.event_type = 'purchase' AND f.ts > c.c
                AND f.ts <= c.c + INTERVAL 24 HOURS GROUP BY f.user_id)
        SELECT stage, count(*)::BIGINT AS n_users FROM (
            SELECT u.user_id,
                   CASE WHEN p.user_id IS NOT NULL THEN '3_purchase'
                        WHEN c.user_id IS NOT NULL THEN '2_click'
                        WHEN v.user_id IS NOT NULL THEN '1_view'
                        ELSE '0_none' END AS stage
            FROM u
            LEFT JOIN v ON v.user_id = u.user_id
            LEFT JOIN c ON c.user_id = u.user_id
            LEFT JOIN p ON p.user_id = u.user_id
        ) GROUP BY stage ORDER BY stage
    """,
    "q70_retention": """
        WITH first AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort
            FROM events GROUP BY user_id
        ), active AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
        )
        SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
               (date_diff('day', f.cohort, a.wk) // 7)::BIGINT AS week_k,
               count(*)::BIGINT AS n_users
        FROM active a JOIN first f ON f.user_id = a.user_id
        GROUP BY 1, 2 ORDER BY cohort_week, week_k
    """,
    "q71_boilerplate_scrub": """
        WITH toks AS (
            SELECT doc_id, t.tok, t.pos FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS l
                FROM documents
            ), LATERAL (
                SELECT unnest(l) AS tok,
                       generate_subscripts(l, 1) AS pos
            ) AS t
            WHERE t.tok <> ''
        ),
        boiler AS (
            SELECT tok FROM (
                SELECT tok, count(DISTINCT doc_id) AS df
                FROM toks GROUP BY tok
                ORDER BY df DESC, tok LIMIT 10
            )
        ),
        kept AS (
            SELECT doc_id, tok, pos FROM toks
            WHERE tok NOT IN (SELECT tok FROM boiler)
        )
        SELECT doc_id, count(*)::BIGINT AS n_kept,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_fp
        FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
    "q72_winsorize": """
        WITH pct AS (
            SELECT c_mktsegment,
                   quantile_cont(c_acctbal, 0.05) AS p05,
                   quantile_cont(c_acctbal, 0.95) AS p95
            FROM customer GROUP BY c_mktsegment
        ), clamped AS (
            SELECT c.c_mktsegment,
                   floor(least(greatest(c.c_acctbal, p.p05), p.p95)
                         * 10000.0 + 0.5) / 10000.0 AS w
            FROM customer c JOIN pct p ON p.c_mktsegment = c.c_mktsegment
        )
        SELECT c_mktsegment,
               floor(sum(CAST(w AS DECIMAL(27,6)))::DOUBLE / count(*)
                     * 10000.0 + 0.5) / 10000.0 AS w_mean,
               count(*)::BIGINT AS n
        FROM clamped GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q73_salted_join_agg": """
        SELECT c_mktsegment, count(*)::BIGINT AS n_events,
               floor(sum(CAST(value AS DECIMAL(27,6)))::DOUBLE
                     * 100.0 + 0.5) / 100.0 AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q74_top_bigrams": """
        WITH t AS (
            SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM documents
        ), g AS (
            SELECT unnest(CASE WHEN len(toks) >= 2
                          THEN list_transform(range(len(toks) - 1),
                               i -> toks[i+1] || ' ' || toks[i+2])
                          ELSE [] END) AS bigram
            FROM t
        )
        SELECT bigram, count(*)::BIGINT AS cnt
        FROM g GROUP BY bigram
        ORDER BY cnt DESC, bigram LIMIT 40
    """,
    "q75_full_outer_join": """
        WITH c AS (
            SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal >= 0
        ), o AS (
            SELECT o_custkey, count(*)::BIGINT AS n_f_orders,
                   floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE
                         * 100.0 + 0.5) / 100.0 AS f_total
            FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
        )
        SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
               c.c_mktsegment,
               coalesce(o.n_f_orders, 0)::BIGINT AS n_f_orders,
               coalesce(o.f_total, 0.0) AS f_total
        FROM c FULL OUTER JOIN o ON o.o_custkey = c.c_custkey
        ORDER BY custkey
    """,
    "q76_column_profile": """
        WITH p AS (
            SELECT count(*) AS n, sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nul1,
                   min(CAST(o_orderkey AS VARCHAR)) AS mn1, max(CAST(o_orderkey AS VARCHAR)) AS mx1,
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nul2,
                   min(CAST(o_custkey AS VARCHAR)) AS mn2, max(CAST(o_custkey AS VARCHAR)) AS mx2,
                   sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nul3,
                   min(CAST(o_orderstatus AS VARCHAR)) AS mn3, max(CAST(o_orderstatus AS VARCHAR)) AS mx3,
                   sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nul4,
                   min(CAST(o_totalprice AS VARCHAR)) AS mn4, max(CAST(o_totalprice AS VARCHAR)) AS mx4,
                   sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nul5,
                   min(CAST(o_orderdate AS VARCHAR)) AS mn5, max(CAST(o_orderdate AS VARCHAR)) AS mx5,
                   sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nul6,
                   min(CAST(o_orderpriority AS VARCHAR)) AS mn6, max(CAST(o_orderpriority AS VARCHAR)) AS mx6
            FROM orders
        )
        SELECT 'o_orderkey' AS "column", n::BIGINT AS n_rows, nul1::BIGINT AS n_nulls,
               mn1 AS min_str, mx1 AS max_str FROM p
        UNION ALL SELECT 'o_custkey', n::BIGINT, nul2::BIGINT, mn2, mx2 FROM p
        UNION ALL SELECT 'o_orderstatus', n::BIGINT, nul3::BIGINT, mn3, mx3 FROM p
        UNION ALL SELECT 'o_totalprice', n::BIGINT, nul4::BIGINT, mn4, mx4 FROM p
        UNION ALL SELECT 'o_orderdate', n::BIGINT, nul5::BIGINT, mn5, mx5 FROM p
        UNION ALL SELECT 'o_orderpriority', n::BIGINT, nul6::BIGINT, mn6, mx6 FROM p
        ORDER BY "column"
    """,
    "q77_label_centroids": """
        WITH ex AS (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding) AS x
            FROM embeddings
        )
        SELECT label, dim::BIGINT AS dim,
               floor(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,6)))::DOUBLE
                     / count(*) * 10000.0 + 0.5) / 10000.0 AS centroid,
               count(*)::BIGINT AS n_vecs
        FROM ex GROUP BY label, dim ORDER BY label, dim
    """,
    "q78_resample_zero_fill": """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ), spans AS (
            SELECT user_id, min(day) AS d0, max(day) AS d1
            FROM daily GROUP BY user_id
        ), cal AS (
            SELECT user_id,
                   unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY))::DATE AS day
            FROM spans
        )
        SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
               coalesce(d.n, 0)::BIGINT AS n_events
        FROM cal c LEFT JOIN daily d
          ON d.user_id = c.user_id AND d.day = c.day
        ORDER BY c.user_id, day
    """,
    "q79_curation_pipeline": f"""
        -- The q21/q49/q30/q48/q41 ladder composed end-to-end.
        WITH dedup AS (  -- stage 1: exact dedup, lowest id per md5(text)
            SELECT doc_id, text, source FROM (
                SELECT doc_id, text, source,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM documents
            ) WHERE rn = 1
        ),
        -- stage 2: word 3-gram shingles of survivors
        {_shingle_ctes("dedup")},
        probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        clean AS (
            SELECT d.* FROM dedup d
            WHERE d.doc_id NOT IN (
                SELECT DISTINCT doc_id FROM sh
                WHERE shingle IN (SELECT shingle FROM probe))
        ),
        -- stage 3: quality composite on clean docs
        {_quality_ctes("clean", ", source")},
        q AS (SELECT doc_id, source, {_QUALITY} AS quality FROM r),
        capped AS (      -- stage 4: per-source quota, 15 best
            SELECT doc_id, source, quality FROM (
                SELECT *, row_number() OVER (PARTITION BY source
                           ORDER BY quality DESC, doc_id) AS rk
                FROM q WHERE quality >= 0.55
            ) WHERE rk <= 15
        )
        SELECT doc_id, source, quality,   -- stage 5: md5 hash split
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                        THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM capped ORDER BY doc_id
    """,
    "q80_heavy_hitters_exact": """
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ), counts AS (
            SELECT tok, count(*)::BIGINT AS cnt FROM toks
            WHERE tok <> '' GROUP BY tok
        ), total AS (SELECT sum(cnt) AS t FROM counts)
        SELECT tok, cnt,
               floor(cnt / t::DOUBLE * 100.0 * 10000.0 + 0.5) / 10000.0 AS pct
        FROM counts, total
        WHERE cnt * 100 > t
        ORDER BY tok
    """,
    "q81_line_dedup": f"""
        WITH t AS (
            SELECT doc_id, {LINES_CORPUS_EXPR} AS mtext FROM documents
        ),
        occ0 AS (
            SELECT doc_id,
                   generate_subscripts(lines, 1) - 1 AS pos,
                   unnest(lines) AS line
            FROM (SELECT doc_id, string_split(mtext, chr(10)) AS lines
                  FROM t)
        ),
        occ AS (
            SELECT doc_id, pos, line,
                   doc_id * 100000 + pos AS occ_key
            FROM occ0
        ),
        st AS (
            SELECT line, count(*) AS cnt, min(occ_key) AS first_key
            FROM occ GROUP BY line
        ),
        j AS (
            SELECT o.doc_id, o.pos, o.line, st.cnt,
                   (st.cnt = 1 OR o.occ_key = st.first_key) AS keep
            FROM occ o JOIN st USING (line)
        )
        SELECT doc_id,
               count(*)::BIGINT AS n_lines,
               sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_dup_lines,
               coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                                   ORDER BY pos), '') AS clean_text
        FROM j GROUP BY doc_id ORDER BY doc_id
    """,
    "q82_contamination_score": f"""
        WITH {_shingle_ctes()},
        probe AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
        ),
        agg AS (
            SELECT doc_id, count(*)::BIGINT AS n_shingles,
                   sum(CASE WHEN shingle IN (SELECT shingle FROM probe)
                       THEN 1 ELSE 0 END)::BIGINT AS n_hit
            FROM sh GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.n_shingles, 0)::BIGINT AS n_shingles,
               coalesce(a.n_hit, 0)::BIGINT AS n_hit,
               coalesce(floor(a.n_hit / a.n_shingles::DOUBLE * 10000.0
                              + 0.5) / 10000.0, 0.0) AS contamination
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        ORDER BY d.doc_id
    """,
    "q83_temperature_mix": f"""
        WITH docs AS (
            SELECT doc_id, {MIX_STRATUM_EXPR} AS stratum FROM documents
        ),
        c AS (
            SELECT stratum, count(*) AS cnt FROM docs GROUP BY stratum
        ),
        r AS (
            SELECT stratum,
                   sqrt(CAST((SELECT min(cnt) FROM c) AS DOUBLE)
                        / CAST(cnt AS DOUBLE)) AS rate
            FROM c
        ),
        t AS (
            SELECT stratum, rate,
                   lpad(lower(to_hex(CAST(floor(rate * 4294967296.0)
                                          AS BIGINT))), 8, '0') AS thr
            FROM r
        )
        SELECT d.doc_id, d.stratum,
               floor(t.rate * 10000.0 + 0.5) / 10000.0 AS mix_rate
        FROM docs d JOIN t USING (stratum)
        WHERE t.rate >= 1.0
           OR substr(md5('mix' || d.stratum || ':'
                         || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
        ORDER BY doc_id
    """,
    "q84_url_dedup": f"""
        WITH u AS (
            SELECT doc_id, {URLS_CORPUS_EXPR} AS url FROM documents
        ),
        c0 AS (
            SELECT doc_id, url,
                   string_split(regexp_replace(regexp_replace(lower(url),
                       '^https?://', ''), '^www\\.', ''), '?') AS parts
            FROM u
        ),
        c AS (
            SELECT doc_id, url,
                   CASE WHEN len(parts) > 1 AND len(list_filter(
                            string_split(parts[2], '&'),
                            x -> NOT starts_with(x, 'utm_'))) > 0
                        THEN concat(regexp_replace(parts[1], '/$', ''), '?',
                                    array_to_string(list_filter(
                                        string_split(parts[2], '&'),
                                        x -> NOT starts_with(x, 'utm_')),
                                        '&'))
                        ELSE regexp_replace(parts[1], '/$', '')
                   END AS canon_url
            FROM c0
        ),
        h AS (
            SELECT doc_id, url, canon_url,
                   row_number() OVER (PARTITION BY canon_url
                                      ORDER BY doc_id) AS rn,
                   count(*) OVER (PARTITION BY canon_url) AS n_dups
            FROM c
        )
        SELECT doc_id, url, canon_url, n_dups::BIGINT AS n_dups
        FROM h WHERE rn = 1 ORDER BY doc_id
    """,
    "q85_token_budget_quota": """
        WITH t AS (
            SELECT doc_id, source,
                   len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                       AS n_toks
            FROM documents
        ),
        w AS (
            SELECT doc_id, source, n_toks,
                   sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
            FROM t
        )
        SELECT doc_id, source, n_toks, cum_tokens
        FROM w WHERE cum_tokens <= 300 ORDER BY doc_id
    """,
    "q86_dedup_corpus": f"""
        WITH RECURSIVE {_minhash_ctes()},
        {_VERIFIED_CTE},
        {_components_ctes("verified")},
        sized AS (
            SELECT id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS csize
            FROM comp
        ),
        ranked AS (
            SELECT s.id, s.csize,
                   row_number() OVER (PARTITION BY s.cluster_id
                       ORDER BY d.n_chars DESC, s.id) AS rk
            FROM sized s JOIN documents d ON d.doc_id = s.id
        ),
        drops AS (SELECT id FROM ranked WHERE rk > 1)
        SELECT d.doc_id, d.n_chars::BIGINT AS n_chars,
               coalesce(r.csize, 1)::BIGINT AS family_size
        FROM documents d
        LEFT JOIN ranked r ON r.id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT id FROM drops)
        ORDER BY d.doc_id
    """,
    "q93_snapshot_diff": """
        WITH o AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        ),
        kept AS (SELECT * FROM o WHERE o_orderkey % 97 <> 0),
        mutated AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 101 = 0
                        THEN o_totalprice + 1.0 ELSE o_totalprice
                   END AS o_totalprice,
                   o_orderstatus
            FROM kept
        ),
        cloned AS (
            SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice,
                   o_orderstatus
            FROM kept WHERE o_orderkey % 103 = 0
        ),
        new_snap AS (
            SELECT * FROM mutated UNION ALL SELECT * FROM cloned
        ),
        j AS (
            SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                   CASE
                     WHEN a.o_orderkey IS NULL THEN 'added'
                     WHEN b.o_orderkey IS NULL THEN 'removed'
                     WHEN a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                      AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
                        THEN 'unchanged'
                     ELSE 'changed'
                   END AS change_type
            FROM o a FULL OUTER JOIN new_snap b
              ON a.o_orderkey = b.o_orderkey
        )
        SELECT o_orderkey, change_type FROM j
        WHERE change_type <> 'unchanged'
        ORDER BY o_orderkey
    """,
    "q92_prefix_filter_join": """
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS tk
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   list_filter(list_distinct(
                       CASE WHEN len(tk) >= 3
                            THEN list_transform(
                                generate_series(1, len(tk) - 2),
                                i -> array_to_string(tk[i:i+2], ' '))
                            ELSE [array_to_string(tk, ' ')]
                       END), x -> x <> '') AS sh
            FROM toks
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.sh, b.sh)) AS i,
                   len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh)) AS u
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(a.sh) > 0 AND len(b.sh) > 0
        )
        SELECT id_a, id_b,
               floor(i / u::DOUBLE * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM pairs
        WHERE 5 * i >= 3 * u
        ORDER BY id_a, id_b
    """,
    "q91_groupwise_regression": """
        WITH s AS (
            SELECT l_returnflag,
                   count(*)::BIGINT AS n,
                   sum(l_quantity::DECIMAL(12,2)) AS sx,
                   sum(l_extendedprice::DECIMAL(15,2)) AS sy,
                   sum(l_quantity::DECIMAL(12,2)
                       * l_extendedprice::DECIMAL(15,2)) AS sxy,
                   sum(l_quantity::DECIMAL(12,2)
                       * l_quantity::DECIMAL(12,2)) AS sxx
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                     / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS slope,
               floor((sy::DOUBLE
                      - (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                        / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * sx::DOUBLE)
                     / n::DOUBLE * 1000000.0 + 0.5) / 1000000.0
                   AS intercept
        FROM s ORDER BY l_returnflag
    """,
    "q90_rare_tokens": """
        WITH toks AS (
            SELECT doc_id, t.tok
            FROM documents,
                 LATERAL (SELECT unnest(regexp_split_to_array(
                              trim(lower(text)), '\\s+')) AS tok) t
            WHERE t.tok <> ''
        ),
        vocab AS (SELECT tok, count(*) AS vc FROM toks GROUP BY tok)
        SELECT doc_id,
               count(*)::BIGINT AS n_toks,
               sum(CASE WHEN v.vc <= 2 THEN 1 ELSE 0 END)::BIGINT
                   AS n_rare,
               floor(sum(CASE WHEN v.vc <= 2 THEN 1 ELSE 0 END)
                     / greatest(count(*), 1)::DOUBLE * 10000.0 + 0.5)
                   / 10000.0 AS rare_frac
        FROM toks JOIN vocab v USING (tok)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "q89_dup_spans": """
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS tk
            FROM documents
        ),
        base AS (SELECT doc_id, len(tk)::BIGINT AS n_toks FROM toks),
        grams AS (
            SELECT doc_id, gs - 1 AS p,
                   array_to_string(tk[gs:gs+4], ' ') AS gram
            FROM toks,
                 LATERAL (SELECT unnest(generate_series(1, len(tk) - 4))
                          AS gs)
            WHERE len(tk) >= 5
        ),
        dupg AS (
            SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
        ),
        anchors AS (SELECT doc_id, p FROM grams JOIN dupg USING (gram)),
        flagged AS (
            SELECT doc_id, p,
                   CASE WHEN max(p + 5) OVER w IS NULL
                          OR p > max(p + 5) OVER w
                        THEN 1 ELSE 0 END AS newf
            FROM anchors
            WINDOW w AS (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
        ),
        isl AS (
            SELECT doc_id, p,
                   sum(newf) OVER (PARTITION BY doc_id ORDER BY p) AS g
            FROM flagged
        ),
        sp AS (
            SELECT doc_id, g, min(p) AS s, max(p + 5) AS e
            FROM isl GROUP BY doc_id, g
        ),
        agg AS (
            SELECT doc_id, count(*)::BIGINT AS n_spans,
                   sum(e - s)::BIGINT AS dup_tokens
            FROM sp GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_toks,
               coalesce(a.n_spans, 0)::BIGINT AS n_spans,
               coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens,
               floor(coalesce(a.dup_tokens, 0)
                     / greatest(b.n_toks, 1)::DOUBLE * 10000.0 + 0.5)
                   / 10000.0 AS dup_frac
        FROM base b LEFT JOIN agg a USING (doc_id)
        ORDER BY b.doc_id
    """,
    "q87_fuzzy_match": """
        WITH d AS (
            SELECT doc_id, lang, source, substr(text, 1, 24) AS p
            FROM documents
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               levenshtein(a.p, b.p)::BIGINT AS dist
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id
        WHERE levenshtein(a.p, b.p) <= 14
        ORDER BY left_id, right_id
    """,
    "q94_ngram_lm_score": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= 2
                          THEN toks[1:len(toks)-1] ELSE [] END) AS prefix,
                   unnest(CASE WHEN len(toks) >= 2
                          THEN toks[2:len(toks)] ELSE [] END) AS word
            FROM t
        ), occ AS (
            SELECT doc_id, prefix, word, count(*) AS occ_n
            FROM g GROUP BY doc_id, prefix, word
        ), c2 AS (
            SELECT prefix, word, sum(occ_n) AS c2
            FROM occ GROUP BY prefix, word
        ), c1 AS (
            SELECT prefix, sum(c2) AS c1 FROM c2 GROUP BY prefix
        ), v AS (
            SELECT count(DISTINCT word) AS v FROM c2
        ), s AS (
            SELECT o.doc_id, o.occ_n,
                   CAST(o.occ_n * ln((c2.c2 + 1) / (c1.c1 + v.v))
                        AS DECIMAL(27,6)) AS lp
            FROM occ o
            JOIN c2 USING (prefix, word)
            JOIN c1 USING (prefix)
            CROSS JOIN v
        )
        SELECT doc_id, sum(occ_n)::BIGINT AS n_bigrams,
               floor((sum(lp)::DOUBLE / sum(occ_n)) * 1000000.0 + 0.5)
                   / 1000000.0 AS avg_logprob
        FROM s GROUP BY doc_id ORDER BY doc_id
    """,
    "q95_pareto_frontier": """
        WITH b AS (
            SELECT p_partkey, p_size::BIGINT AS size,
                   CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                       AS price_cents
            FROM part
        )
        SELECT p_partkey, size, price_cents FROM b a
        WHERE NOT EXISTS (
            SELECT 1 FROM b o
            WHERE o.price_cents <= a.price_cents AND o.size >= a.size
              AND (o.price_cents < a.price_cents OR o.size > a.size)
        )
        ORDER BY p_partkey
    """,
    "q96_ewma_anomaly": """
        WITH l AS (
            SELECT event_id, user_id, value,
                   lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
                   lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
                   lag(value, 5) OVER w AS l5, lag(value, 6) OVER w AS l6,
                   lag(value, 7) OVER w AS l7, lag(value, 8) OVER w AS l8
            FROM events
            WHERE value IS NOT NULL  -- nulls skip lag slots (stream twin)
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), e AS (
            SELECT event_id, user_id, value,
                   (0.0 + coalesce(l1, 0.0) * 1.0
                        + coalesce(l2, 0.0) * 0.5
                        + coalesce(l3, 0.0) * 0.25
                        + coalesce(l4, 0.0) * 0.125
                        + coalesce(l5, 0.0) * 0.0625
                        + coalesce(l6, 0.0) * 0.03125
                        + coalesce(l7, 0.0) * 0.015625
                        + coalesce(l8, 0.0) * 0.0078125)
                   / nullif(0.0
                        + CASE WHEN l1 IS NOT NULL THEN 1.0 ELSE 0.0 END
                        + CASE WHEN l2 IS NOT NULL THEN 0.5 ELSE 0.0 END
                        + CASE WHEN l3 IS NOT NULL THEN 0.25 ELSE 0.0 END
                        + CASE WHEN l4 IS NOT NULL THEN 0.125 ELSE 0.0 END
                        + CASE WHEN l5 IS NOT NULL THEN 0.0625 ELSE 0.0 END
                        + CASE WHEN l6 IS NOT NULL THEN 0.03125 ELSE 0.0 END
                        + CASE WHEN l7 IS NOT NULL THEN 0.015625 ELSE 0.0 END
                        + CASE WHEN l8 IS NOT NULL THEN 0.0078125 ELSE 0.0 END,
                        0.0) AS ewma_prev
            FROM l
        )
        SELECT event_id, user_id, value, ewma_prev,
               value - ewma_prev AS resid
        FROM e
        WHERE abs(value - ewma_prev) > 150.0
        ORDER BY event_id
    """,
    "q97_chunk_documents": f"""
        WITH {_CHUNK_CTES}
        SELECT doc_id, chunk_id::BIGINT AS chunk_id,
               len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32])::BIGINT
                   AS n_chunk_toks,
               array_to_string(
                   toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
                   AS chunk_text
        FROM g ORDER BY doc_id, chunk_id
    """,
    "q98_sorted_neighborhood": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents
        ), b AS (
            SELECT doc_id,
                   array_to_string(toks[1:2], ' ') AS snkey,
                   list_distinct(toks) AS s
            FROM t
        ), r AS (
            SELECT doc_id, s,
                   row_number() OVER (ORDER BY snkey, doc_id) AS rn
            FROM b
        )
        SELECT a.doc_id AS left_id, c.doc_id AS right_id,
               len(list_intersect(a.s, c.s))
                   / len(list_distinct(a.s || c.s)) AS jaccard
        FROM r a JOIN r c ON c.rn > a.rn AND c.rn - a.rn <= 4
        WHERE len(list_intersect(a.s, c.s))
                  / len(list_distinct(a.s || c.s)) >= 0.5
        ORDER BY left_id, right_id
    """,
    "q99_pagerank": """
        WITH e AS (
            SELECT DISTINCT 'c' || o_custkey AS src,
                            's' || l_suppkey AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), n AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM e
                UNION ALL SELECT dst AS node FROM e
            )
        ), od AS (
            SELECT src, count(*) AS deg FROM e GROUP BY src
        ), r0 AS (
            SELECT node, 1.0 AS rank FROM n
        ), c1 AS (
            SELECT e.dst AS node,
                   sum(CAST(floor(r.rank / od.deg * 1000000.0 + 0.5)
                            / 1000000.0 AS DECIMAL(27,6))) AS s
            FROM e JOIN r0 r ON r.node = e.src
                   JOIN od ON od.src = e.src
            GROUP BY e.dst
        ), r1 AS (
            SELECT n.node,
                   floor((0.15 + 0.85 * coalesce(s::DOUBLE, 0.0))
                         * 1000000.0 + 0.5) / 1000000.0 AS rank
            FROM n LEFT JOIN c1 ON c1.node = n.node
        ), c2 AS (
            SELECT e.dst AS node,
                   sum(CAST(floor(r.rank / od.deg * 1000000.0 + 0.5)
                            / 1000000.0 AS DECIMAL(27,6))) AS s
            FROM e JOIN r1 r ON r.node = e.src
                   JOIN od ON od.src = e.src
            GROUP BY e.dst
        ), r2 AS (
            SELECT n.node,
                   floor((0.15 + 0.85 * coalesce(s::DOUBLE, 0.0))
                         * 1000000.0 + 0.5) / 1000000.0 AS rank
            FROM n LEFT JOIN c2 ON c2.node = n.node
        ), c3 AS (
            SELECT e.dst AS node,
                   sum(CAST(floor(r.rank / od.deg * 1000000.0 + 0.5)
                            / 1000000.0 AS DECIMAL(27,6))) AS s
            FROM e JOIN r2 r ON r.node = e.src
                   JOIN od ON od.src = e.src
            GROUP BY e.dst
        ), r3 AS (
            SELECT n.node,
                   floor((0.15 + 0.85 * coalesce(s::DOUBLE, 0.0))
                         * 1000000.0 + 0.5) / 1000000.0 AS rank
            FROM n LEFT JOIN c3 ON c3.node = n.node
        )
        SELECT node, rank FROM r3 ORDER BY node
    """,
}

# q28b (Arrow/BLAS lane) computes the same relation as q28 — one
# oracle serves both; divergence between the lanes would surface as a
# q28b hash mismatch.
ORACLE["q28b_embedding_neardup_expr"] = ORACLE["q28_embedding_neardup"]

# q100's oracle re-derives the schema profile from the SAME synth
# template via DuckDB's JSON functions (json_keys / json_extract_string
# mirror from_json map<string,string> text semantics exactly).
ORACLE["q100_json_schema_infer"] = (
    """
    WITH j AS ("""
    + _Q100_SYNTH.replace("__TBL__", "events")
    + """),
    e AS (
        SELECT k AS key, json_extract_string(doc, '$.' || k) AS value
        FROM j, unnest(json_keys(doc)) AS t(k)
    ), c AS (
        SELECT key,
               count(*)::BIGINT AS n_present,
               sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_null,
               sum(CASE WHEN regexp_matches(value, '^-?[0-9]+$')
                        THEN 1 ELSE 0 END)::BIGINT AS n_int,
               sum(CASE WHEN regexp_matches(value, '^-?[0-9]+\\.[0-9]+$')
                        THEN 1 ELSE 0 END)::BIGINT AS n_num,
               sum(CASE WHEN regexp_matches(value, '^(true|false)$')
                        THEN 1 ELSE 0 END)::BIGINT AS n_bool,
               sum(CASE WHEN value IS NOT NULL
                         AND NOT regexp_matches(value, '^-?[0-9]+$')
                         AND NOT regexp_matches(value, '^-?[0-9]+\\.[0-9]+$')
                         AND NOT regexp_matches(value, '^(true|false)$')
                        THEN 1 ELSE 0 END)::BIGINT AS n_str
        FROM e GROUP BY key
    )
    SELECT key, n_present, n_null, n_int, n_num, n_bool, n_str,
           CASE WHEN n_str > 0 THEN 'string'
                WHEN n_bool > 0 AND (n_int + n_num) > 0 THEN 'string'
                WHEN n_bool > 0 THEN 'boolean'
                WHEN n_num > 0 THEN 'double'
                WHEN n_int > 0 THEN 'bigint'
                ELSE 'null' END AS inferred_type
    FROM c ORDER BY key
    """
)

ORACLE["q101_bloom_decontaminate"] = f"""
    WITH {_shingle_ctes()},
    probe AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0
    ),
    codes AS (
        SELECT DISTINCT code FROM (
            SELECT substr(md5('0:' || shingle), 1, 4) AS code FROM probe
            UNION ALL
            SELECT substr(md5('1:' || shingle), 1, 4) FROM probe
            UNION ALL
            SELECT substr(md5('2:' || shingle), 1, 4) FROM probe
        )
    ),
    pos AS (
        SELECT doc_id, shingle, 0 AS h,
               substr(md5('0:' || shingle), 1, 4) AS code FROM sh
        UNION ALL
        SELECT doc_id, shingle, 1,
               substr(md5('1:' || shingle), 1, 4) FROM sh
        UNION ALL
        SELECT doc_id, shingle, 2,
               substr(md5('2:' || shingle), 1, 4) FROM sh
    ),
    contam AS (
        SELECT DISTINCT doc_id FROM (
            SELECT p.doc_id, p.shingle
            FROM pos p JOIN codes c ON c.code = p.code
            GROUP BY p.doc_id, p.shingle
            HAVING count(DISTINCT p.h) = 3
        )
    )
    SELECT doc_id, n_chars::BIGINT AS n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ORDER BY doc_id
"""

# q102's oracle reuses the shared shingle/minhash/band CTE (its
# symmetric `cand` leg goes unused) and adds the asymmetric
# batch-vs-corpus candidate join + exact-Jaccard verify.
ORACLE["q102_dedup_against"] = f"""
    WITH {_minhash_ctes()},
    {_GATE_DUP_CTE}
    SELECT doc_id, n_chars::BIGINT AS n_chars
    FROM documents
    WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT bid FROM dup)
    ORDER BY doc_id
"""

ORACLE["q103_cdc_apply"] = """
    WITH o AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    ),
    log AS (
        SELECT o_orderkey, 1 AS ts, 0 AS seq, 'I' AS op,
               o_totalprice, o_orderstatus FROM o
        UNION ALL
        SELECT o_orderkey, 2, 1, 'U', o_totalprice + 5.0, o_orderstatus
        FROM o WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 2, 2, 'D', o_totalprice, o_orderstatus
        FROM o WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey, 3, 0, 'U', o_totalprice + 9.0, o_orderstatus
        FROM o WHERE o_orderkey % 11 = 0
    ),
    latest AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM log
    )
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM latest WHERE rn = 1 AND op <> 'D'
    ORDER BY o_orderkey
"""

# q104's oracle interleaves the same 16 bit-pairs explicitly (the
# Spark side builds the identical sum via shiftright/bitwiseAND).
_Q104_ZEXPR = " + ".join(
    f"((x >> {i}) & 1) * {2 ** (2 * i)} + ((y >> {i}) & 1) * {2 ** (2 * i + 1)}"
    for i in range(16)
)
ORACLE["q104_zorder_layout"] = f"""
    WITH b AS (
        SELECT (o_orderkey % 65536)::BIGINT AS x,
               (CAST(floor(o_totalprice) AS BIGINT) % 65536) AS y
        FROM orders
    ), z AS (
        SELECT x, y, ({_Q104_ZEXPR})::BIGINT AS zval FROM b
    )
    SELECT (zval >> 22)::BIGINT AS file_id, count(*)::BIGINT AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY file_id ORDER BY file_id
"""

ORACLE["q105_robust_outliers"] = """
    WITH med AS (
        SELECT event_type, median(value) AS grp_median
        FROM events GROUP BY event_type
    ),
    a AS (
        SELECT e.event_id, e.event_type, e.value, m.grp_median
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               median(abs(value - grp_median)) AS grp_mad
        FROM a GROUP BY event_type
    )
    SELECT a.event_id, a.event_type, a.value, a.grp_median, d.grp_mad
    FROM a JOIN mad d USING (event_type)
    WHERE abs(a.value - a.grp_median) > 3.0 * d.grp_mad
    ORDER BY a.event_id
"""

ORACLE["q106_skew_report"] = """
    WITH per_key AS (
        SELECT event_type, count(*)::BIGINT AS n_rows,
               substr(md5(CAST(event_type AS VARCHAR)), 1, 1) AS bucket
        FROM events GROUP BY event_type
    ),
    per_bucket AS (
        SELECT bucket, sum(n_rows)::BIGINT AS bucket_rows
        FROM per_key GROUP BY bucket
    ),
    tot AS (SELECT sum(n_rows)::BIGINT AS t FROM per_key)
    SELECT k.event_type, k.n_rows,
           floor((k.n_rows / t.t) * 1000000.0 + 0.5) / 1000000.0
               AS row_share,
           k.bucket, b.bucket_rows,
           floor((b.bucket_rows / (t.t / 16.0)) * 1000.0 + 0.5) / 1000.0
               AS bucket_skew,
           CAST(ceil(k.n_rows / (t.t / 16.0)) AS BIGINT)
               AS suggested_salts
    FROM per_key k JOIN per_bucket b USING (bucket) CROSS JOIN tot t
    ORDER BY k.n_rows DESC, k.event_type LIMIT 10
"""

ORACLE["q107_max_concurrency"] = """
    WITH iv AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               floor(epoch(min(ts)))::BIGINT AS s,
               floor(epoch(max(ts)))::BIGINT AS e
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    d AS (
        SELECT s AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT e AS t, -1 AS delta FROM iv
    ),
    r AS (
        SELECT t, delta, (t // CAST(3600 AS BIGINT)) AS bucket,
               sum(delta) OVER (
                   ORDER BY t, delta DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run
        FROM d
    )
    SELECT bucket, max(run)::BIGINT AS max_concurrent
    FROM r GROUP BY bucket ORDER BY bucket
"""

ORACLE["q108_count_min"] = """
    WITH tok AS (
        SELECT unnest(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    exact AS (
        SELECT tok, count(*)::BIGINT AS exact_count FROM tok GROUP BY tok
    ),
    probes AS (
        SELECT tok, exact_count FROM exact
        ORDER BY exact_count DESC, tok LIMIT 20
    ),
    hs AS (SELECT unnest([0, 1, 2]) AS rr),
    sketch AS (
        SELECT rr, substr(md5(rr || ':' || t.tok), 1, 2) AS bucket,
               count(*)::BIGINT AS cnt
        FROM tok t, hs GROUP BY rr, substr(md5(rr || ':' || t.tok), 1, 2)
    ),
    pb AS (
        SELECT p.tok, p.exact_count, hs.rr,
               substr(md5(hs.rr || ':' || p.tok), 1, 2) AS bucket
        FROM probes p, hs
    )
    SELECT pb.tok, pb.exact_count,
           min(coalesce(s.cnt, 0))::BIGINT AS cms_count
    FROM pb LEFT JOIN sketch s
      ON s.rr = pb.rr AND s.bucket = pb.bucket
    GROUP BY pb.tok, pb.exact_count
    ORDER BY exact_count DESC, tok
"""

ORACLE["q109_categorical_drift"] = """
    WITH o AS (
        SELECT o_orderpriority AS k, count(*)::BIGINT AS n_old
        FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
    ),
    n AS (
        SELECT o_orderpriority AS k, count(*)::BIGINT AS n_new
        FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
    ),
    j AS (
        SELECT coalesce(o.k, n.k) AS k,
               coalesce(o.n_old, 0)::BIGINT AS n_old,
               coalesce(n.n_new, 0)::BIGINT AS n_new
        FROM o FULL OUTER JOIN n ON o.k = n.k
    ),
    t AS (
        SELECT sum(n_old)::BIGINT AS to_, sum(n_new)::BIGINT AS tn_ FROM j
    )
    SELECT j.k AS o_orderpriority, j.n_old, j.n_new,
           floor((j.n_old / t.to_) * 1000000.0 + 0.5) / 1000000.0
               AS share_old,
           floor((j.n_new / t.tn_) * 1000000.0 + 0.5) / 1000000.0
               AS share_new,
           floor((
               (j.n_old - ((j.n_old + j.n_new) / (t.to_ + t.tn_)) * t.to_)
               * (j.n_old - ((j.n_old + j.n_new) / (t.to_ + t.tn_)) * t.to_)
               / (((j.n_old + j.n_new) / (t.to_ + t.tn_)) * t.to_)
             + (j.n_new - ((j.n_old + j.n_new) / (t.to_ + t.tn_)) * t.tn_)
               * (j.n_new - ((j.n_old + j.n_new) / (t.to_ + t.tn_)) * t.tn_)
               / (((j.n_old + j.n_new) / (t.to_ + t.tn_)) * t.tn_)
           ) * 1000000.0 + 0.5) / 1000000.0 AS chi2
    FROM j CROSS JOIN t
    ORDER BY o_orderpriority
"""

ORACLE["q110_ks_drift"] = """
    WITH u AS (
        SELECT o_totalprice::DOUBLE AS v, 1 AS is_o, 0 AS is_n
        FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_totalprice::DOUBLE AS v, 0 AS is_o, 1 AS is_n
        FROM orders WHERE o_orderstatus = 'O'
    ),
    pv AS (
        SELECT v, sum(is_o)::BIGINT AS o_, sum(is_n)::BIGINT AS n_
        FROM u GROUP BY v
    ),
    t AS (
        SELECT sum(o_)::BIGINT AS n_old, sum(n_)::BIGINT AS n_new FROM pv
    ),
    r AS (
        SELECT v,
               sum(o_) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)::BIGINT AS co,
               sum(n_) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)::BIGINT AS cn
        FROM pv
    )
    SELECT t.n_old, t.n_new,
           floor(max(abs(co / t.n_old - cn / t.n_new)) * 1000000.0 + 0.5)
               / 1000000.0 AS ks_stat
    FROM r CROSS JOIN t
    GROUP BY t.n_old, t.n_new
"""

ORACLE["q111_triangles"] = """
    WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
    ),
    und AS (
        SELECT a.s AS a, b.s AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s
        GROUP BY a.s, b.s HAVING count(*) >= 5
    ),
    deg AS (
        SELECT node, count(*)::BIGINT AS d FROM (
            SELECT a AS node FROM und
            UNION ALL SELECT b AS node FROM und
        ) GROUP BY node
    ),
    o AS (
        SELECT CASE WHEN (da.d, und.a) < (db.d, und.b)
                    THEN und.a ELSE und.b END AS u,
               CASE WHEN (da.d, und.a) < (db.d, und.b)
                    THEN und.b ELSE und.a END AS v
        FROM und
        JOIN deg da ON da.node = und.a
        JOIN deg db ON db.node = und.b
    ),
    tri AS (
        SELECT e1.u AS u, e1.v AS x, e2.v AS y
        FROM o e1
        JOIN o e2 ON e1.u = e2.u AND e1.v <> e2.v
        JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    corners AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT x AS node FROM tri
        UNION ALL SELECT y AS node FROM tri
    )
    SELECT deg.node,
           coalesce(c.n, 0)::BIGINT AS n_triangles
    FROM deg LEFT JOIN (
        SELECT node, count(*)::BIGINT AS n FROM corners GROUP BY node
    ) c ON c.node = deg.node
    ORDER BY deg.node
"""

ORACLE["q112_markov_transitions"] = """
    WITH seq AS (
        SELECT event_type AS src_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT src_type, next_type, count(*)::BIGINT AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY src_type, next_type
    )
    SELECT src_type, next_type, n,
           floor((n / (sum(n) OVER (PARTITION BY src_type)))
                 * 1000000.0 + 0.5) / 1000000.0 AS p
    FROM pairs
    ORDER BY src_type, next_type
"""

ORACLE["q113_attribution"] = """
    WITH touched AS (
        SELECT event_type,
               coalesce(first_value(
                   CASE WHEN event_type <> 'purchase'
                        THEN event_type END IGNORE NULLS
               ) OVER earlier, 'direct') AS ft,
               coalesce(last_value(
                   CASE WHEN event_type <> 'purchase'
                        THEN event_type END IGNORE NULLS
               ) OVER earlier, 'direct') AS lt
        FROM events
        WINDOW earlier AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    ),
    conv AS (SELECT ft, lt FROM touched WHERE event_type = 'purchase'),
    f AS (
        SELECT ft AS channel, count(*)::BIGINT AS first_touch
        FROM conv GROUP BY ft
    ),
    l AS (
        SELECT lt AS channel, count(*)::BIGINT AS last_touch
        FROM conv GROUP BY lt
    )
    SELECT coalesce(f.channel, l.channel) AS channel,
           coalesce(f.first_touch, 0)::BIGINT AS first_touch,
           coalesce(l.last_touch, 0)::BIGINT AS last_touch
    FROM f FULL OUTER JOIN l ON f.channel = l.channel
    ORDER BY channel
"""

ORACLE["q114_forward_fill"] = """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           last_value(
               CASE WHEN event_type = 'purchase' THEN value END
               IGNORE NULLS
           ) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS carried
    FROM events
    ORDER BY event_id
"""

ORACLE["q115_autocorrelation"] = """
    WITH lagged AS (
        SELECT user_id,
               CAST(value AS DECIMAL(20,2)) AS x,
               lag(CAST(value AS DECIMAL(20,2)), 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS l1,
               lag(CAST(value AS DECIMAL(20,2)), 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS l2,
               lag(CAST(value AS DECIMAL(20,2)), 3) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS l3
        FROM events
    ),
    per AS (
        SELECT user_id,
               count(*)::BIGINT AS n,
               CAST(sum(x) AS DECIMAL(38,6)) AS s,
               CAST(sum(x * x) AS DECIMAL(38,6)) AS ss,
               count(l1)::BIGINT AS n1,
               CAST(sum(CASE WHEN l1 IS NOT NULL THEN x END)
                    AS DECIMAL(38,6)) AS sa1,
               CAST(sum(l1) AS DECIMAL(38,6)) AS sb1,
               CAST(sum(x * l1) AS DECIMAL(38,6)) AS sxy1,
               count(l2)::BIGINT AS n2,
               CAST(sum(CASE WHEN l2 IS NOT NULL THEN x END)
                    AS DECIMAL(38,6)) AS sa2,
               CAST(sum(l2) AS DECIMAL(38,6)) AS sb2,
               CAST(sum(x * l2) AS DECIMAL(38,6)) AS sxy2,
               count(l3)::BIGINT AS n3,
               CAST(sum(CASE WHEN l3 IS NOT NULL THEN x END)
                    AS DECIMAL(38,6)) AS sa3,
               CAST(sum(l3) AS DECIMAL(38,6)) AS sb3,
               CAST(sum(x * l3) AS DECIMAL(38,6)) AS sxy3
        FROM lagged GROUP BY user_id
    ),
    m AS (
        SELECT *,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
               CAST(ss AS DOUBLE)
                 - 2.0 * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * CAST(s AS DOUBLE)
                 + CAST(n AS DOUBLE)
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS den
        FROM per
    ),
    rows_ AS (
        SELECT user_id, 1 AS lag, n1 AS n_pairs,
               (CAST(sxy1 AS DOUBLE)
                  - mu * (CAST(sa1 AS DOUBLE) + CAST(sb1 AS DOUBLE))
                  + CAST(n1 AS DOUBLE) * mu * mu)
                 / nullif(den, 0.0) AS raw
        FROM m
        UNION ALL
        SELECT user_id, 2, n2,
               (CAST(sxy2 AS DOUBLE)
                  - mu * (CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE))
                  + CAST(n2 AS DOUBLE) * mu * mu)
                 / nullif(den, 0.0)
        FROM m
        UNION ALL
        SELECT user_id, 3, n3,
               (CAST(sxy3 AS DOUBLE)
                  - mu * (CAST(sa3 AS DOUBLE) + CAST(sb3 AS DOUBLE))
                  + CAST(n3 AS DOUBLE) * mu * mu)
                 / nullif(den, 0.0)
        FROM m
    )
    SELECT user_id, lag::INT AS lag, n_pairs,
           floor(raw * 1000000.0 + 0.5) / 1000000.0 AS r
    FROM rows_
    ORDER BY user_id, lag
"""

ORACLE["q116_cusum_changepoint"] = """
    WITH staged AS (
        SELECT user_id, ts, event_id,
               CAST(sum(CAST(value AS DECIMAL(20,2))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DECIMAL(38,6)) AS cum,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               )::BIGINT AS i,
               CAST(sum(CAST(value AS DECIMAL(20,2))) OVER (
                   PARTITION BY user_id
               ) AS DECIMAL(38,6)) AS tot,
               count(*) OVER (PARTITION BY user_id)::BIGINT AS cnt
        FROM events
    ),
    scored AS (
        SELECT user_id, ts, event_id, cnt,
               floor((CAST(cum AS DOUBLE)
                      - CAST(i AS DOUBLE)
                        * (CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE)))
                     * 1000000.0 + 0.5) / 1000000.0 AS s
        FROM staged
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY abs(s) DESC, ts, event_id
        ) AS rn
        FROM scored
    )
    SELECT user_id, cnt AS n,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS cp_ts,
           event_id AS cp_seq, s AS cusum
    FROM ranked WHERE rn = 1
    ORDER BY user_id
"""

ORACLE["q117_unpivot_profile"] = """
    WITH long AS (
        SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT metric,
           count(*)::BIGINT AS n,
           CAST(CAST(sum(CAST(val AS DECIMAL(20,2))) AS DECIMAL(38,2))
                AS VARCHAR) AS total,
           min(val) AS vmin,
           max(val) AS vmax,
           floor((CAST(sum(CAST(val AS DECIMAL(20,2))) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5)
               / 1000000.0 AS mean
    FROM long GROUP BY metric ORDER BY metric
"""

ORACLE["q118_correlation_matrix"] = """
    WITH a AS (
        SELECT count(*)::BIGINT AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS s_q,
            CAST(sum(CAST(l_quantity AS DECIMAL(20,2)) * CAST(l_quantity AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS ss_q,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS s_e,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(l_extendedprice AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS ss_e,
            CAST(sum(CAST(l_discount AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS s_d,
            CAST(sum(CAST(l_discount AS DECIMAL(20,2)) * CAST(l_discount AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS ss_d,
            CAST(sum(CAST(l_tax AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS s_t,
            CAST(sum(CAST(l_tax AS DECIMAL(20,2)) * CAST(l_tax AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS ss_t,
            CAST(sum(CAST(l_quantity AS DECIMAL(20,2)) * CAST(l_extendedprice AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS sxy_q_e,
            CAST(sum(CAST(l_quantity AS DECIMAL(20,2)) * CAST(l_discount AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS sxy_q_d,
            CAST(sum(CAST(l_quantity AS DECIMAL(20,2)) * CAST(l_tax AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS sxy_q_t,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(l_discount AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS sxy_e_d,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(l_tax AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS sxy_e_t,
            CAST(sum(CAST(l_discount AS DECIMAL(20,2)) * CAST(l_tax AS DECIMAL(20,2))) AS DECIMAL(38,6)) AS sxy_d_t
        FROM lineitem
    ),
    pairs AS (
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
               (CAST(n AS DOUBLE) * CAST(sxy_q_e AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_e AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(ss_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(ss_e AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))) AS raw
        FROM a
        UNION ALL
        SELECT 'l_discount', 'l_tax',
               (CAST(n AS DOUBLE) * CAST(sxy_d_t AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_t AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE)))
        FROM a
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount',
               (CAST(n AS DOUBLE) * CAST(sxy_e_d AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_d AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(ss_e AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
        FROM a
        UNION ALL
        SELECT 'l_extendedprice', 'l_tax',
               (CAST(n AS DOUBLE) * CAST(sxy_e_t AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_t AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(ss_e AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE)))
        FROM a
        UNION ALL
        SELECT 'l_quantity', 'l_discount',
               (CAST(n AS DOUBLE) * CAST(sxy_q_d AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_d AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(ss_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
        FROM a
        UNION ALL
        SELECT 'l_quantity', 'l_tax',
               (CAST(n AS DOUBLE) * CAST(sxy_q_t AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_t AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(ss_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE)))
        FROM a
    )
    SELECT col_a, col_b,
           floor(raw * 1000000.0 + 0.5) / 1000000.0 AS r
    FROM pairs ORDER BY col_a, col_b
"""

ORACLE["q119_systematic_sample"] = """
    WITH t AS (SELECT sum(n_chars)::BIGINT AS total FROM documents),
    c AS (
        SELECT doc_id, source, n_chars,
               sum(n_chars) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cum_w
        FROM documents
    )
    SELECT doc_id, source, n_chars, cum_w
    FROM c CROSS JOIN t
    WHERE (cum_w * 50) // total > ((cum_w - n_chars) * 50) // total
    ORDER BY doc_id
"""

ORACLE["q120_ivm_apply"] = """
    SELECT o_custkey,
           count(*)::BIGINT AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(20,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS spend
    FROM orders
    WHERE NOT (o_orderdate < TIMESTAMP '1996-01-01'
               AND o_orderkey % 10 = 0)
    GROUP BY o_custkey
    ORDER BY o_custkey
"""

ORACLE["q121_pii_report"] = f"""
    WITH docs AS ({_Q121_SYNTH.replace("__TBL__", "customer")}),
    counted AS (
        SELECT segment,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+'))
                   ::BIGINT AS e,
               len(regexp_extract_all(
                   -- IDNUM counted on the email-replaced text,
                   -- mirroring the operator's replacement ladder
                   -- (an SSN-shaped span inside an email local-part
                   -- must not count), as the phone count already does
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+',
                       chr(57344), 'g'),
                   '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}'))::BIGINT AS i,
               len(regexp_extract_all(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+',
                           chr(57344), 'g'),
                       '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}',
                       chr(57347), 'g'),
                   '[+][0-9]{{7,12}}'))::BIGINT AS p
        FROM docs
    )
    SELECT segment,
           count(*)::BIGINT AS docs_scanned,
           count(CASE WHEN e > 0 THEN 1 END)::BIGINT AS docs_email,
           sum(e)::BIGINT AS n_email,
           count(CASE WHEN p > 0 THEN 1 END)::BIGINT AS docs_phone,
           sum(p)::BIGINT AS n_phone,
           count(CASE WHEN i > 0 THEN 1 END)::BIGINT AS docs_id,
           sum(i)::BIGINT AS n_id
    FROM counted GROUP BY segment ORDER BY segment
"""

ORACLE["q122_snapshot_novelty"] = f"""
    WITH {_shingle_ctes(carry=", source")},
    old_sh AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0
    ),
    per_source AS (
        SELECT DISTINCT source, shingle FROM sh WHERE doc_id % 2 = 1
    ),
    tot AS (
        SELECT source, count(*)::BIGINT AS n_shingles
        FROM per_source GROUP BY source
    ),
    nov AS (
        SELECT p.source, count(*)::BIGINT AS n_novel
        FROM per_source p
        WHERE NOT EXISTS (
            SELECT 1 FROM old_sh o WHERE o.shingle = p.shingle
        )
        GROUP BY p.source
    )
    SELECT t.source, t.n_shingles,
           coalesce(n.n_novel, 0)::BIGINT AS n_novel,
           floor((coalesce(n.n_novel, 0) / t.n_shingles)
                 * 1000000.0 + 0.5) / 1000000.0 AS novelty
    FROM tot t LEFT JOIN nov n ON n.source = t.source
    ORDER BY t.source
"""

ORACLE["q123_radius_join"] = """
    WITH pts AS (
        SELECT event_id, event_type,
               value AS x, (event_id % 997)::DOUBLE AS y
        FROM events
    ),
    a AS (SELECT event_id, x, y FROM pts WHERE event_type = 'purchase'),
    b AS (SELECT event_id, x, y FROM pts WHERE event_type = 'error')
    SELECT a.event_id AS event_id_a, b.event_id AS event_id_b,
           floor(sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y))
                 * 1000000.0 + 0.5) / 1000000.0 AS dist
    FROM a JOIN b
      ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 2.25
    ORDER BY event_id_a, event_id_b
"""

ORACLE["q124_session_paths"] = """
    WITH paths AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT path, count(*)::BIGINT AS n
    FROM paths GROUP BY path
    ORDER BY n DESC, path LIMIT 20
"""

ORACLE["q125_rolling_active_users"] = """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT strftime(d.day, '%Y-%m-%d') AS win_day,
           count(DISTINCT u.user_id)::BIGINT AS active_users
    FROM days d
    JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day ORDER BY win_day
"""

ORACLE["q126_benford"] = """
    WITH c AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               count(*)::BIGINT AS n
        FROM orders GROUP BY 1
    ),
    t AS (SELECT sum(n)::BIGINT AS tot FROM c),
    e AS (
        SELECT * FROM (VALUES
            (1, 0.301030), (2, 0.176091), (3, 0.124939),
            (4, 0.096910), (5, 0.079181), (6, 0.066947),
            (7, 0.057992), (8, 0.051153), (9, 0.045757)
        ) AS v(digit, p)
    )
    SELECT c.digit, c.n,
           floor((c.n / t.tot) * 1000000.0 + 0.5) / 1000000.0 AS share,
           e.p::DOUBLE AS expected,
           floor(((c.n / t.tot - e.p::DOUBLE)
                  * (c.n / t.tot - e.p::DOUBLE) / e.p::DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2_contrib
    FROM c CROSS JOIN t JOIN e ON e.digit = c.digit
    ORDER BY c.digit
"""

ORACLE["q127_conversion_lag"] = """
    WITH conv AS (
        SELECT (user_id % 4)::INT AS cohort, event_id,
               ((epoch_us(ts) - epoch_us(lv)) // 1000000)::BIGINT AS gap_s
        FROM (
            SELECT user_id, event_type, event_id, ts,
                   last_value(
                       CASE WHEN event_type = 'view' THEN ts END
                       IGNORE NULLS
                   ) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS lv
            FROM events
        )
        WHERE event_type = 'purchase' AND lv IS NOT NULL
    ),
    ranked AS (
        SELECT cohort, gap_s,
               row_number() OVER (
                   PARTITION BY cohort ORDER BY gap_s, event_id
               )::BIGINT AS rn,
               count(*) OVER (PARTITION BY cohort)::BIGINT AS n
        FROM conv
    )
    SELECT cohort,
           max(n) AS n_conversions,
           max(CASE WHEN rn = ceil(n * 0.5) THEN gap_s END) AS med_lag_s,
           max(CASE WHEN rn = ceil(n * 0.9) THEN gap_s END) AS p90_lag_s
    FROM ranked GROUP BY cohort ORDER BY cohort
"""

ORACLE["q128_equidepth_hist"] = """
    WITH ranked AS (
        SELECT o_totalprice,
               row_number() OVER (
                   ORDER BY o_totalprice, o_orderkey
               )::BIGINT AS rn,
               count(*) OVER ()::BIGINT AS n
        FROM orders
    )
    SELECT ((rn - 1) * 10) // n AS bucket,
           count(*)::BIGINT AS n_rows,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM ranked GROUP BY 1 ORDER BY bucket
"""


ORACLE["q130_source_overlap"] = f"""
    WITH {_shingle_ctes(carry=", source")},
    ss AS (SELECT DISTINCT source, shingle FROM sh),
    sizes AS (
        SELECT source, count(*)::BIGINT AS n_sh FROM ss GROUP BY source
    ),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               count(*)::BIGINT AS n_shared
        FROM ss a JOIN ss b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.src_a, s.src_b, s.n_shared,
           floor((s.n_shared / least(sa.n_sh, sb.n_sh))
                 * 1000000.0 + 0.5) / 1000000.0 AS containment
    FROM shared s
    JOIN sizes sa ON sa.source = s.src_a
    JOIN sizes sb ON sb.source = s.src_b
    ORDER BY s.src_a, s.src_b
"""

ORACLE["q131_cluster_safe_split"] = f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_VERIFIED_CTE},
    {_components_ctes("verified")},
    fam AS (
        SELECT d2.doc_id,
               coalesce(c.cluster_id, d2.doc_id) AS family
        FROM documents d2 LEFT JOIN comp c ON c.id = d2.doc_id
    )
    SELECT doc_id, family,
           CASE
               WHEN substr(md5(CAST(family AS VARCHAR)), 1, 8)
                    < 'cccccccc' THEN 'train'
               WHEN substr(md5(CAST(family AS VARCHAR)), 1, 8)
                    < 'e6666666' THEN 'val'
               ELSE 'test' END AS split
    FROM fam ORDER BY doc_id
"""


ORACLE["q132_expectations"] = """
    WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM orders),
    r AS (
        SELECT 'not_null' AS rule, 'o_custkey' AS "column", n.n_rows,
               (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                   ::BIGINT AS n_violations
        FROM n
        UNION ALL
        SELECT 'not_null', 'o_orderdate', n.n_rows,
               (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
                   ::BIGINT
        FROM n
        UNION ALL
        SELECT 'accepted_values', 'o_orderstatus', n.n_rows,
               (SELECT count(*) FROM orders
                WHERE o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('F', 'O', 'P'))::BIGINT
        FROM n
        UNION ALL
        SELECT 'range', 'o_totalprice', n.n_rows,
               (SELECT count(*) FROM orders
                WHERE o_totalprice < 0.0
                   OR o_totalprice > 1000000.0)::BIGINT
        FROM n
        UNION ALL
        SELECT 'unique', 'o_orderkey', n.n_rows,
               (SELECT count(o_orderkey) - count(DISTINCT o_orderkey)
                FROM orders)::BIGINT
        FROM n
        UNION ALL
        SELECT 'in_set', 'o_custkey', n.n_rows,
               (SELECT count(*) FROM orders o
                WHERE o.o_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
                   ::BIGINT
        FROM n
    )
    SELECT rule, "column", n_rows, n_violations,
           n_violations = 0 AS passed
    FROM r
    ORDER BY rule, "column"
"""


ORACLE["q134_new_vs_returning"] = '''
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first AS (
        SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
    )
    SELECT strftime(ud.day, '%Y-%m-%d') AS day,
           count(CASE WHEN ud.day = f.first_day THEN 1 END)::BIGINT
               AS new_users,
           count(CASE WHEN ud.day <> f.first_day THEN 1 END)::BIGINT
               AS returning_users
    FROM ud JOIN first f ON f.user_id = ud.user_id
    GROUP BY ud.day ORDER BY day
'''

ORACLE["q135_dup_source_mix"] = f"""
    WITH {_minhash_ctes()},
    {_VERIFIED_CTE}
    SELECT (da.source = db.source) AS intra_source,
           count(*)::BIGINT AS n_pairs
    FROM verified v
    JOIN documents da ON da.doc_id = v.id_a
    JOIN documents db ON db.doc_id = v.id_b
    GROUP BY 1 ORDER BY intra_source
"""

# q136 serves the SAME gate as q102 from the incrementally-maintained
# index; incremental ≡ recompute is the operator contract, so the
# oracle is q102's (the reference answer does not depend on how the
# corpus side was indexed).
ORACLE["q136_dedup_index_gate"] = ORACLE["q102_dedup_against"]

# q140: nest one replace() per merge, identical algebra both engines
# (left-to-right non-overlapping replace; symbols separator-wrapped so
# matches are symbol-anchored).
def _q140_replace_chain(expr: str) -> str:
    for a, b in _Q140_MERGES:
        pat = f"chr(31)||'{a}'||chr(31)||chr(31)||'{b}'||chr(31)"
        rep = f"chr(31)||'{a}{b}'||chr(31)"
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


# A word ``w`` as separator-wrapped character symbols plus the
# end-of-word marker: the BPE input form.
_BPE_SYMBOLS = """array_to_string(
                 list_transform(string_split(w, ''),
                                c -> chr(31) || c || chr(31)),
                 '') || chr(31) || '</w>' || chr(31)"""


def _bpe_count_ctes(src: str, key: str) -> str:
    """bw0/bw/bs/bm/nt: every word of ``src(key, text)`` through the
    q140 merge chain, subwords summed per ``key`` as
    ``nt(key, n_subtoks)``; ``bw(key, w)`` holds the words."""
    return f"""bw0 AS (
        SELECT {key},
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM {src}
    ),
    bw AS (
        SELECT {key}, replace(w, chr(31), '') AS w
        FROM bw0 WHERE len(w) > 0
    ),
    bs AS (SELECT {key}, {_BPE_SYMBOLS} AS s FROM bw),
    bm AS (SELECT {key}, {_q140_replace_chain('s')} AS s FROM bs),
    nt AS (
        SELECT {key},
               sum(len(string_split(substring(s, 2, len(s) - 2),
                                    chr(31) || chr(31))))::BIGINT AS n_subtoks
        FROM bm GROUP BY {key}
    )"""


ORACLE["q140_bpe_tokenize"] = f"""
    WITH w0 AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ),
    w AS (
        SELECT replace(w, chr(31), '') AS w FROM w0 WHERE len(w) > 0
    ),
    s AS (
        SELECT {_BPE_SYMBOLS} AS s
        FROM w
    ),
    m AS (SELECT {_q140_replace_chain('s')} AS s FROM s),
    t AS (
        SELECT unnest(string_split(substring(s, 2, len(s) - 2),
                                   chr(31) || chr(31))) AS token
        FROM m
    )
    SELECT token, count(*)::BIGINT AS n
    FROM t GROUP BY token ORDER BY n DESC, token LIMIT 50
"""


# q141: the capstone composes the q102 gate + q30 quality + q140
# tokenizer + q85 budget oracles into one pipeline — each fragment is
# the already-hash-green formula of its source query, verbatim.
ORACLE["q141_ingest_pipeline"] = f"""
    WITH {_minhash_ctes()},
    {_GATE_DUP_CTE},
    fresh AS (
        SELECT doc_id, source, text FROM documents
        WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT bid FROM dup)
    ),
    {_quality_ctes("fresh")},
    kept AS (
        SELECT doc_id, quality FROM (
            SELECT doc_id, {_QUALITY} AS quality FROM r
        ) WHERE quality >= 0.6
    ),
    {_bpe_count_ctes("fresh WHERE doc_id IN (SELECT doc_id FROM kept)", "doc_id")},
    staged AS (
        SELECT k.doc_id, f.source, k.quality,
               coalesce(nt.n_subtoks, 0)::BIGINT AS n_subtoks
        FROM kept k
        JOIN fresh f ON f.doc_id = k.doc_id
        LEFT JOIN nt ON nt.doc_id = k.doc_id
    ),
    cum AS (
        SELECT *, sum(n_subtoks) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_subtoks
        FROM staged
    )
    SELECT doc_id, source, quality, n_subtoks, cum_subtoks
    FROM cum WHERE cum_subtoks <= 1500 ORDER BY doc_id
"""


# q142: q97's chunking CTE + the hash-embedding formula (exact BIGINT
# hex parse both engines) + q22's cosine/rank recipe.
_Q142_EMBED = (
    "list_transform(range(16), j -> "
    "((('0x' || substr(md5({src} || ':' || j::VARCHAR), 1, 8))::BIGINT "
    "% 2001 - 1000) / 1000.0))"
)
_Q142_QUERY_ROWS = ", ".join(
    f"({qid}, '{qt}')" for qid, qt in _Q142_QUERIES
)

ORACLE["q142_chunk_retrieval"] = f"""
    WITH {_CHUNK_CTES},
    ch AS (
        SELECT doc_id, chunk_id::BIGINT AS chunk_id,
               array_to_string(
                   toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
                   AS chunk_text
        FROM g
    ), cv AS (
        SELECT doc_id, chunk_id,
               {_Q142_EMBED.format(src="chunk_text")} AS v
        FROM ch
    ), cn AS (
        SELECT doc_id, chunk_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM cv
    ), q AS (
        SELECT query_id,
               {_Q142_EMBED.format(src="qtext")} AS p
        FROM (VALUES {_Q142_QUERY_ROWS}) AS qq(query_id, qtext)
    ), qn AS (
        SELECT query_id, p,
               sqrt(list_sum(list_transform(p, x -> x * x))) AS pn
        FROM q
    ), s AS (
        SELECT qn.query_id, cn.doc_id, cn.chunk_id,
               floor(list_sum(list_transform(range(len(cn.v)),
                         i -> qn.p[i+1] * cn.v[i+1])) / (qn.pn * cn.nrm)
                     * 10000.0 + 0.5) / 10000.0 AS cosine
        FROM qn, cn
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, doc_id, chunk_id) AS rk
        FROM s
    )
    SELECT query_id, doc_id, chunk_id, cosine
    FROM r WHERE rk <= 5 ORDER BY query_id, doc_id, chunk_id
"""


def _bm25_lane_sql(query_rows: str | None = None) -> str:
    """BM25 CTE chain — engine-exact twin of
    ``operators.retrieval.bm25_topk`` (k1=1.2, b=0.75; constants
    folded to the same literals the Spark side embeds; every
    BIGINT-meets-decimal-literal site casts to DOUBLE first so DuckDB
    never drops into exact-decimal arithmetic the JVM isn't doing).
    Ends in a ``lex`` relation (query_id, doc_id, bm25, rk).
    ``query_rows``: VALUES-list literal for the query set (defaults
    to the q142 set)."""
    _QUERY_ROWS = query_rows or _Q142_QUERY_ROWS
    return f"""
    toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    per_doc AS (
        SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tk GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tk GROUP BY 1),
    dfv AS (SELECT tok, count(*)::BIGINT AS df FROM per_doc GROUP BY 1),
    st AS (
        SELECT count(*)::DOUBLE AS n,
               sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
        FROM dl
    ),
    qt0 AS (
        SELECT query_id,
               unnest(regexp_split_to_array(lower(trim(qtext)), '\\s+')) AS tok
        FROM (VALUES {_QUERY_ROWS}) AS qq(query_id, qtext)
    ),
    qt AS (SELECT DISTINCT query_id, tok FROM qt0 WHERE tok <> ''),
    contrib AS (
        SELECT q.query_id, p.doc_id,
               floor(((st.n - dfv.df + 0.5) / (dfv.df + 0.5))
                     * ((CAST(p.tf AS DOUBLE) * 2.2)
                        / (p.tf + 1.2 * (0.25 + 0.75 * (dl.dl / st.avgdl))))
                     * 1000000.0 + 0.5) / 1000000.0 AS c
        FROM qt q
        JOIN per_doc p USING (tok)
        JOIN dl ON dl.doc_id = p.doc_id
        JOIN dfv USING (tok)
        CROSS JOIN st
    ),
    sc_bm AS (
        SELECT query_id, doc_id,
               floor(sum(CAST(c AS DECIMAL(27,6)))::DOUBLE * 10000.0 + 0.5)
                   / 10000.0 AS bm25
        FROM contrib GROUP BY 1, 2
    ),
    lex AS (
        SELECT query_id, doc_id, bm25,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY bm25 DESC, doc_id) AS rk
        FROM sc_bm
    )"""


def _dense_lane_sql(query_rows: str | None = None) -> str:
    """The dense lane beside _bm25_lane_sql: doc and query hash
    embeddings (the q142 recipe), pround-4 cosine, ranked as
    ``den(query_id, doc_id, rk)``. ``query_rows`` as there."""
    rows = query_rows or _Q142_QUERY_ROWS
    return f"""dv AS (
        SELECT doc_id, {_Q142_EMBED.format(src="text")} AS v
        FROM documents
    ),
    dn AS (
        SELECT doc_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM dv
    ),
    qv AS (
        SELECT query_id, {_Q142_EMBED.format(src="qtext")} AS p
        FROM (VALUES {rows}) AS qq2(query_id, qtext)
    ),
    qn2 AS (
        SELECT query_id, p,
               sqrt(list_sum(list_transform(p, x -> x * x))) AS pn
        FROM qv
    ),
    ds AS (
        SELECT q.query_id, d.doc_id,
               floor(list_sum(list_transform(range(len(d.v)),
                         i -> q.p[i+1] * d.v[i+1])) / (q.pn * d.nrm)
                     * 10000.0 + 0.5) / 10000.0 AS cosine
        FROM qn2 q, dn d
    ),
    den AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, doc_id) AS rk
        FROM ds
    )"""


# The q176/q178 query set as a VALUES list.
_Q176_QUERY_ROWS = ", ".join(f"({qid}, '{qt}')" for qid, qt in _Q176_QUERIES)


ORACLE["q144_bm25_retrieval"] = f"""
    WITH {_bm25_lane_sql()}
    SELECT query_id, doc_id, bm25, rk::BIGINT AS rk
    FROM lex WHERE rk <= 5 ORDER BY query_id, doc_id
"""


# q150 serves q144's exact results from the persisted lexical index
# (bm25_topk IS build + search — equality by construction), so it
# shares q144's oracle verbatim: the q136/q102 incremental-index
# pattern.
ORACLE["q150_bm25_index_search"] = ORACLE["q144_bm25_retrieval"]


# q145: the BM25 lane (k=10) + the dense lane (doc-level hash
# embeddings through q22's cosine recipe) fused with RRF. The
# CAST(rk AS DOUBLE) inside 1/(60+rk) keeps DuckDB in IEEE double
# division (60.0 + BIGINT would be exact-decimal arithmetic).
ORACLE["q145_hybrid_retrieval"] = f"""
    WITH {_bm25_lane_sql()},
    {_dense_lane_sql()},
    den10 AS (SELECT * FROM den WHERE rk <= 10),
    lex10 AS (SELECT query_id, doc_id, rk FROM lex WHERE rk <= 10),
    fused AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               floor((coalesce(1.0 / (60.0 + CAST(l.rk AS DOUBLE)), 0.0)
                      + coalesce(1.0 / (60.0 + CAST(d.rk AS DOUBLE)), 0.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS rrf,
               coalesce(l.rk, 0)::BIGINT AS rk_bm25,
               coalesce(d.rk, 0)::BIGINT AS rk_cos
        FROM lex10 l FULL OUTER JOIN den10 d
             ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    ),
    fr AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, doc_id) AS frk
        FROM fused
    )
    SELECT query_id, doc_id, rrf, rk_bm25, rk_cos, frk::BIGINT AS rk
    FROM fr WHERE frk <= 10 ORDER BY query_id, doc_id
"""


# q146: q140's engine-portable BPE replace chain, per-doc subword
# counts (the q141 nt CTE shape) over ALL documents, ratioed against
# the character length.
ORACLE["q146_bpe_compression"] = f"""
    WITH {_bpe_count_ctes("documents", "doc_id")},
    base AS (
        SELECT doc_id, len(text)::BIGINT AS n_chars
        FROM documents WHERE len(text) > 0
    )
    SELECT b.doc_id,
           coalesce(nt.n_subtoks, 0)::BIGINT AS n_subtoks,
           b.n_chars,
           floor(CAST(coalesce(nt.n_subtoks, 0) AS DOUBLE)
                 / CAST(b.n_chars AS DOUBLE) * 10000.0 + 0.5) / 10000.0
               AS compression
    FROM base b LEFT JOIN nt ON nt.doc_id = b.doc_id
    ORDER BY b.doc_id
"""


# q147: hashed-unigram buckets (the hash_embedding BIGINT hex-parse
# recipe), Laplace-smoothed target/raw ratio per bucket, per-doc
# decimal-summed mean. Every BIGINT-meets-decimal site casts DOUBLE.
ORACLE["q147_importance_weights"] = """
    WITH tk0 AS (
        SELECT doc_id, source = 'src0' AS t,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    tk AS (
        SELECT doc_id, t,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b
        FROM tk0 WHERE tok <> ''
    ),
    pb AS (
        SELECT b,
               sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS nt,
               sum(CASE WHEN t THEN 0 ELSE 1 END)::BIGINT AS nr
        FROM tk GROUP BY b
    ),
    tot AS (
        SELECT sum(CASE WHEN t THEN 1 ELSE 0 END)::DOUBLE AS tot_t,
               sum(CASE WHEN t THEN 0 ELSE 1 END)::DOUBLE AS tot_r
        FROM tk
    ),
    br AS (
        SELECT b,
               floor(((CAST(nt AS DOUBLE) + 1.0) / (tot_t + 64.0))
                     / ((CAST(nr AS DOUBLE) + 1.0) / (tot_r + 64.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS r
        FROM pb CROSS JOIN tot
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_toks,
           floor(sum(CAST(r AS DECIMAL(27,6)))::DOUBLE / count(*)::DOUBLE
                 * 10000.0 + 0.5) / 10000.0 AS importance
    FROM tk JOIN br USING (b)
    GROUP BY doc_id
    ORDER BY doc_id
"""


# q148: LSH candidates from the shared shingle/minhash/band CTE;
# ground truth = shared-shingle pairs with integer-exact Jaccard
# >= 1/2 (2*inter >= union — the prefix_filter_join boundary, no
# float compare anywhere).
ORACLE["q148_lsh_quality_report"] = f"""
    WITH {_minhash_ctes().strip()},
    ss AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
    pair_inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*)::BIGINT AS i
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b
        FROM pair_inter p
        JOIN ss sa ON sa.doc_id = p.id_a
        JOIN ss sb ON sb.doc_id = p.id_b
        WHERE 2 * p.i >= sa.sz + sb.sz - p.i
    ),
    hit AS (
        SELECT t.id_a, t.id_b FROM truth t
        JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    ),
    agg AS (
        SELECT (SELECT count(*)::BIGINT FROM truth) AS n_true,
               (SELECT count(*)::BIGINT FROM cand) AS n_cand,
               (SELECT count(*)::BIGINT FROM hit) AS n_hit
    )
    SELECT n_true, n_cand, n_hit,
           CASE WHEN n_true > 0
                THEN floor(CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
                           * 10000.0 + 0.5) / 10000.0 END AS recall,
           CASE WHEN n_cand > 0
                THEN floor(CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
                           * 10000.0 + 0.5) / 10000.0 END AS prec
    FROM agg
"""


# q149: word counts + the q140 BPE replace chain rolled up per source.
ORACLE["q149_tokenizer_fertility"] = f"""
    WITH {_bpe_count_ctes("documents", "source")},
    nw AS (SELECT source, count(*)::BIGINT AS n_words FROM bw GROUP BY source)
    SELECT source, n_words, n_subtoks,
           floor(CAST(n_subtoks AS DOUBLE) / CAST(n_words AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS fertility
    FROM nw JOIN nt USING (source)
    ORDER BY source
"""


# QUERIES stays in stable declaration order (q01..q143). External
# verification-sweep coverage rotation — a driver concern, not a
# library semantic — lives in ``__spark_entry__.py::queries()``; see
# the note there. Library consumers (bench.py, audit scripts, tests)
# always see declaration order.


ORACLE["q151_hll_rollup"] = """
    WITH s AS (
        SELECT event_type AS slice_key,
               count(DISTINCT user_id)::BIGINT AS approx_ndv
        FROM events GROUP BY 1
    ),
    a AS (
        SELECT '__all__' AS slice_key,
               count(DISTINCT user_id)::BIGINT AS approx_ndv
        FROM events
    )
    SELECT * FROM s UNION ALL SELECT * FROM a ORDER BY slice_key
"""

ORACLE["q152_theta_overlap"] = """
    WITH u AS (
        SELECT DISTINCT event_type AS set_id, user_id FROM events
    ),
    cnt AS (SELECT set_id, count(*)::BIGINT AS n FROM u GROUP BY 1),
    pairs AS (
        SELECT a.set_id AS set_a, b.set_id AS set_b,
               a.n AS na, b.n AS nb
        FROM cnt a JOIN cnt b ON a.set_id < b.set_id
    ),
    inter AS (
        SELECT x.set_id AS set_a, y.set_id AS set_b,
               count(*)::BIGINT AS n_inter
        FROM u x JOIN u y
          ON x.user_id = y.user_id AND x.set_id < y.set_id
        GROUP BY 1, 2
    )
    SELECT p.set_a, p.set_b,
           COALESCE(i.n_inter, 0)::BIGINT AS n_inter,
           (p.na + p.nb - COALESCE(i.n_inter, 0))::BIGINT AS n_union,
           (p.na - COALESCE(i.n_inter, 0))::BIGINT AS n_only_a,
           floor(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                 / greatest(CAST(p.na + p.nb - COALESCE(i.n_inter, 0)
                                 AS DOUBLE), CAST(1 AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS jaccard_est
    FROM pairs p LEFT JOIN inter i
      ON p.set_a = i.set_a AND p.set_b = i.set_b
    ORDER BY p.set_a, p.set_b
"""

ORACLE["q154_compaction_plan"] = """
    WITH f AS (
        SELECT source AS part, doc_id AS id,
               CAST(n_chars AS BIGINT) AS sz
        FROM documents
    ),
    small AS (
        SELECT part, id, sz,
               COALESCE(SUM(sz) OVER (
                   PARTITION BY part ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cumb
        FROM f WHERE sz < 1600
    ),
    planned AS (
        SELECT part, id, sz,
               CAST(floor(CAST(cumb AS DOUBLE) / CAST(1600 AS DOUBLE))
                    AS BIGINT) AS group_id
        FROM small
    ),
    groups AS (
        SELECT part, group_id,
               count(*)::BIGINT AS n_files,
               sum(sz)::BIGINT AS group_bytes,
               min(id)::BIGINT AS first_file,
               max(id)::BIGINT AS last_file
        FROM planned GROUP BY part, group_id
    ),
    kept AS (
        SELECT part, CAST(-1 AS BIGINT) AS group_id,
               CAST(1 AS BIGINT) AS n_files, sz AS group_bytes,
               id::BIGINT AS first_file, id::BIGINT AS last_file
        FROM f WHERE sz >= 1600
    ),
    missing AS (
        -- group_id = -2: stats-not-collected lane (NULL size) — the
        -- Spark side surfaces these explicitly; the fixture has no
        -- NULL n_chars today, but the oracle must carry the same
        -- semantics or a fixture regeneration silently diverges
        -- (round-7 ADVICE item). Exercised by
        -- test_q154_oracle_null_size_lane on synthetic NULLs.
        SELECT part, CAST(-2 AS BIGINT) AS group_id,
               CAST(1 AS BIGINT) AS n_files,
               CAST(NULL AS BIGINT) AS group_bytes,
               id::BIGINT AS first_file, id::BIGINT AS last_file
        FROM f WHERE sz IS NULL
    )
    SELECT * FROM groups UNION ALL SELECT * FROM kept
    UNION ALL SELECT * FROM missing
    ORDER BY part, group_id, first_file
"""

ORACLE["q155_int8_topk"] = """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
    ),
    p AS (SELECT unnest(range(64)) AS pos),
    cell AS (
        SELECT vec_id, pos, v[CAST(pos AS INT) + 1] AS val FROM v, p
    ),
    dims AS (
        SELECT pos, min(val) AS mn, max(val) AS mx
        FROM cell GROUP BY pos
    ),
    dl AS (
        SELECT list(mn ORDER BY pos) AS mns,
               list(mx ORDER BY pos) AS mxs,
               list((mx - mn) / 255.0 ORDER BY pos) AS steps
        FROM dims
    ),
    recon AS (
        SELECT vec_id,
               list_transform(range(64), i ->
                   mns[CAST(i AS INT) + 1] +
                   CAST(CASE WHEN mxs[CAST(i AS INT) + 1]
                                  = mns[CAST(i AS INT) + 1] THEN 0
                        ELSE least(255, greatest(0,
                            CAST(floor((v[CAST(i AS INT) + 1]
                                        - mns[CAST(i AS INT) + 1])
                                       * 255.0
                                       / (mxs[CAST(i AS INT) + 1]
                                          - mns[CAST(i AS INT) + 1]))
                                 AS BIGINT)))
                        END AS DOUBLE)
                   * steps[CAST(i AS INT) + 1]) AS rv
        FROM v, dl
    ),
    n AS (
        SELECT vec_id, rv,
               sqrt(list_sum(list_transform(rv, x -> x * x))) AS nrm
        FROM recon
    ),
    pr AS (
        SELECT vec_id AS probe_id, rv AS pv, nrm AS pn FROM n
        WHERE vec_id < 5
    ),
    s AS (
        SELECT pr.probe_id, c.vec_id,
               floor(list_sum(list_transform(range(len(c.rv)),
                         i -> pr.pv[i+1] * c.rv[i+1])) / (pr.pn * c.nrm)
                     * 10000.0 + 0.5) / 10000.0 AS qcosine
        FROM pr, n c WHERE c.vec_id <> pr.probe_id
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY qcosine DESC, vec_id) AS rk
        FROM s
    )
    SELECT probe_id, vec_id, qcosine FROM r WHERE rk <= 10
    ORDER BY probe_id, vec_id
"""

ORACLE["q156_vocab_growth"] = """
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    b AS (
        SELECT CAST(floor(CAST(doc_id * 8 AS DOUBLE)
                          / CAST(m + 1 AS DOUBLE)) AS BIGINT) AS batch,
               text
        FROM documents, mx
    ),
    toks AS (
        SELECT batch,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM b
    ),
    tk AS (SELECT batch, w FROM toks WHERE w <> ''),
    per_batch AS (
        SELECT batch, count(*)::BIGINT AS n_tokens FROM tk GROUP BY 1
    ),
    news AS (
        SELECT batch, count(*)::BIGINT AS new_types FROM (
            SELECT w, min(batch) AS batch FROM tk GROUP BY w
        ) GROUP BY 1
    ),
    j AS (
        SELECT p.batch, p.n_tokens,
               COALESCE(n.new_types, 0)::BIGINT AS new_types
        FROM per_batch p LEFT JOIN news n ON p.batch = n.batch
    )
    SELECT batch, n_tokens, new_types,
           SUM(new_types) OVER (ORDER BY batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS cum_types,
           floor(CAST(new_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS novelty_rate
    FROM j ORDER BY batch
"""

# q157 serves q155's exact results from the persisted int8 index
# (search_sq_index is the sq_topk ranking verbatim over the stored
# codes) — same oracle by construction, the q150/q144 pattern.
ORACLE["q157_sq_index_search"] = ORACLE["q155_int8_topk"]


ORACLE["q158_sketch_cube"] = """
    SELECT COALESCE(event_type, '__all__') AS etype,
           COALESCE(CAST(day AS VARCHAR), '__all__') AS day,
           count(DISTINCT user_id)::BIGINT AS approx_ndv
    FROM (
        SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events
    )
    GROUP BY CUBE(event_type, day)
    ORDER BY etype, day
"""


ORACLE["q159_basket_lift"] = """
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    kept AS (
        SELECT bk FROM (SELECT bk, count(*) AS c FROM b GROUP BY bk)
        WHERE c <= 200
    ),
    b2 AS (SELECT b.bk, b.it FROM b JOIN kept USING (bk)),
    pairs AS (
        SELECT x.it AS item_a, y.it AS item_b, count(*)::BIGINT AS n_ab
        FROM b2 x JOIN b2 y ON x.bk = y.bk AND x.it < y.it
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    ci AS (SELECT it, count(*)::BIGINT AS n_i FROM b2 GROUP BY it),
    nb AS (SELECT count(DISTINCT bk)::BIGINT AS N FROM b2)
    SELECT p.item_a, p.item_b, p.n_ab, a.n_i AS n_a, c.n_i AS n_b,
           floor(CAST(p.n_ab * nb.N AS DOUBLE)
                 / CAST(a.n_i * c.n_i AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS lift
    FROM pairs p
    JOIN ci a ON a.it = p.item_a
    JOIN ci c ON c.it = p.item_b
    CROSS JOIN nb
    ORDER BY p.n_ab DESC, p.item_a, p.item_b LIMIT 50
"""

ORACLE["q160_golden_record"] = f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, lang, source, n_chars, substr(text, 1, 24) AS p
        FROM documents
    ),
    pr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id
        WHERE levenshtein(a.p, b.p) <= 14
    ),
    {_components_ctes("pr")},
    lab AS (
        SELECT doc.doc_id, doc.source, doc.n_chars,
               COALESCE(c.cluster_id, doc.doc_id)::BIGINT AS cluster_id
        FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
    )
    SELECT cluster_id,
           min(doc_id)::BIGINT AS golden_id,
           count(*)::BIGINT AS n_members,
           count(DISTINCT source)::BIGINT AS n_sources,
           max(n_chars)::BIGINT AS best_n_chars,
           min(source) AS rep_source
    FROM lab GROUP BY cluster_id ORDER BY cluster_id
"""


ORACLE["q161_ab_test"] = """
    WITH u AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase'
                         AND value >= CAST(150 AS DOUBLE)
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    armed AS (
        SELECT converted,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                         < '80000000'
                    THEN 'A' ELSE 'B' END AS arm
        FROM u
    ),
    pa AS (
        SELECT count(*)::BIGINT AS na, sum(converted)::BIGINT AS ca
        FROM armed WHERE arm = 'A'
    ),
    pb AS (
        SELECT count(*)::BIGINT AS nb, sum(converted)::BIGINT AS cb
        FROM armed WHERE arm = 'B'
    )
    SELECT na, ca, nb, cb,
           floor(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS rate_a,
           floor(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS rate_b,
           CASE WHEN sqrt(CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)
                        * (1.0 - CAST(ca + cb AS DOUBLE)
                                 / CAST(na + nb AS DOUBLE))
                        * (1.0 / CAST(na AS DOUBLE)
                           + 1.0 / CAST(nb AS DOUBLE))) > 0
           THEN floor((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / sqrt(CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)
                        * (1.0 - CAST(ca + cb AS DOUBLE)
                                 / CAST(na + nb AS DOUBLE))
                        * (1.0 / CAST(na AS DOUBLE)
                           + 1.0 / CAST(nb AS DOUBLE)))
                 * 10000.0 + 0.5) / 10000.0
           END AS z_score
    FROM pa, pb
"""

ORACLE["q162_cohort_ltv"] = """
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        FROM events GROUP BY user_id
    ),
    purch AS (
        SELECT f.cohort,
               datediff('day', f.cohort, CAST(e.ts AS DATE)) AS age,
               sum(CAST(e.value AS DECIMAL(27,6))) AS v,
               count(*)::BIGINT AS n_purchases
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT strftime(cohort, '%Y-%m-%d %H:%M:%S') AS cohort_day,
           age::BIGINT AS age, n_purchases,
           floor(CAST(SUM(v) OVER (PARTITION BY cohort ORDER BY age
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) * 100.0 + 0.5) / 100.0 AS cum_value
    FROM purch ORDER BY cohort_day, age
"""

# Vector-search oracle fragments (q163-q173, q183).

# The embeddings as DOUBLE lists, ``v(vec_id, v)``, and with their L2
# norms, ``n(vec_id, v, nrm)``.
_VEC_NORMS = """v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM v
    )"""

# Unit vectors (a zero vector stays zero): ``u(vec_id, v, uv, nrm)``.
_VEC_UNIT = """u AS (
        SELECT vec_id, v,
               CASE WHEN nrm = 0 THEN v
                    ELSE list_transform(v, x -> x / nrm) END AS uv,
               nrm
        FROM n
    )"""

# The probes: vec_id < 5, raw ``p(probe_id, pv, pn)`` or unit
# ``p(probe_id, pu)``.
_VEC_PROBES = """p AS (
        SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n
        WHERE vec_id < 5
    )"""
_UNIT_PROBES = """p AS (
        SELECT vec_id AS probe_id,
               CASE WHEN nrm = 0 THEN v
                    ELSE list_transform(v, x -> x / nrm) END AS pu
        FROM n WHERE vec_id < 5
    )"""


def _unit_centroids(k: int) -> str:
    """``cent(ci, cu)``: the ``k`` lowest-id unit vectors, injected as
    centroids."""
    return f"""cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
               CASE WHEN nrm = 0 THEN v
                    ELSE list_transform(v, x -> x / nrm) END AS cu
        FROM n ORDER BY vec_id LIMIT {k}
    )"""


def _nearest_centroid(name: str, col: str) -> str:
    """``name(vec_id, col)``: each ``u`` row's argmax-dot ``cent`` row,
    ties to the lowest index (the numpy argmax contract)."""
    return f"""{name} AS (
        SELECT vec_id, ci AS {col} FROM (
            SELECT u.vec_id, cent.ci,
                   row_number() OVER (PARTITION BY u.vec_id
                       ORDER BY list_sum(list_transform(range(len(u.uv)),
                           i -> u.uv[i+1] * cent.cu[i+1])) DESC,
                           cent.ci ASC) AS rk
            FROM u, cent
        ) WHERE rk = 1
    )"""


# q171/q172: every vector's cluster among 8 injected unit centroids,
# ``asg(vec_id, cluster)``.
_CLUSTER_ASSIGN = f"""{_VEC_NORMS},
    {_VEC_UNIT},
    {_unit_centroids(8)},
    {_nearest_centroid("asg", "cluster")}"""

# PQ codebook and encode: ``cw(ci, cu)`` the 64 lowest-id unit vectors,
# ``cbs(all_cu)`` the same as one list, ``enc0(vec_id, s, code)`` the
# per-4-dim-subspace squared-L2 argmin (ties to the lowest code — the
# numpy argmin contract). Needs ``u``.
_PQ_ENCODE = """cw AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
               CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm)
                    ELSE v END AS cu
        FROM n ORDER BY vec_id LIMIT 64
    ),
    cbs AS (SELECT list(cu ORDER BY ci) AS all_cu FROM cw),
    enc0 AS (
        SELECT vec_id, s, ci AS code FROM (
            SELECT u.vec_id, s.s, cw.ci,
                   row_number() OVER (
                       PARTITION BY u.vec_id, s.s
                       ORDER BY list_sum(list_transform(range(4), j ->
                           (u.uv[s.s*4 + j + 1] - cw.cu[s.s*4 + j + 1])
                         * (u.uv[s.s*4 + j + 1] - cw.cu[s.s*4 + j + 1])))
                           ASC, cw.ci ASC) AS rk
            FROM u, range(16) s(s), cw
        ) WHERE rk = 1
    )"""

# ADC score of unit probe ``p`` against PQ codes ``e.codes``: the
# ORDERED 16-term fold (the JVM aggregate's s=0..15 order), pround-4.
_ADC_SCORE = """floor(list_sum(list_transform(range(16), s ->
                   list_sum(list_transform(range(4), j ->
                       p.pu[s*4 + j + 1]
                     * cbs.all_cu[e.codes[s+1] + 1][s*4 + j + 1]))))
                   * 10000.0 + 0.5) / 10000.0"""

# q165/q170: the IVF-PQ search — corpus bucketed to its nearest of 16
# unit centroids and PQ-encoded; each probe scores the codes of its 4
# nearest buckets by ADC, ``scored(probe_id, vec_id, score)``.
_IVFPQ_SCORED = f"""{_VEC_NORMS},
    {_VEC_UNIT},
    {_unit_centroids(16)},
    {_PQ_ENCODE},
    {_nearest_centroid("vbucket", "bucket")},
    enc AS (
        SELECT e0.vec_id, vb.bucket, list(e0.code ORDER BY e0.s) AS codes
        FROM enc0 e0 JOIN vbucket vb ON vb.vec_id = e0.vec_id
        GROUP BY e0.vec_id, vb.bucket
    ),
    {_UNIT_PROBES},
    pb AS (
        SELECT probe_id, ci AS bucket FROM (
            SELECT p.probe_id, cent.ci,
                   row_number() OVER (PARTITION BY p.probe_id
                       ORDER BY list_sum(list_transform(range(64),
                           i -> p.pu[i+1] * cent.cu[i+1])) DESC,
                           cent.ci ASC) AS rk
            FROM p, cent
        ) WHERE rk <= 4
    ),
    scored AS (
        SELECT p.probe_id, e.vec_id, {_ADC_SCORE} AS score
        FROM p
        JOIN pb ON pb.probe_id = p.probe_id
        JOIN enc e ON e.bucket = pb.bucket
        CROSS JOIN cbs
    )"""

# The ADC lane's top-10 (self-matches ranked, then dropped — the
# report's self-filter), ``appr(probe_id, vec_id)``.
_ADC_APPR = """appr AS (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY score DESC, vec_id) AS rk
            FROM scored
        ) WHERE rk <= 10 AND probe_id <> vec_id
    )"""


def _cosine_centroids(src: str, k: int) -> str:
    """``c(ci, cv, cn)``: the ``k`` lowest-id ``src(vec_id, v, nrm)``
    rows, injected as IVF centroids."""
    return f"""c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv,
               nrm AS cn
        FROM {src} ORDER BY vec_id LIMIT {k}
    )"""


def _cosine_buckets(name: str, src: str, key: str, vec: str, nrm: str,
                    k: int) -> str:
    """``name(key, bucket)``: each ``src`` row's top-``k`` centroids of
    ``c`` by cosine, ties to the HIGHER index (the reverse(array_sort)
    contract); ``vec``/``nrm`` name its vector and norm columns."""
    return f"""{name} AS (
        SELECT {key}, ci AS bucket FROM (
            SELECT r.{key}, c.ci,
                   row_number() OVER (
                       PARTITION BY r.{key}
                       ORDER BY list_sum(list_transform(range(len(r.{vec})),
                                i -> r.{vec}[i+1] * c.cv[i+1])) / (r.{nrm} * c.cn)
                                DESC, c.ci DESC) AS rk
            FROM {src} r, c
        ) WHERE rk <= {k}
    )"""


def _cosine_topk(name: str, k: int, src: str, p: tuple, c: tuple) -> str:
    """``name(probe_id, vec_id)``: per probe, the top-``k`` rows of the
    FROM clause ``src`` by pround-4 cosine DESC, vec_id ASC. ``p`` and
    ``c`` are the probe and candidate sides as ``(id, vector, norm)``
    column expressions."""
    (pid, pv, pn), (cid, cv, cn) = p, c
    return f"""{name} AS (
        SELECT probe_id, vec_id FROM (
            SELECT {pid} AS probe_id, {cid} AS vec_id,
                   row_number() OVER (PARTITION BY {pid}
                       ORDER BY floor(list_sum(list_transform(
                           range(len({cv})),
                           i -> {pv}[i+1] * {cv}[i+1])) / ({pn} * {cn})
                           * 10000.0 + 0.5) / 10000.0 DESC,
                           {cid}) AS rk
            FROM {src}
        ) WHERE rk <= {k}
    )"""


# The exact baseline: each probe's (vec_id < 5) true top-10, self
# excluded, ``ex(probe_id, vec_id)``.
_EXACT_TOP10 = _cosine_topk(
    "ex", 10, "n pp, n c2 WHERE pp.vec_id < 5 AND c2.vec_id <> pp.vec_id",
    ("pp.vec_id", "pp.v", "pp.nrm"), ("c2.vec_id", "c2.v", "c2.nrm"),
)

# The rounded-cosine rerank of ``cand(probe_id, vec_id)`` against the
# raw probes ``p``, top-10, ``appr(probe_id, vec_id)``.
_PROBE_APPR = _cosine_topk(
    "appr", 10,
    "cand cd JOIN n cc ON cc.vec_id = cd.vec_id"
    " JOIN p pp ON pp.probe_id = cd.probe_id",
    ("cd.probe_id", "pp.pv", "pp.pn"), ("cd.vec_id", "cc.v", "cc.nrm"),
)


def _recall_tail(key: str = "probe_id", exact: str = "ex",
                 approx: str = "appr", item: str = "vec_id") -> str:
    """ne/na/nh and the report SELECT: per ``key``, the exact and
    approximate result counts, their overlap on ``item`` and the
    pround-4 recall. The FULL join mirrors the recall operator: a key
    seen ONLY by the approx lane round-trips as an n_exact=0 anomaly
    row on both engines, not as an opaque hash mismatch."""
    return f"""ne AS (SELECT {key}, count(*)::BIGINT AS n_exact FROM {exact} GROUP BY 1),
    na AS (SELECT {key}, count(*)::BIGINT AS n_approx FROM {approx} GROUP BY 1),
    nh AS (
        SELECT e.{key}, count(*)::BIGINT AS n_hit
        FROM {exact} e JOIN {approx} a USING ({key}, {item}) GROUP BY 1
    )
    SELECT {key},
           coalesce(n_exact, 0)::BIGINT AS n_exact,
           coalesce(n_approx, 0)::BIGINT AS n_approx,
           coalesce(n_hit, 0)::BIGINT AS n_hit,
           CASE WHEN coalesce(n_exact, 0) > 0 THEN
               floor(coalesce(n_hit, 0)::DOUBLE / n_exact::DOUBLE
                     * 10000.0 + 0.5) / 10000.0
           END AS recall
    FROM ne FULL JOIN na USING ({key}) LEFT JOIN nh USING ({key})
    ORDER BY {key}"""


# q163: the oracle re-derives the ENTIRE injected-centroid IVF search —
# assignment (argmax cosine, ties to the higher centroid index, the
# reverse(array_sort) contract), nprobe=3 probe buckets, candidate
# equi-join with self-exclusion, rounded-cosine ranking — then the
# exact baseline (q22 logic) and the per-probe recall arithmetic.
ORACLE["q163_ivf_recall_report"] = f"""
    WITH {_VEC_NORMS},
    {_cosine_centroids("n", 16)},
    {_cosine_buckets("asg", "n", "vec_id", "v", "nrm", 1)},
    {_VEC_PROBES},
    {_cosine_buckets("pb", "p", "probe_id", "pv", "pn", 3)},

    cand AS (
        SELECT pb.probe_id, a.vec_id
        FROM pb JOIN asg a ON a.bucket = pb.bucket
        WHERE a.vec_id <> pb.probe_id
    ),
    {_PROBE_APPR},
    {_EXACT_TOP10},
    {_recall_tail()}
"""

# q167: exact distincts are hard oracle values; the within-10pct flags
# are the HLL contract (measured rel-err <= 6.7% at default rsd=0.05
# across sf0.001-0.1 — a broken sketch flips a flag and mismatches).
ORACLE["q167_hll_tolerance_report"] = """
    SELECT
        (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT
            AS n_custkeys,
        TRUE AS custkeys_within_10pct,
        (SELECT count(DISTINCT user_id) FROM events)::BIGINT AS n_users,
        TRUE AS users_within_10pct,
        (SELECT count(DISTINCT l_partkey) FROM lineitem)::BIGINT
            AS n_partkeys,
        TRUE AS partkeys_within_10pct
"""


def _lsh_planes_literal(bits=6, n_tables=4, dim=64):
    """The EXACT ±1 hyperplane constants lsh_bucketed_topk embeds
    (md5-of-(table:bit:dim-index) parity — similarity.py plane_val),
    rendered as a DuckDB list literal so the q166 oracle hashes with
    the same planes. No data dependence: pure seed-derived constants."""
    import hashlib

    vals = [
        (
            "1.0"
            if int(
                hashlib.md5(f"{t}:{b}:{d}".encode()).hexdigest()[:4], 16
            )
            % 2
            == 0
            else "-1.0"
        )
        for t in range(n_tables)
        for b in range(bits)
        for d in range(dim)
    ]
    return "[" + ", ".join(vals) + "]"


def _lsh_candidates(probe_filter: str) -> str:
    """pl/v/n/sigs/pbuckets/cand: the LSH index re-derived — the
    embedded planes, MSB-first 6-bit signatures in 4 tables (bucket =
    table * 64 + signature), the Hamming-1 multiprobe of the ``sigs s``
    rows ``probe_filter`` keeps (a WHERE clause, or ""), and each
    probe's distinct non-self candidates ``cand(probe_id, vec_id)``."""
    return f"""pl AS (SELECT {_lsh_planes_literal()}::DOUBLE[] AS flat),
    {_VEC_NORMS},
    sigs AS (
        SELECT n.vec_id, t.t,
               (t.t * 64 + list_sum(list_transform(range(6), b ->
                   CASE WHEN list_sum(list_transform(range(len(n.v)),
                        i -> n.v[i+1] * pl.flat[(t.t*6 + b)*64 + i + 1]))
                        >= 0
                   THEN (1 << (5 - b)) ELSE 0 END)))::INT AS bucket
        FROM n, range(4) t(t), pl
    ),
    pbuckets AS (
        SELECT DISTINCT probe_id, bucket FROM (
            SELECT s.vec_id AS probe_id, s.bucket FROM sigs s {probe_filter}
            UNION ALL
            SELECT s.vec_id AS probe_id, xor(s.bucket, (1 << f.i)::INT)
            FROM sigs s, range(6) f(i) {probe_filter}
        )
    ),
    cand AS (
        SELECT DISTINCT pb.probe_id, s.vec_id
        FROM pbuckets pb JOIN sigs s ON s.bucket = pb.bucket
        WHERE s.vec_id <> pb.probe_id
    )"""


# q166: the one ANN lane whose whole index is SQL-expressible — the
# oracle embeds the same ±1 planes and re-derives signatures (MSB-first
# sign fold), composite bucket ids, Hamming-1 multiprobe, the distinct
# candidate union, rounded-cosine ranking, and the recall arithmetic.
ORACLE["q166_lsh_recall_report"] = f"""
    WITH {_lsh_candidates("WHERE s.vec_id < 5")},
    {_VEC_PROBES},
    {_PROBE_APPR},
    {_EXACT_TOP10},
    {_recall_tail()}
"""

# q164: the oracle re-derives the injected-codebook PQ search — unit
# codebook (subspace slices of the 64 lowest-id unit vectors), encode
# (per-subspace squared-L2 argmin, ties to the lowest code — the
# numpy argmin contract), ADC scoring as an ORDERED 16-term fold
# (matching the JVM aggregate's s=0..15 order), (round(score,4) DESC,
# id) ranking WITH self-matches (the lane keeps them), then the
# report's self-filter and recall arithmetic.
ORACLE["q164_pq_recall_report"] = f"""
    WITH {_VEC_NORMS},
    {_VEC_UNIT},
    {_PQ_ENCODE},
    enc AS (
        SELECT vec_id, list(code ORDER BY s) AS codes FROM enc0
        GROUP BY vec_id
    ),
    {_UNIT_PROBES},
    scored AS (
        SELECT p.probe_id, e.vec_id, {_ADC_SCORE} AS score
        FROM p, enc e, cbs
    ),
    {_ADC_APPR},
    {_EXACT_TOP10},
    {_recall_tail()}
"""

# q165: q164's ADC oracle composed with the coarse quantizer — corpus
# bucket = argmax cosine against the 16 unit centroids (ties to the
# lowest index, the numpy argmax contract), probe buckets = top-nprobe=4
# by centroid dot, candidates pruned to probed buckets before ADC.
ORACLE["q165_ivfpq_recall_report"] = f"""
    WITH {_IVFPQ_SCORED},
    {_ADC_APPR},
    {_EXACT_TOP10},
    {_recall_tail()}
"""

# The fake AV decoders' input: each document's printable-ASCII bytes,
# ``docs(doc_id, t)``.
_AV_DOCS = """docs AS (
        SELECT doc_id,
               regexp_replace(text, '[^\\x20-\\x7E]', '', 'g') AS t
        FROM documents
    )"""


# The fake audio extractor's clip duration (ms), from md5(t)'s first
# byte.
_AUDIO_DMS = "500 * (1 + (('0x' || substr(md5(t), 1, 2))::BIGINT % 20))"


def _audio_mel(digest: str) -> str:
    """A fake mel coefficient: the big-endian first 4 bytes of the md5
    hex ``digest`` over 2^32, through the portable 1e-6 rounding."""
    return (
        f"floor(('0x' || substr({digest}, 1, 8))::BIGINT::DOUBLE"
        " / 4294967296.0 * 1000000.0 + 0.5) / 1000000.0"
    )


def _video_frames_ctes(src: str) -> str:
    """d/e/f/vals/fb/ham: the fake video decoder replayed over
    ``src(doc_id, t)`` — duration 1000*(1 + b%8) from md5(t)'s first
    byte, one frame per 1024 ms, each frame's 16-byte raster digest,
    its 16-bit aHash ``b16`` and the x4 Hamming to the clip's previous
    frame: ``ham(doc_id, frame, b16, hamming)`` (NULL on frame 0)."""
    return f"""d AS (
        SELECT doc_id, t,
               1000 * (1 + ((strpos('0123456789abcdef',
                             substr(md5(t), 2, 1)) - 1) % 8)) AS dur
        FROM {src}
    ),
    e AS (
        SELECT doc_id, t,
               CAST(unnest(range((dur + 1023) // 1024)) AS BIGINT)
                   AS frame
        FROM d
    ),
    f AS (
        SELECT doc_id, frame,
               md5(t || chr(0) || chr(4 * CAST(frame AS INT))
                   || repeat(chr(0), 6)) AS mh
        FROM e
    ),
    vals AS (
        SELECT doc_id, frame,
               list_transform(range(16), i ->
                   ((strpos('0123456789abcdef',
                            substr(mh, 2 * CAST(i AS INT) + 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef',
                              substr(mh, 2 * CAST(i AS INT) + 2, 1)) - 1)
                   )::BIGINT) AS v
        FROM f
    ),
    fb AS (
        SELECT doc_id, frame,
               list_sum(list_transform(range(16), i -> CASE
                   WHEN v[CAST(i AS INT) + 1] * 64
                        > CAST(list_sum(v) AS BIGINT) * 4
                   THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS b16
        FROM vals
    ),
    ham AS (
        SELECT doc_id, frame, b16,
               4 * bit_count(xor(b16,
                   lag(b16) OVER (PARTITION BY doc_id ORDER BY frame)))
                   AS hamming
        FROM fb
    )"""


# q168: the oracle re-derives each lane's post-erasure row count from
# the SOURCE tables under the same modular erased-id predicates, and
# asserts zero erased-id visibility — a lane that leaked an erased id
# (or dropped a survivor during the rewrite) hash-mismatches. The HLL
# lane's n_remaining is the distinct (event_type, day) keys of the
# remaining users' events: a key whose rows were ALL erased must
# vanish in the touched-key rebuild, every other key survives. The
# kNN edge lane's n_remaining is n x least(k, n - 1): every surviving
# node holds exactly its top-k over the remaining corpus — the count
# an index that never ingested the erased ids would hold (the bounded
# erase rebuild must restore it exactly, never drop an affected
# node's re-probe or keep a dangling edge).
# q168's AV lanes replay the fake-decoder arithmetic (the q195/q200
# CTE chain) to re-derive how many scene keyframes / audio rows a
# pipeline that NEVER ingested the erased clips would hold.
ORACLE["q168_gdpr_erasure_report"] = f"""
    WITH {_AV_DOCS},
    pop AS (SELECT doc_id, t FROM docs WHERE length(t) > 0),
    {_video_frames_ctes("pop")},
    kf AS (
        SELECT doc_id FROM ham WHERE hamming IS NULL OR hamming > 8
    )
    SELECT * FROM (
        SELECT 'ann' AS lane,
               (SELECT count(*) FROM embeddings
                WHERE NOT (vec_id % 9 = 4))::BIGINT AS n_remaining,
               0::BIGINT AS n_erased_visible
        UNION ALL
        SELECT 'bm25',
               (SELECT count(*) FROM documents
                WHERE NOT (doc_id % 7 = 3))::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'dedup',
               (SELECT count(*) FROM documents
                WHERE NOT (doc_id % 7 = 3))::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'hll',
               (SELECT count(*) FROM (
                    SELECT DISTINCT event_type, CAST(ts AS DATE)
                    FROM events WHERE NOT (user_id % 10 = 3)
               ))::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'knn',
               (SELECT count(*) FROM embeddings
                WHERE NOT (vec_id % 9 = 4))::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'knn_edges',
               (SELECT n * least(10, n - 1) FROM (
                    SELECT count(*)::BIGINT AS n FROM embeddings
                    WHERE NOT (vec_id % 9 = 4)
               ))::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'phash',
               (SELECT count(*) FROM documents
                WHERE NOT (doc_id % 7 = 3)
                  AND length(regexp_replace(
                      text, '[^\\x20-\\x7E]', '', 'g')) > 0
               )::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'sq',
               (SELECT count(*) FROM embeddings
                WHERE NOT (vec_id % 9 = 4))::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'keyframes',
               (SELECT count(*) FROM kf
                WHERE NOT (doc_id % 7 = 3))::BIGINT, 0::BIGINT
        UNION ALL
        SELECT 'audio',
               (SELECT count(*) FROM pop
                WHERE NOT (doc_id % 7 = 3))::BIGINT, 0::BIGINT
    ) ORDER BY lane
"""

# q169: exact discrete quantiles via identical rank arithmetic (value
# at rank clamp(ceil((p+delta)*n)) — the same IEEE double products and
# ceil on both engines), sketch flags as literal TRUE (the contract:
# every KLL estimate lands inside the ±5%-normalized-rank exact value
# envelope; sketch noise at the default k stays ~3x inside it).
ORACLE["q169_kll_tolerance_report"] = """
    WITH vals AS (
        SELECT source::VARCHAR AS key, n_chars::BIGINT AS v FROM documents
        UNION ALL
        SELECT '__all__' AS key, n_chars::BIGINT AS v FROM documents
    ),
    ranked AS (
        SELECT key, v,
               row_number() OVER (PARTITION BY key ORDER BY v) AS rn
        FROM vals
    ),
    counts AS (SELECT key, count(*)::BIGINT AS n FROM vals GROUP BY key),
    picked AS (
        SELECT c.key, c.n,
               max(CASE WHEN r.rn = greatest(1, least(c.n,
                   ceil(0.5 * c.n)::BIGINT)) THEN r.v END) AS q50_exact,
               max(CASE WHEN r.rn = greatest(1, least(c.n,
                   ceil(0.9 * c.n)::BIGINT)) THEN r.v END) AS q90_exact,
               max(CASE WHEN r.rn = greatest(1, least(c.n,
                   ceil(0.99 * c.n)::BIGINT)) THEN r.v END) AS q99_exact
        FROM counts c JOIN ranked r ON r.key = c.key
        GROUP BY c.key, c.n
    )
    SELECT key, n, q50_exact, q90_exact, q99_exact,
           TRUE AS q50_ok, TRUE AS q90_ok, TRUE AS q99_ok
    FROM picked ORDER BY key
"""

# q170: q165's ADC oracle minus the recall report — the raw persisted
# search result (coarse bucket pruning at nprobe=4, ordered ADC fold,
# rounded-score ranking WITH self-matches, the serving default).
ORACLE["q170_ann_index_injected_search"] = f"""
    WITH {_IVFPQ_SCORED}
    SELECT probe_id, vec_id, score FROM (
        SELECT probe_id, vec_id, score,
               row_number() OVER (PARTITION BY probe_id
                   ORDER BY score DESC, vec_id) AS rk
        FROM scored
    ) WHERE rk <= 10
    ORDER BY probe_id, vec_id
"""

# q171: assignment re-derived end to end — unit corpus vectors vs unit
# injected centroids, argmax cosine with ties to the LOWEST cluster
# (numpy argmax), zero vectors to cluster 0 (their dots are all zero,
# so the tie-break lands there on both engines), then the histogram.
ORACLE["q171_kmeans_assign_report"] = f"""
    WITH {_CLUSTER_ASSIGN}
    SELECT cluster::BIGINT AS cluster, count(*)::BIGINT AS n_members
    FROM asg GROUP BY cluster ORDER BY cluster
"""

# q172: q171's unit-vector argmax assignment (8 injected lowest-id
# centroids, ties to the LOWEST cluster) + q28's raw-vector pairwise
# cosine for the within-cluster keep rule (sequential list_sum parity,
# threshold compared on the UNROUNDED cosine exactly as
# embedding_neardup filters) → per-cluster kept/dropped counts.
ORACLE["q172_semantic_dedup_report"] = f"""
    WITH {_CLUSTER_ASSIGN},
    m AS (
        SELECT n.vec_id, n.v, n.nrm, asg.cluster
        FROM n JOIN asg USING (vec_id)
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM m a JOIN m b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(range(len(a.v)),
                  i -> a.v[i+1] * b.v[i+1])) / (a.nrm * b.nrm) >= 0.4
    ),
    tot AS (
        SELECT cluster, count(*)::BIGINT AS n_total FROM m GROUP BY cluster
    ),
    drp AS (
        SELECT m.cluster, count(*)::BIGINT AS n_dropped
        FROM dropped d JOIN m ON m.vec_id = d.vec_id
        GROUP BY m.cluster
    )
    SELECT tot.cluster::BIGINT AS cluster, n_total,
           (n_total - coalesce(n_dropped, 0))::BIGINT AS n_kept,
           coalesce(n_dropped, 0)::BIGINT AS n_dropped
    FROM tot LEFT JOIN drp USING (cluster)
    ORDER BY cluster
"""

def _q174_trace_sql(k: int = 8, min_pair_count: int = 2) -> str:
    """Replay ``bpe_merges`` as a DuckDB CTE chain: per step, weighted
    adjacent-pair counts over the wrapped-symbol vocabulary, the
    (count DESC, a, b) winner (empty when the best count drops below
    ``min_pair_count`` — subsequent steps then yield nothing, exactly
    the Spark side's early stop), and the merge applied as one global
    ``replace`` on the doubled-separator encoding (left-to-right
    non-overlapping = the JVM fold's i-walk; adjacent occurrences
    share no separator chars, so '|a||b||a||b|' collapses both)."""
    ctes = [
        """w0 AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents
    )""",
        """wv AS (
        SELECT w, count(*)::BIGINT AS cnt FROM w0 WHERE len(w) > 0
        GROUP BY w
    )""",
        """e1 AS (
        SELECT array_to_string(
                 list_transform(string_split(w, ''),
                                c -> chr(31) || c || chr(31)),
                 '') || chr(31) || '</w>' || chr(31) AS s,
               cnt
        FROM wv
    )""",
    ]
    for i in range(1, k + 1):
        ctes.append(f"""p{i} AS (
        SELECT sy[i] AS a, sy[i+1] AS b, sum(cnt)::BIGINT AS c
        FROM (
            SELECT sy, cnt,
                   unnest(generate_series(1, len(sy) - 1)) AS i
            FROM (
                SELECT string_split(substring(s, 2, len(s) - 2),
                                    chr(31) || chr(31)) AS sy, cnt
                FROM e{i}
            )
        )
        GROUP BY 1, 2
    )""")
        ctes.append(f"""w{i} AS (
        SELECT a, b, c FROM p{i}
        WHERE c >= {min_pair_count}
        ORDER BY c DESC, a, b LIMIT 1
    )""")
        if i < k:
            ctes.append(f"""e{i + 1} AS (
        SELECT replace(e.s,
                   chr(31) || w.a || chr(31) || chr(31) || w.b || chr(31),
                   chr(31) || w.a || w.b || chr(31)) AS s,
               e.cnt
        FROM e{i} e, w{i} w
    )""")
    steps = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, a AS \"left\", b AS \"right\", "
        f"a || b AS merged, c AS pair_count FROM w{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    SELECT * FROM (\n    "
        + steps + "\n    ) ORDER BY step"
    )


# q174: training replayed end-to-end in SQL — the chr(31)-wrapped
# encoding (q140's serving representation) makes the merge fold a
# plain string replace, so all 8 iterations are CTE-chainable.
ORACLE["q174_bpe_merge_trace"] = _q174_trace_sql(8, 2)

def _q176_quality_sql(k: int = 5) -> str:
    """q176 oracle: the BM25 lane CTE (q176's own query set) + q145's
    dense ranking + RRF fusion, then the nDCG arithmetic for BOTH
    judged lanes with the SAME quantized decimal discount literals
    the Spark side embeds (``retrieval.dcg_weight_literals`` — one
    source of truth for the constants on both engines)."""
    from data_lake_project_spark.operators.retrieval import (
        dcg_weight_literals,
    )

    ws, cums = dcg_weight_literals(k)
    wcase = " ".join(
        f"WHEN {r + 1} THEN CAST('{w}' AS DECIMAL(16,12))"
        for r, w in enumerate(ws)
    )
    ccase = " ".join(
        f"WHEN {j + 1} THEN CAST('{c}' AS DECIMAL(16,12))"
        for j, c in enumerate(cums)
    )
    def metrics(lane: str, res: str) -> str:
        return f"""
    nret_{lane} AS (
        SELECT query_id, count(*)::BIGINT AS n_retrieved
        FROM {res} GROUP BY 1
    ),
    hits_{lane} AS (
        SELECT l.query_id, l.rk
        FROM {res} l JOIN rel r USING (query_id, doc_id)
    ),
    hagg_{lane} AS (
        SELECT query_id,
               count(*)::BIGINT AS n_rel_retrieved,
               min(rk)::BIGINT AS first_rel_rank,
               sum(CASE rk {wcase} END) AS dcg_dec
        FROM hits_{lane} GROUP BY 1
    ),
    rep_{lane} AS (
        SELECT '{lane}' AS lane, query_id,
               coalesce(n_relevant, 0)::BIGINT AS n_relevant,
               coalesce(n_retrieved, 0)::BIGINT AS n_retrieved,
               coalesce(n_rel_retrieved, 0)::BIGINT AS n_rel_retrieved,
               first_rel_rank,
               coalesce(floor(CAST(1.0 AS DOUBLE) / first_rel_rank
                              * 10000.0 + 0.5) / 10000.0, 0.0) AS rr,
               coalesce(floor(CAST(dcg_dec AS DOUBLE) * 10000.0 + 0.5)
                        / 10000.0, 0.0) AS dcg,
               CASE WHEN coalesce(n_relevant, 0) > 0 THEN
                   floor(coalesce(CAST(dcg_dec AS DOUBLE), 0.0)
                         / CAST((CASE least(n_relevant, {k}) {ccase}
                                 END) AS DOUBLE)
                         * 10000.0 + 0.5) / 10000.0
               END AS ndcg
        FROM nrel
        FULL OUTER JOIN nret_{lane} USING (query_id)
        LEFT JOIN hagg_{lane} USING (query_id)
    )"""

    return f"""
    WITH {_bm25_lane_sql(_Q176_QUERY_ROWS)},
    lex10 AS (SELECT query_id, doc_id, rk FROM lex WHERE rk <= 10),
    lex5 AS (SELECT query_id, doc_id, rk FROM lex WHERE rk <= {k}),
    {_dense_lane_sql(_Q176_QUERY_ROWS)},
    den10 AS (SELECT query_id, doc_id, rk FROM den WHERE rk <= 10),
    rel AS (SELECT query_id, doc_id FROM den WHERE rk <= {k}),
    fused AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               floor((coalesce(1.0 / (60.0 + CAST(l.rk AS DOUBLE)), 0.0)
                      + coalesce(1.0 / (60.0 + CAST(d.rk AS DOUBLE)),
                                 0.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS rrf
        FROM lex10 l FULL OUTER JOIN den10 d
             ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    ),
    fr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf DESC, doc_id) AS rk
        FROM fused
    ),
    rrf5 AS (SELECT query_id, doc_id, rk FROM fr WHERE rk <= {k}),
    nrel AS (
        SELECT query_id, count(*)::BIGINT AS n_relevant
        FROM rel GROUP BY 1
    ),{metrics("bm25", "lex5")},{metrics("rrf", "rrf5")}
    SELECT * FROM (
        SELECT * FROM rep_bm25 UNION ALL SELECT * FROM rep_rrf
    ) ORDER BY lane, query_id
"""


ORACLE["q176_retrieval_quality_report"] = _q176_quality_sql(5)


# q175: the interval-join predicate compared on RAW timestamps (the
# fixture carries no sub-microsecond components, so micro-vs-nano
# precision cannot flip a boundary row — verified per SF); only the
# OUTPUT gap floors to seconds (the q66 epoch rule).
ORACLE["q175_stream_interval_join_report"] = """
    SELECT err.event_id,
           count(*)::BIGINT AS n_clicks_30m,
           min(floor(epoch(err.e_ts))::BIGINT
               - floor(epoch(clk.c_ts))::BIGINT)::BIGINT
               AS closest_gap_s
    FROM (SELECT user_id, event_id, ts AS e_ts FROM events
          WHERE event_type = 'error') err
    JOIN (SELECT user_id, ts AS c_ts FROM events
          WHERE event_type = 'click') clk
      ON clk.user_id = err.user_id
     AND clk.c_ts >= err.e_ts - INTERVAL 30 MINUTE
     AND clk.c_ts <= err.e_ts
    GROUP BY err.event_id ORDER BY err.event_id
"""


# q173: q142's chunk+embed CTEs feed q163's IVF recipe — 8 injected
# lowest-packed-id chunk centroids (ties HIGHEST ci, the array_sort+
# reverse contract), nprobe=4 probe buckets, in-bucket exact cosine
# top-5 (floor-rounded DESC, vec_id ASC), brute-force exact baseline,
# recall arithmetic. NO self-exclusion on either lane (probe ids are a
# different namespace than packed chunk ids).
ORACLE["q173_chunk_index_recall_report"] = f"""
    WITH {_CHUNK_CTES},
    ch AS (
        SELECT doc_id * 4096 + chunk_id::BIGINT AS vec_id,
               array_to_string(
                   toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
                   AS chunk_text
        FROM g
        -- mirrors the Spark side's assert_true(chunk_id < 4096): a
        -- doc with more chunks would silently collide packed vec_ids
        -- in DuckDB while Spark fails loud — fail loud here too
        WHERE CASE WHEN chunk_id < 4096 THEN TRUE
                   ELSE error('q173 oracle: chunk_id >= 4096 — packed '
                              'vec_id collision') = '' END
    ), cv AS (
        SELECT vec_id,
               {_Q142_EMBED.format(src="chunk_text")} AS v
        FROM ch
    ), cn AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM cv
    ), {_cosine_centroids("cn", 8)},
    {_cosine_buckets("asg", "cn", "vec_id", "v", "nrm", 1)},
    q AS (
        SELECT query_id AS probe_id,
               {_Q142_EMBED.format(src="qtext")} AS pv
        FROM (VALUES {_Q142_QUERY_ROWS}) AS qq(query_id, qtext)
    ),
    p AS (
        SELECT probe_id, pv,
               sqrt(list_sum(list_transform(pv, x -> x * x))) AS pn
        FROM q
    ),
    {_cosine_buckets("pb", "p", "probe_id", "pv", "pn", 4)},
    cand AS (
        SELECT pb.probe_id, a.vec_id
        FROM pb JOIN asg a ON a.bucket = pb.bucket
    ),
    {_cosine_topk("appr", 5,
                  "cand cd JOIN cn cc ON cc.vec_id = cd.vec_id"
                  " JOIN p pp ON pp.probe_id = cd.probe_id",
                  ("cd.probe_id", "pp.pv", "pp.pn"),
                  ("cd.vec_id", "cc.v", "cc.nrm"))},
    {_cosine_topk("ex", 5, "p, cn c2",
                  ("p.probe_id", "p.pv", "p.pn"),
                  ("c2.vec_id", "c2.v", "c2.nrm"))},
    {_recall_tail()}
"""


# q177: the streaming funnel shares q69's oracle verbatim (the q28b
# precedent: two engine lanes, one contract) — a single availableNow
# batch delivers the fixture in order, and the stateful fold's
# strict-after + 24h-horizon semantics ARE the batch fold's, so the
# snapshot is the same relational min-chain DuckDB runs.
ORACLE["q177_stream_funnel_report"] = ORACLE["q69_funnel"]


# q178: both lanes re-derived in SQL — the BM25 CTE chain (shared
# with q144/q176) and the dense exact top-3 (the q176 dense lane at
# k=3); mining is pure integer set algebra, so the whole training
# frame is hash-checkable.
ORACLE["q178_hard_negative_mining"] = f"""
    WITH {_bm25_lane_sql(_Q176_QUERY_ROWS)},
    lex10 AS (SELECT query_id, doc_id, rk FROM lex WHERE rk <= 10),
    {_dense_lane_sql(_Q176_QUERY_ROWS)},
    pos AS (SELECT query_id, doc_id FROM den WHERE rk <= 3),
    neg AS (
        SELECT l.query_id, l.doc_id,
               row_number() OVER (PARTITION BY l.query_id
                                  ORDER BY l.rk, l.doc_id) AS pair_rank
        FROM lex10 l
        WHERE NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.query_id = l.query_id
                            AND p.doc_id = l.doc_id)
    )
    SELECT * FROM (
        SELECT query_id, doc_id, 'pos' AS role, 0::BIGINT AS pair_rank
        FROM pos
        UNION ALL
        SELECT query_id, doc_id, 'neg' AS role, pair_rank::BIGINT
        FROM neg WHERE pair_rank <= 5
    ) ORDER BY query_id, role, pair_rank, doc_id
"""


# q179: exact decimal floor-division bucket (c_acctbal is
# DECIMAL(15,2); /1000 stays decimal on both engines — no float
# boundary); counts and the boolean flag are integer-exact.
ORACLE["q179_k_anonymity_report"] = """
    SELECT c_nationkey,
           floor(c_acctbal / 1000)::BIGINT AS bal_bucket,
           count(*)::BIGINT AS k,
           count(DISTINCT c_mktsegment)::BIGINT AS l_div,
           count(*) < 5 AS risky
    FROM customer
    GROUP BY 1, 2
    ORDER BY c_nationkey, bal_bucket
"""


# q180: full directed top-10 per vector, then the mutual filter as a
# self-join — cosine via sequential sums (DuckDB list_sum == Spark
# aggregate fold, the q22 parity rule), ranked on pround(.,4).
ORACLE["q180_mutual_knn_graph"] = """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM v
    ),
    e AS (
        SELECT src, dst, cosine FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   floor(list_sum(list_transform(range(len(a.v)),
                             i -> a.v[i+1] * b.v[i+1]))
                         / (a.nrm * b.nrm) * 10000.0 + 0.5) / 10000.0
                       AS cosine,
                   row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY floor(list_sum(list_transform(
                                    range(len(a.v)),
                                    i -> a.v[i+1] * b.v[i+1]))
                                / (a.nrm * b.nrm) * 10000.0 + 0.5)
                                / 10000.0 DESC, b.vec_id) AS rk
            FROM n a, n b WHERE a.vec_id <> b.vec_id
        ) WHERE rk <= 10
    )
    SELECT e.src, e.dst, e.cosine
    FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src
    WHERE e.src < e.dst
    ORDER BY e.src, e.dst
"""


# q181: the q30 score CTEs verbatim + ntile over the same total
# (quality, doc_id) order (both engines share the remainder-to-
# leading-buckets ntile rule); cells are counts, one pround division,
# and min/max of already-rounded scores — no float means anywhere.
ORACLE["q181_quality_calibration"] = f"""
    WITH {_quality_ctes()},
    q AS (
        SELECT doc_id, n_tokens >= 40 AS is_good, {_QUALITY} AS quality
        FROM r
    ),
    b AS (
        SELECT quality, is_good,
               ntile(10) OVER (ORDER BY quality, doc_id) AS bin
        FROM q
    )
    SELECT bin::BIGINT AS bin,
           count(*)::BIGINT AS n,
           sum(CASE WHEN is_good THEN 1 ELSE 0 END)::BIGINT AS n_good,
           floor(sum(CASE WHEN is_good THEN 1 ELSE 0 END)::DOUBLE
                 / count(*)::DOUBLE * 10000.0 + 0.5) / 10000.0
               AS good_rate,
           min(quality) AS min_score,
           max(quality) AS max_score
    FROM b GROUP BY bin ORDER BY bin
"""


# q182: the real streaming window plan shares q42's oracle verbatim
# (the q177/q69 precedent) — complete-mode final totals over one
# in-order batch ARE the batch aggregation.
ORACLE["q182_stream_window_report"] = ORACLE["q42_time_bucket"]


# q183: both graphs re-derived end to end — the exact lane is q180's
# oracle, the LSH lane reuses q166's embedded plane literals with ALL
# nodes as probes; mutual filter + per-node incidence + the shared
# FULL-JOIN recall tail keyed on node.
ORACLE["q183_knn_graph_recall_report"] = f"""
    WITH {_lsh_candidates("")},
    {_cosine_topk("appr_d", 10,
                  "cand cd JOIN n cc ON cc.vec_id = cd.vec_id"
                  " JOIN n pp ON pp.vec_id = cd.probe_id",
                  ("cd.probe_id", "pp.v", "pp.nrm"),
                  ("cd.vec_id", "cc.v", "cc.nrm"))},
    {_cosine_topk("ex_d", 10, "n a, n b WHERE b.vec_id <> a.vec_id",
                  ("a.vec_id", "a.v", "a.nrm"),
                  ("b.vec_id", "b.v", "b.nrm"))},
    em AS (
        SELECT a.probe_id AS src, a.vec_id AS dst
        FROM ex_d a JOIN ex_d b
          ON b.probe_id = a.vec_id AND b.vec_id = a.probe_id
        WHERE a.probe_id < a.vec_id
    ),
    am AS (
        SELECT a.probe_id AS src, a.vec_id AS dst
        FROM appr_d a JOIN appr_d b
          ON b.probe_id = a.vec_id AND b.vec_id = a.probe_id
        WHERE a.probe_id < a.vec_id
    ),
    ei AS (
        SELECT src AS node, dst FROM em
        UNION ALL SELECT dst AS node, src AS dst FROM em
    ),
    ai AS (
        SELECT src AS node, dst FROM am
        UNION ALL SELECT dst AS node, src AS dst FROM am
    ),
    {_recall_tail("node", "ei", "ai", "dst")}
"""


# q184: the q30 score CTEs + q47's canonical hash feed per-row stage
# flags; ONE aggregate derives every cumulative-survivor count, and
# the report rows unstack from it. The quota rank orders
# prior-survivors first (CASE 0/1 == Spark's boolean desc), so
# qualifying rows rank 1..n among themselves on both engines.
ORACLE["q184_curation_waterfall"] = f"""
    WITH {_quality_ctes(carry=", source")},
    q AS (
        SELECT r.doc_id, r.source, r.n_tokens,
               md5(trim(regexp_replace(regexp_replace(lower(dd.text),
                   '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS canon,
               {_QUALITY} AS quality
        FROM r JOIN documents dd ON dd.doc_id = r.doc_id
    ),
    flg AS (
        SELECT doc_id, source, quality, n_tokens,
               (row_number() OVER (PARTITION BY canon ORDER BY doc_id)
                   = 1) AS f1,
               (quality >= 0.6) AS f2,
               (n_tokens BETWEEN 20 AND 500) AS f3
        FROM q
    ),
    flg2 AS (
        SELECT *,
               (f1 AND f2 AND f3) AS prior,
               row_number() OVER (PARTITION BY source
                   ORDER BY CASE WHEN f1 AND f2 AND f3 THEN 0 ELSE 1
                            END, quality DESC, doc_id) AS rnq
        FROM flg
    ),
    agg AS (
        SELECT count(*)::BIGINT AS n0,
               sum(CASE WHEN f1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END)::BIGINT AS n2,
               sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)::BIGINT
                   AS n3,
               sum(CASE WHEN prior AND rnq <= 50 THEN 1 ELSE 0 END)::BIGINT
                   AS n4
        FROM flg2
    )
    SELECT * FROM (
        SELECT 1::BIGINT AS stage, 'dedup' AS stage_name,
               n0 AS n_in, n1 AS n_kept, (n0 - n1)::BIGINT AS n_removed
        FROM agg
        UNION ALL
        SELECT 2::BIGINT, 'quality', n1, n2, (n1 - n2)::BIGINT FROM agg
        UNION ALL
        SELECT 3::BIGINT, 'length', n2, n3, (n2 - n3)::BIGINT FROM agg
        UNION ALL
        SELECT 4::BIGINT, 'source_quota', n3, n4, (n3 - n4)::BIGINT
        FROM agg
    ) ORDER BY stage
"""


# q185: the streaming dedup's append output projected to key columns
# IS the distinct set — first-arrival nondeterminism cannot reach the
# result; the report is a plain per-user distinct-type count.
ORACLE["q185_stream_dedup_report"] = """
    SELECT user_id,
           count(DISTINCT event_type)::BIGINT AS n_event_types
    FROM events GROUP BY user_id ORDER BY user_id
"""


# q186: every boundary replayed — same tokenization, same 3-token
# window hash (first-8-md5-hex as BIGINT, the portable-hash idiom),
# same mod-32 cut rule, same span algebra. range(3, len) == Spark's
# guarded sequence(3, n-1): positions 3..n-1, never after the last
# token, empty for short docs.
ORACLE["q186_cdc_chunks"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(
                   regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '') AS toks
        FROM documents
    ),
    b AS (
        SELECT doc_id, toks, len(toks) AS n,
               list_filter(range(3, len(toks)),
                   i -> ('0x' || substr(md5(toks[i-2] || ' ' ||
                            toks[i-1] || ' ' || toks[i]), 1, 8))::BIGINT
                        % 32 = 0) AS bnd
        FROM t
    ),
    s AS (
        SELECT doc_id, toks, n,
               list_concat([1], list_transform(bnd, b -> b + 1))
                   AS starts,
               list_concat(bnd, [n]) AS ends
        FROM b WHERE n > 0
    ),
    c AS (
        SELECT doc_id, toks, starts, ends,
               unnest(generate_series(1, len(starts))) AS k
        FROM s
    )
    SELECT doc_id,
           (k - 1)::BIGINT AS chunk_id,
           starts[k]::BIGINT AS start_tok,
           (ends[k] - starts[k] + 1)::BIGINT AS n_tokens,
           md5(array_to_string(toks[starts[k]:ends[k]], ' '))
               AS chunk_hash
    FROM c
    WHERE starts[k] <= ends[k]
    ORDER BY doc_id, chunk_id
"""


# q187: the maintained index must equal a from-scratch rebuild
# (exact O(delta) fold — see operators/knn_index.py), so it shares
# q180's full-graph oracle verbatim: the driver hash IS the
# maintained == rebuilt proof.
ORACLE["q187_knn_index_maintained"] = ORACLE["q180_mutual_knn_graph"]


# q188: erase == never-ingested for the graph lane — the oracle is
# q180's from-scratch SQL over the REMAINING corpus (the deletion
# request is the SQL-expressible modular predicate, q168 convention).
ORACLE["q188_knn_index_erased"] = ORACLE["q180_mutual_knn_graph"].replace(
    "FROM embeddings", "FROM embeddings WHERE vec_id % 9 <> 4"
)


# The 64-bit aHash of ``v`` (64 samples summing to ``tot``) as four
# 16-bit band columns b0..b3: bit i of band k is set iff sample
# 16k+i times 64 exceeds the sum.
_AHASH_BANDS = """list_sum(list_transform(range(16), i -> CASE
                   WHEN v[CAST(i AS INT) + 1] * 64 > tot
                   THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS b0,
               list_sum(list_transform(range(16), i -> CASE
                   WHEN v[CAST(i AS INT) + 17] * 64 > tot
                   THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS b1,
               list_sum(list_transform(range(16), i -> CASE
                   WHEN v[CAST(i AS INT) + 33] * 64 > tot
                   THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS b2,
               list_sum(list_transform(range(16), i -> CASE
                   WHEN v[CAST(i AS INT) + 49] * 64 > tot
                   THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS b3"""


def _phash_hamming(x: str, y: str) -> str:
    """Hamming distance of the banded fingerprints of rows x and y."""
    return f"""(bit_count(xor({x}.b0, {y}.b0)) + bit_count(xor({x}.b1, {y}.b1))
                + bit_count(xor({x}.b2, {y}.b2))
                + bit_count(xor({x}.b3, {y}.b3)))"""


def _phash_band_hit(x: str, y: str) -> str:
    """Rows x and y share at least one band."""
    return (
        f"({x}.b0 = {y}.b0 OR {x}.b1 = {y}.b1"
        f" OR {x}.b2 = {y}.b2 OR {x}.b3 = {y}.b3)"
    )


def _phash_match(x: str, y: str) -> str:
    """The pHash near-dup rule: a shared band and Hamming <= 3."""
    return f"{_phash_band_hit(x, y)} AND {_phash_hamming(x, y)} <= 3"


def _phash_admitted(batch: str, index: str) -> str:
    """The ``batch`` rows a gate-and-fold admits: no near-dup in
    ``index``, and no lower-id near-dup inside ``batch`` itself
    (keep-lowest-id)."""
    return f"""
        SELECT x.* FROM {batch} x
        WHERE NOT EXISTS (
            SELECT 1 FROM {index} y WHERE {_phash_match("x", "y")}
        )
        AND NOT EXISTS (
            SELECT 1 FROM {batch} w
            WHERE w.doc_id < x.doc_id AND {_phash_match("x", "w")}
        )
    """


# q191/q192: the stored index (originals with doc_id % 4 <> 1) and the
# gated batch (the held-out originals plus every re-encoded twin).
_PHASH_GATE_CTES = """
    , stored AS (
        SELECT * FROM b WHERE doc_id < 1000000 AND doc_id % 4 <> 1
    ),
    batch AS (
        SELECT * FROM b
        WHERE (doc_id < 1000000 AND doc_id % 4 = 1)
           OR doc_id >= 1000000
    )"""


# q189/q190: the oracle replays the 64-bit average-hash byte-for-byte.
# The raster is the printable-ASCII projection of the text (bytes ==
# characters on both engines), sample j is the byte at position
# floor(j*n/64) (0-based; 1-based substr), bit j is set iff
# sample*64 > sum(samples) — pure integer math, no float tie
# ambiguity. Bands are 16-bit slices (band b = bits 16b..16b+15);
# candidates share at least one band (exact for hamming <= 3 by
# pigeonhole over 4 bands) and verify with bit_count(xor). The // 64
# below is DuckDB INTEGER division (both operands BIGINT — the
# verify-skill rule about //'s true-division trap on doubles).
_PHASH_BANDS_SQL = f"""
    WITH a AS (
        SELECT doc_id, source,
               regexp_replace(text, '[^\\x20-\\x7E]', '', 'g') AS t,
               0 AS sh
        FROM documents
        UNION ALL
        -- the re-encoded twin: the same raster under a uniform +1
        -- brightness shift (positions unchanged, every sampled value
        -- +1 — the aHash-invariant transform class)
        SELECT doc_id + 1000000, source,
               regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'), 1
        FROM documents WHERE doc_id % 3 = 0
    ),
    s AS (
        SELECT doc_id, source,
               list_transform(
                   range(64),
                   j -> (ord(substr(
                       t,
                       CAST((j * length(t)) // 64 AS INT) + 1, 1))
                       + sh)::BIGINT
               ) AS v
        FROM a WHERE length(t) > 0
    ),
    f AS (
        SELECT doc_id, source, v, list_sum(v)::BIGINT AS tot FROM s
    ),
    b AS (
        SELECT doc_id, source,
               {_AHASH_BANDS}
        FROM f
    ),
    pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               {_phash_hamming("x", "y")}::BIGINT AS hamming
        FROM b x JOIN b y
          ON x.doc_id < y.doc_id
         AND {_phash_band_hit("x", "y")}
    )
"""

ORACLE["q189_phash_neardup"] = (
    _PHASH_BANDS_SQL
    + """
    SELECT id_a, id_b, hamming FROM pairs
    WHERE hamming <= 3 ORDER BY id_a, id_b
"""
)

# q191: index membership (doc_id % 4 <> 1 originals — built half,
# folded quarter; fold == rebuild because fingerprints are per-row),
# batch = held-out originals + the re-encoded twins; the same
# band-join + bit_count(xor) verify as q189, across the two
# populations instead of within one. The report aggregates the match
# set per batch row (empty group -> is_dup false, NULL distances).
ORACLE["q191_phash_index_gate"] = (
    _PHASH_BANDS_SQL
    + f"""{_PHASH_GATE_CTES},
    m AS (
        SELECT x.doc_id, y.doc_id AS dup_of, {_phash_hamming("x", "y")} AS h
        FROM batch x JOIN stored y ON {_phash_match("x", "y")}
    )
    SELECT t.doc_id,
           count(m.dup_of) > 0 AS is_dup,
           count(m.dup_of)::BIGINT AS n_matches,
           min(m.h)::BIGINT AS min_hamming,
           min(m.dup_of)::BIGINT AS first_dup_of
    FROM batch t LEFT JOIN m USING (doc_id)
    GROUP BY t.doc_id ORDER BY t.doc_id
"""
)

# q192: the q191 derivation projected to the surviving ids —
# streaming the corpus through the gate must admit exactly what a
# batch gate admits (per-row decisions against a static index are
# micro-batch-invariant).
ORACLE["q192_stream_phash_gate"] = (
    _PHASH_BANDS_SQL
    + f"""{_PHASH_GATE_CTES},
    m AS (
        SELECT DISTINCT x.doc_id
        FROM batch x JOIN stored y ON {_phash_match("x", "y")}
    )
    SELECT t.doc_id FROM batch t LEFT JOIN m USING (doc_id)
    WHERE m.doc_id IS NULL ORDER BY t.doc_id
"""
)

# q193: the multimodal curation ladder replayed — fingerprints and
# the survivor rule from the shared bands SQL, the token floor (a
# shifted twin raster has no 0x20 left: +1 maps nothing INTO space,
# so its token count is exactly 1), and the quota rank with the same
# (prior, n_chars desc, doc_id) key on both engines.
ORACLE["q193_perceptual_waterfall"] = (
    _PHASH_BANDS_SQL
    + """
    , pop AS (
        SELECT doc_id, source, length(t) AS n_chars,
               CASE WHEN sh = 1 THEN 1
                    ELSE len(regexp_split_to_array(trim(t), '\\s+'))
               END AS n_tokens
        FROM a WHERE length(t) > 0
    ),
    doomed AS (
        SELECT DISTINCT id_b AS doc_id FROM pairs WHERE hamming <= 3
    ),
    flg AS (
        SELECT p.doc_id, p.source, p.n_chars, p.n_tokens,
               (d.doc_id IS NULL) AS f1
        FROM pop p LEFT JOIN doomed d USING (doc_id)
    ),
    flg2 AS (
        SELECT *, (f1 AND n_tokens >= 20) AS prior,
               row_number() OVER (PARTITION BY source
                   ORDER BY CASE WHEN f1 AND n_tokens >= 20 THEN 0
                            ELSE 1 END, n_chars DESC, doc_id) AS rnq
        FROM flg
    ),
    agg AS (
        SELECT count(*)::BIGINT AS n0,
               sum(CASE WHEN f1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN f1 AND n_tokens >= 20 THEN 1 ELSE 0
                   END)::BIGINT AS n2,
               sum(CASE WHEN prior AND rnq <= 25 THEN 1 ELSE 0
                   END)::BIGINT AS n3
        FROM flg2
    )
    SELECT * FROM (
        SELECT 1::BIGINT AS stage, 'phash_dedup' AS stage_name,
               n0 AS n_in, n1 AS n_kept, (n0 - n1)::BIGINT AS n_removed
        FROM agg
        UNION ALL
        SELECT 2::BIGINT, 'min_tokens', n1, n2, (n1 - n2)::BIGINT
        FROM agg
        UNION ALL
        SELECT 3::BIGINT, 'source_quota', n2, n3, (n2 - n3)::BIGINT
        FROM agg
    ) ORDER BY stage
"""
)

ORACLE["q190_phash_survivors"] = (
    _PHASH_BANDS_SQL
    + """
    , doomed AS (
        SELECT DISTINCT id_b AS doc_id FROM pairs WHERE hamming <= 3
    ),
    surv AS (
        SELECT b.* FROM b LEFT JOIN doomed d USING (doc_id)
        WHERE d.doc_id IS NULL
    )
    SELECT b.source,
           count(*)::BIGINT AS n_hashed,
           coalesce(any_value(sv.n_survivors), 0)::BIGINT AS n_survivors,
           coalesce(any_value(sv.n_band0_distinct), 0)::BIGINT
               AS n_band0_distinct
    FROM b
    LEFT JOIN (
        SELECT source, count(*)::BIGINT AS n_survivors,
               count(DISTINCT b0)::BIGINT AS n_band0_distinct
        FROM surv GROUP BY source
    ) sv USING (source)
    GROUP BY b.source
    ORDER BY b.source
"""
)

# q194: the SEQUENTIAL admission replayed — batch 0 (originals with
# doc_id % 4 in (1, 2)) is gated against the stored fingerprints
# (doc_id % 4 == 0 originals); batch 1 (doc_id % 4 == 3 originals +
# re-encoded twins) is gated against stored UNION batch-0 survivors,
# because the stream folds each batch's survivors into the index
# before the next batch. Match = shared band + bit_count(xor) <= 3,
# identical to the q191 gate. Each batch ALSO drops its own
# intra-batch near-dups first (keep-lowest-id: a row with a matching
# SMALLER id in the same batch never reaches the index gate) — the
# crawl-burst rule gate_and_fold_batch applies before gating, hit
# here by the doc_id % 12 == 3 originals riding batch 1 with their
# twins.
ORACLE["q194_stream_phash_ingest_fold"] = (
    _PHASH_BANDS_SQL
    + f"""
    , stored0 AS (
        SELECT * FROM b WHERE doc_id < 1000000 AND doc_id % 4 = 0
    ),
    b1 AS (
        SELECT * FROM b
        WHERE doc_id < 1000000 AND doc_id % 4 IN (1, 2)
    ),
    s1 AS ({_phash_admitted("b1", "stored0")}),
    stored1 AS (
        SELECT * FROM stored0 UNION ALL SELECT * FROM s1
    ),
    b2 AS (
        SELECT * FROM b
        WHERE doc_id >= 1000000
           OR (doc_id < 1000000 AND doc_id % 4 = 3)
    ),
    s2 AS ({_phash_admitted("b2", "stored1")})
    SELECT doc_id, 0::BIGINT AS admitted_in_batch FROM s1
    UNION ALL
    SELECT doc_id, 1::BIGINT FROM s2
    ORDER BY doc_id
"""
)

# q195: the fake decoder's arithmetic replayed end-to-end — duration
# from md5(clip)'s first byte (1000*(1 + b%8); b%8 is the second
# nibble mod 8), one frame per 1024 ms, each frame's raster the
# repeated 16-byte digest of md5(clip || pack('<q', ts)) whose bytes
# are [0, 4*frame, 0*6] (all < 0x80 — VARCHAR-safe chr concatenation).
# The 64-sample aHash of a 64-byte raster reads raster[j] =
# digest[j % 16], so all four 16-bit bands are EQUAL and the frame
# fingerprint reduces to one 16-bit pattern (bit i set iff
# byte_i * 64 > 4 * sum(bytes)); adjacent-frame Hamming = 4x the
# 16-bit xor popcount, compared through the same clip-keyed lag.
ORACLE["q195_video_scene_ladder"] = f"""
    WITH {_AV_DOCS},
    {_video_frames_ctes("docs WHERE length(t) > 0")},
    rep AS (
        SELECT doc_id, frame, hamming,
               (hamming IS NULL OR hamming > 8) AS cut
        FROM ham
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_frames,
           sum(CASE WHEN cut THEN 1 ELSE 0 END)::BIGINT AS n_scenes,
           coalesce(sum(hamming), 0)::BIGINT AS hamming_total,
           coalesce(string_agg(CASE WHEN cut THEN frame::VARCHAR END,
                               ',' ORDER BY frame), '') AS keyframes
    FROM rep GROUP BY doc_id ORDER BY doc_id
"""

# q196: the fake audio extractor replayed — duration 500*(1 + b%20)
# from md5(blob)'s first byte; mel i = the big-endian first-4-bytes
# integer of md5(blob || pack('<i', i)) (suffix bytes [i, 0, 0, 0] —
# all < 0x80, VARCHAR-safe; hex parsed via DuckDB's '0x'-string cast)
# divided by 2^32 and rounded through the SAME portable formula the
# extractor uses (floor(x*1e6 + 0.5)/1e6 — bit-identical doubles on
# both engines, identical op order). Then q28's blocked-cosine
# arithmetic: block key (duration, floor(mel0 * 1000)), list_sum dot,
# raw-cosine threshold, pround-4 output.
ORACLE["q196_audio_neardup"] = f"""
    WITH {_AV_DOCS},
    pop AS (
        SELECT doc_id, t FROM docs WHERE length(t) > 0
        UNION ALL
        SELECT doc_id + 2000000, t FROM docs
        WHERE length(t) > 0 AND doc_id % 5 = 0
    ),
    dur AS (
        SELECT doc_id, t, {_AUDIO_DMS} AS dms
        FROM pop
    ),
    mi AS (
        SELECT doc_id, dms, i,
               md5(t || chr(i) || repeat(chr(0), 3)) AS mh
        FROM (
            SELECT doc_id, dms, t,
                   CAST(unnest(range(16)) AS INT) AS i
            FROM dur
        )
    ),
    xv AS (
        SELECT doc_id, dms, i,
               {_audio_mel("mh")} AS fv
        FROM mi
    ),
    feat AS (
        SELECT doc_id, any_value(dms) AS dms,
               list(fv ORDER BY i) AS v
        FROM xv GROUP BY doc_id
    ),
    n AS (
        SELECT doc_id,
               dms::VARCHAR || ':'
                   || CAST(floor(v[1] * 1000.0) AS BIGINT)::VARCHAR AS blk,
               v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM feat
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               list_sum(list_transform(range(16), i ->
                   a.v[CAST(i AS INT) + 1] * b.v[CAST(i AS INT) + 1]))
                   / (a.nrm * b.nrm) AS cos
        FROM n a JOIN n b ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           floor(cos * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM p WHERE cos >= 0.999 ORDER BY id_a, id_b
"""

# q197: q195's frame/fingerprint replay over the clip population plus
# re-uploads (doc_id % 10 == 0 under +3000000), restricted to scene
# keyframes, then the cross-clip match. On 64-byte rasters all four
# bands equal the same 16-bit pattern, so the operator's band join +
# Hamming<=3 verify reduces EXACTLY to b16 equality across distinct
# clips — the oracle joins on it directly.
ORACLE["q197_keyframe_dedup"] = f"""
    WITH {_AV_DOCS},
    pop AS (
        SELECT doc_id, t FROM docs WHERE length(t) > 0
        UNION ALL
        SELECT doc_id + 3000000, t FROM docs
        WHERE length(t) > 0 AND doc_id % 10 = 0
    ),
    {_video_frames_ctes("pop")},
    kf AS (
        SELECT doc_id, frame, doc_id * 16 + frame AS kfid, b16
        FROM ham WHERE hamming IS NULL OR hamming > 8
    ),
    dup AS (
        SELECT DISTINCT b.kfid FROM kf a JOIN kf b
          ON a.b16 = b.b16 AND a.kfid < b.kfid
         AND a.doc_id <> b.doc_id
    )
    SELECT k.doc_id,
           count(*)::BIGINT AS n_keyframes,
           sum(CASE WHEN d.kfid IS NOT NULL THEN 1 ELSE 0
               END)::BIGINT AS n_dup_keyframes,
           (count(*) = sum(CASE WHEN d.kfid IS NOT NULL THEN 1 ELSE 0
                           END)) AS is_dup_clip
    FROM kf k LEFT JOIN dup d ON k.kfid = d.kfid
    GROUP BY k.doc_id ORDER BY k.doc_id
"""

# q198: both matchers rebuilt over the identical population, union
# graph closed with the q51 recursive CTE. The image-twin transform is
# the REAL translate (the +1 printable shift, 0x7E -> 0x7F), not the
# sample-offset model — the twin's text feeds the SHINGLE lane too,
# so the oracle needs the actual shifted string (whose single
# whitespace-free token is why the text lane can't see image twins).
_P_SQL = "'" + _PRINTABLE.replace("'", "''") + "'"
_S_SQL = "'" + _SHIFTED.replace("'", "''") + "'"
_Q198_COMP = f"""
    WITH RECURSIVE {_AV_DOCS},
    pop AS (
        SELECT doc_id, t AS text FROM docs WHERE length(t) > 0
        UNION ALL
        SELECT doc_id + 1000000, translate(t, {_P_SQL}, {_S_SQL})
        FROM docs WHERE length(t) > 0 AND doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 2000000, t || ' zz yy xx ww'
        FROM docs WHERE length(t) > 0 AND doc_id % 7 = 0
    ),
    {_minhash_ctes("pop")},
    {_VERIFIED_CTE},
    s2 AS (
        SELECT doc_id,
               list_transform(range(64), j -> ord(substr(
                   text,
                   CAST((j * length(text)) // 64 AS INT) + 1, 1))::BIGINT)
                   AS v
        FROM pop
    ),
    f2 AS (SELECT doc_id, v, list_sum(v)::BIGINT AS tot FROM s2),
    b2 AS (
        SELECT doc_id,
               {_AHASH_BANDS}
        FROM f2
    ),
    pimg AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b
        FROM b2 x JOIN b2 y
          ON x.doc_id < y.doc_id AND {_phash_match("x", "y")}
    ),
    uni AS (
        SELECT id_a, id_b FROM pimg
        UNION
        SELECT id_a, id_b FROM verified
    ),
    {_components_ctes("uni")}"""
ORACLE["q198_crossmodal_dedup"] = _Q198_COMP + _CLUSTERS_SELECT

# q199: q198's union-graph closure (_Q198_COMP) composed with the q86
# survivor rank — within each family keep the longest member (tie:
# lowest doc_id); unmatched records pass through with family_size 1.
ORACLE["q199_crossmodal_survivors"] = f"""{_Q198_COMP},
    fam AS (
        SELECT p.doc_id, length(p.text) AS n_chars, c.cluster_id,
               count(*) OVER (PARTITION BY c.cluster_id) AS family_size,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY length(p.text) DESC, p.doc_id)
                   AS rk
        FROM pop p JOIN comp c ON c.id = p.doc_id
    )
    SELECT doc_id, n_chars::BIGINT AS n_chars,
           family_size::BIGINT AS family_size
    FROM fam WHERE rk = 1
    UNION ALL
    SELECT p.doc_id, length(p.text)::BIGINT, 1::BIGINT
    FROM pop p
    WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.id = p.doc_id)
    ORDER BY doc_id
"""

# q200: both AV artifacts re-derived on the REMAINING population
# (erase == never-ingested, checked by integer content checksums, not
# just counts). Keyframe CTE chain = q195's ladder (all four bands
# equal b16 on 64-byte rasters, so the band-sum checksum is 4*b16 +
# frame); audio = q196's extractor replay without the re-encode union
# (checksum dms + floor(mel0*1000), both integers). Deletion request:
# doc_id % 9 == 4.
ORACLE["q200_av_erasure_report"] = f"""
    WITH {_AV_DOCS},
    pop AS (SELECT doc_id, t FROM docs WHERE length(t) > 0),
    {_video_frames_ctes("pop")},
    kf AS (
        SELECT doc_id, frame, b16 FROM ham
        WHERE hamming IS NULL OR hamming > 8
    ),
    aud AS (
        SELECT doc_id, {_AUDIO_DMS} AS dms,
               {_audio_mel("md5(t || repeat(chr(0), 4))")} AS mel0
        FROM pop
    )
    SELECT 'audio' AS lane,
           (SELECT count(*) FROM aud)::BIGINT AS rows_before,
           count(*)::BIGINT AS rows_after,
           count(DISTINCT doc_id)::BIGINT AS clips_after,
           sum(dms + CAST(floor(mel0 * 1000.0) AS BIGINT))::BIGINT
               AS checksum_after
    FROM aud WHERE doc_id % 9 <> 4
    UNION ALL
    SELECT 'keyframes',
           (SELECT count(*) FROM kf)::BIGINT,
           count(*)::BIGINT,
           count(DISTINCT doc_id)::BIGINT,
           sum(4 * b16 + frame)::BIGINT
    FROM kf WHERE doc_id % 9 <> 4
    ORDER BY lane
"""

# q201: the text-lane SEQUENTIAL admission replayed — batch 0
# (doc_id % 4 in (1, 2)) gates against the stored shingle index
# (doc_id % 4 == 0); batch 1 (doc_id % 4 == 3 docs + ' dup'-appended
# twins of every doc_id % 3 == 0 doc) gates against stored UNION
# batch-0 survivors, because the stream folds each batch's survivors
# into the index before the next batch. Match = shared minhash band
# AND exact shingle Jaccard >= 0.5 (the q102/q136 gate). Each batch
# ALSO drops its own intra-batch near-dups first (keep-lowest-id over
# ALL batch members — gate_and_fold_text_batch's self_dedup=True
# rule), hit here by the doc_id % 12 == 3 docs riding batch 1 with
# their twins.
ORACLE["q201_stream_text_ingest_fold"] = f"""
    WITH pop AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || ' dup'
        FROM documents WHERE doc_id % 3 = 0
    ),
    {_minhash_ctes("pop")},
    {_SETS_CTE},
    m AS (
        SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        FROM band a JOIN band b
          ON a.band = b.band AND a.bandsig = b.bandsig
        WHERE a.doc_id <> b.doc_id
    ),
    mv AS (
        SELECT m.ia, m.ib FROM m
        JOIN sets x ON x.doc_id = m.ia
        JOIN sets y ON y.doc_id = m.ib
        WHERE {_jaccard_ok("x", "y")}
    ),
    stored0 AS (
        SELECT doc_id FROM documents WHERE doc_id % 4 = 0
    ),
    b1 AS (
        SELECT doc_id FROM documents WHERE doc_id % 4 IN (1, 2)
    ),
    b2 AS (
        SELECT doc_id FROM documents WHERE doc_id % 4 = 3
        UNION ALL
        SELECT doc_id + 1000000 FROM documents WHERE doc_id % 3 = 0
    ),
    s1 AS (
        SELECT x.doc_id FROM b1 x
        WHERE NOT EXISTS (
            SELECT 1 FROM mv JOIN stored0 s ON mv.ib = s.doc_id
            WHERE mv.ia = x.doc_id
        )
        AND NOT EXISTS (
            SELECT 1 FROM mv JOIN b1 w ON mv.ib = w.doc_id
            WHERE mv.ia = x.doc_id AND w.doc_id < x.doc_id
        )
    ),
    stored1 AS (
        SELECT doc_id FROM stored0 UNION ALL SELECT doc_id FROM s1
    ),
    s2 AS (
        SELECT x.doc_id FROM b2 x
        WHERE NOT EXISTS (
            SELECT 1 FROM mv JOIN stored1 s ON mv.ib = s.doc_id
            WHERE mv.ia = x.doc_id
        )
        AND NOT EXISTS (
            SELECT 1 FROM mv JOIN b2 w ON mv.ib = w.doc_id
            WHERE mv.ia = x.doc_id AND w.doc_id < x.doc_id
        )
    )
    SELECT doc_id, 0::BIGINT AS admitted_in_batch FROM s1
    UNION ALL
    SELECT doc_id, 1::BIGINT FROM s2
    ORDER BY doc_id
"""
