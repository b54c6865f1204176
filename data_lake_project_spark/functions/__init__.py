"""Scalar function library (SURVEY.md §2.7, F1-F14).

Everything here is a thin composition of built-in
``pyspark.sql.functions`` — JVM-side, codegen-friendly, never a
Python UDF. Each wrapper exists because the reference's semantics
differ slightly from stock Spark (e.g. European decimal commas) or
because the pattern recurs across operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_number(col: Column | str) -> Column:
    """European decimal-comma numeric parse.

    Reference: ``dags/get_data/notePresentation.py:73-76`` —
    ``value.strip().replace(',', '.')`` then ``float(value)``.
    Also strips spaces used as thousands separators ("1 234,5").
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.regexp_replace(F.trim(c), r"\s", ""), ",", ".")
    return cleaned.cast("double")


def pround(col: Column, digits: int = 2) -> Column:
    """Portable round: ``floor(x * 10^d + 0.5) / 10^d``.

    Engines disagree on round() internals for doubles (Spark routes
    through BigDecimal HALF_UP on the exact binary expansion, DuckDB
    scales in floating point), which flips the last digit on boundary
    values. This explicit formula is the same IEEE op sequence on any
    engine, so bit-identical inputs give bit-identical outputs. Used by
    every oracle-checked query (the DuckDB side inlines the identical
    formula).
    """
    scale = float(10**digits)
    return F.floor(col * scale + F.lit(0.5)) / scale


def dec_sum(col: Column, digits: int = 6) -> Column:
    """Order-independent money sum: cast each term to an exact decimal
    before aggregating, so float summation order (partial aggregates,
    shuffle nondeterminism) can never change the total. Cast back to
    double at the end for a stable, engine-neutral output type.
    """
    return F.sum(col.cast(f"decimal(27,{digits})")).cast("double")


def clamp(col: Column, lo: Column | float, hi: Column | float) -> Column:
    """min/max clamp, reference ``tableExtract.py:69-72``
    (``max(0, x1-m)``, ``min(width, x2+m)``)."""
    lo_c = F.lit(lo) if not isinstance(lo, Column) else lo
    hi_c = F.lit(hi) if not isinstance(hi, Column) else hi
    return F.least(F.greatest(col, lo_c), hi_c)


def contains_ci(col: Column | str, needle: Column | str) -> Column:
    """Case-insensitive containment predicate — the reference's
    pervasive keyword match (``kpis_search.py:50``, ``tableExtract.py:77-79``,
    ``graphData.py:117-119``, ``texteExtract.py:63-64``)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.lit(needle) if isinstance(needle, str) else needle
    return F.instr(F.lower(c), F.lower(n)) > 0


def tokens(col: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization used throughout text analysis.

    Trims first so leading/trailing whitespace never yields empty
    tokens (keeps Spark's ``split`` and the oracle's
    ``regexp_split_to_array`` in agreement).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), pattern)


NUMERIC_FACT_RE = r"[0-9]+(?:[.,][0-9]+)?\s*(?:%|\$|bbl|dollars|millions)"
"""Numeric-fact pattern: number (incl. decimal comma) followed by a unit.

Reference semantics: spaCy Matcher VALUE pattern — LIKE_NUM, optional
punct, optional LIKE_NUM, unit regex ``[%$]|bbl|dollars|millions``
(``dags/get_data/texteExtract.py:27-33``). Uses only RE2-safe syntax so
the identical pattern runs on Spark (Java regex) and DuckDB (RE2).
"""

YEAR_RE = r"\b(1[89][0-9]{2}|20[0-9]{2})\b"
"""4-digit year pattern (``texteExtract.py:34-38`` YEAR shape)."""


def spread(df, min_partitions: int | None = None):
    """Ensure the map side of a compute-heavy operator has at least
    the session's default parallelism of input partitions.

    A small table (one parquet file → one partition) would otherwise
    run the whole pre-shuffle pipeline — shingling, md5 hashing, dot
    products — on a single core. At 100 TB inputs already carry
    thousands of partitions, so the condition is false and this is a
    zero-cost no-op; the round-robin repartition only ever pays its
    (tiny-input) shuffle when parallelism is actually missing.

    The probe is ``df.inputFiles()`` — leaf-scan file listing served
    from the already-built ``InMemoryFileIndex`` (~1 ms) — instead of
    ``df.rdd.getNumPartitions()``, whose plan-to-RDD conversion cost
    ~80 ms per operator call (the round-1 q31 bench regression). The
    RDD probe remains only as the fallback for non-file sources
    (in-memory test fixtures, post-shuffle inputs), where file count
    is not a meaningful parallelism signal.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # pragma: no cover - defensive
        n_files = 0
    if n_files == 0:
        n_files = df.rdd.getNumPartitions()
    if n_files < target:
        return df.repartition(target)
    return df


def reserve_columns(df, op_name: str, *names: str) -> None:
    """Raise if ``df`` already carries a column an operator uses as
    internal working space or output — silently overwriting a user
    column (then dropping or emitting it) is the failure mode the
    ``time_range_join``/``__bin`` guard first pinned; every operator
    that materializes working columns should call this."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"{op_name}: input already has column(s) {clash} — these "
            "names are reserved by the operator (internal working "
            "space or output); rename them first"
        )


def hash_embedding(col: Column | str, dim: int = 16) -> Column:
    """Deterministic md5 feature-hash embedding: component ``j`` of
    text ``s`` is ``(int(md5(s || ':' || j)[:8], 16) % 2001 - 1000)
    / 1000.0`` — a pseudo-random but fully reproducible vector in
    [-1, 1]^dim, derived from nothing but md5 (no model, no RNG).

    This is the engine's stand-in for a learned text encoder where no
    model runtime exists (the same role the deterministic fakes play
    for OCR): it exercises the ENTIRE downstream vector stack —
    ANN indexes, semantic dedup, retrieval — with oracle-checkable
    values, because DuckDB computes the identical integer from
    ``('0x' || substr(md5(..), 1, 8))::BIGINT``. The hex chunk fits a
    BIGINT exactly, the modulus and division are exact integer then
    correctly-rounded IEEE ops — bit-identical across engines.

    Swap in a real encoder on a cluster by replacing this column with
    a Pandas-UDF model call; every consumer is shape-compatible.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.conv(
                F.substring(
                    F.md5(F.concat(c, F.lit(":"), j.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % 2001
            - 1000
        )
        / 1000.0,
    )
