"""Output checks, run outside the timed region.

Query results are compared as canonical digests: columns sorted by
name, floats rounded to 9 places, rows sorted — the same canonical
form the repository's oracle test applies — so a digest taken from
Spark rows matches one taken from the DuckDB oracle's rows exactly
when the two result sets agree.
"""

from __future__ import annotations

import hashlib
import math
import os
import re


def digest(rows, cols) -> str:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float) and not math.isnan(v):
                v = round(v, 9)
            vals.append(repr(v))
        canon.append(tuple(vals))
    canon.sort()
    h = hashlib.sha256(repr([cols[i] for i in idx]).encode())
    for row in canon:
        h.update(repr(row).encode())
    return f"{len(canon)}:{h.hexdigest()[:16]}"


def spark_digest(df) -> str:
    return digest([tuple(r) for r in df.collect()], df.columns)


class Oracle:
    """DuckDB views over the generated tables; digests of the
    ``ORACLE`` SQL of the queries a workload runs."""

    def __init__(self, tables_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            path = os.path.join(tables_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def digest(self, sql: str) -> str:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return digest(res.fetchall(), cols)

    def close(self):
        self.con.close()


def text_gate_replay(
    base: dict[int, str],
    batches: list[list[tuple[int, str]]],
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
) -> list[tuple[int, int]]:
    """The text ingest gate's admission rule, replayed sequentially in
    plain Python: word ``k``-shingles, md5 minhash bands, and exact
    shingle Jaccard >= ``threshold`` on a shared band. Inside a batch
    a document is dropped when a lower id of the same batch matches
    it; the rest are dropped when a document already indexed (the base
    or an earlier batch's admissions) matches. Returns the admitted
    ``(doc_id, batch)`` pairs, sorted."""
    index = {i: _lsh(t, k, num_hashes, band_size) for i, t in base.items()}
    admitted = []
    for b, rows in enumerate(batches):
        feats = {i: _lsh(t, k, num_hashes, band_size) for i, t in rows}
        doomed = {
            j
            for j in feats
            for i in feats
            if i < j and _match(feats[i], feats[j], threshold)
        }
        kept = [
            i
            for i in feats
            if i not in doomed
            and not any(_match(feats[i], f, threshold) for f in index.values())
        ]
        admitted += [(i, b) for i in kept]
        index.update((i, feats[i]) for i in kept)
    return sorted(admitted)


def _lsh(text: str, k: int, num_hashes: int, band_size: int):
    toks = re.split(r"\s+", text.strip(" "))
    n = len(toks)
    if n >= k:
        grams = {" ".join(toks[i:i + k]) for i in range(n - k + 1)}
    else:
        grams = {" ".join(toks)}
    grams.discard("")
    if not grams:
        return None
    digests = [
        [hashlib.md5(f"{d}:{s}".encode()).hexdigest() for s in grams]
        for d in range((num_hashes + 3) // 4)
    ]
    mhs = [
        min(x[8 * (h % 4):8 * (h % 4) + 8] for x in digests[h // 4])
        for h in range(num_hashes)
    ]
    bands = {
        (b, "|".join(mhs[b * band_size:(b + 1) * band_size]))
        for b in range(num_hashes // band_size)
    }
    return grams, bands


def _match(a, b, threshold: float) -> bool:
    if a is None or b is None or not (a[1] & b[1]):
        return False
    inter = len(a[0] & b[0])
    return inter / float(len(a[0]) + len(b[0]) - inter) >= threshold
