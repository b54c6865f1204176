"""Seeded inputs. The library only ever sees what this module writes.

- The lake tables come from the repository's own deterministic
  generator (``scripts/gen_sf.py``) at ``MULT`` times the sf0.1 row
  counts, with the benchmark's seed.
- The stream backlog is BATCHES parquet files, one per micro-batch, built
  with a seeded numpy generator. Each batch carries fixed shares of
  twins: cross-batch twins (a copy, plus one token, of a document
  admitted earlier) and in-batch twins (of a document in the same
  file).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 0.04 x the sf0.1 row counts: ~24k lineitem, 6k orders, 4k events,
# 200 documents, 80 embeddings
MULT = 0.04
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# stream backlog shape
BATCHES = 2
BATCH_DOCS = 40
CROSS_TWINS = 8
INNER_TWINS = 4
TWIN_ID_OFFSET = 1_000_000


def _gen_sf():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("gen_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_tables(out_dir: str, seed: int) -> None:
    """Write the ten lake tables."""
    _gen_sf().generate(out_dir, MULT, seed)


def stream_inputs(
    tables_dir: str, out_dir: str, seed: int
) -> tuple[dict[int, str], list[list[tuple[int, str]]]]:
    """The stream's base documents and its backlog.

    The base is the half of the documents whose seeded md5 bucket is
    below 5. The backlog is written to ``out_dir`` (one file per
    batch, ascending mtimes) and returned as ``[(doc_id, text), ...]``
    lists. Originals are drawn from the documents not in the base;
    cross-batch twins copy a base document or one of an earlier batch;
    in-batch twins copy a document of the same batch. A twin appends
    one token, so it stays a near-duplicate of its source.
    """
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"))
    texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    base = {i: t for i, t in texts.items() if _bucket(i, seed) < 5}
    fresh = [i for i in texts if i not in base]
    picked = rng.choice(fresh, size=BATCHES * BATCH_DOCS, replace=False).tolist()
    earlier = sorted(base)
    batches = []
    for b in range(BATCHES):
        own = picked[b * BATCH_DOCS:(b + 1) * BATCH_DOCS]
        rows = [(i, texts[i]) for i in own]
        for src in rng.choice(earlier, size=CROSS_TWINS, replace=False).tolist():
            rows.append((src + TWIN_ID_OFFSET * (b + 1), texts[src] + " dup"))
        for src in rng.choice(own, size=INNER_TWINS, replace=False).tolist():
            rows.append((src + TWIN_ID_OFFSET * (b + 1), texts[src] + " again"))
        batches.append(rows)
        earlier = sorted(earlier + own)
    write_backlog(out_dir, batches)
    return base, batches


def _bucket(i: int, seed: int) -> int:
    return int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), 16) % 10


def write_backlog(out_dir: str, batches: list[list[tuple[int, str]]]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for b, rows in enumerate(batches):
        path = os.path.join(out_dir, f"{b:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            path,
        )
        # the file source picks files up in mtime order
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
