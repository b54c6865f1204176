"""The two workloads. Each is a setup step plus a list of operations.

See ``perfbench/README.md`` for why each workload exists, which layers
it loads and which it bypasses.
"""

from __future__ import annotations

import os
import shutil

from perfbench import inputs
from perfbench.checks import Oracle, spark_digest, text_gate_replay
from perfbench.harness import CONTROL, Op, Outcome

RELATIONAL = [
    "q05_multiway_join_agg",
    "q07_asof_join",
    "q11_window_rank",
    "q43_sessionize",
    "q24_interval_join",
    "q69_funnel",
    "q67_scd2",
    "q93_snapshot_diff",
    "q103_cdc_apply",
    "q120_ivm_apply",
]

CURATION = [
    "q99_pagerank",
    "q180_mutual_knn_graph",
    "q144_bm25_retrieval",
    "q140_bpe_tokenize",
    "q30_quality_score",
    "q189_phash_neardup",
]
STREAM_SCHEMA = "doc_id long, text string"


class Workload:
    """``setup`` writes the seeded inputs under ``data_dir``; it is
    repeated to time set-up. ``publish`` computes what the checks
    expect and builds the caches the operations read, once. ``ops``
    lists the operations of one pass."""

    def __init__(self, h):
        self.h = h

    @property
    def spark(self):
        return self.h.spark

    def setup(self, data_dir: str) -> None:
        self.sf = os.path.join(data_dir, "tables")
        inputs.make_tables(self.sf, self.h.seed)

    def publish(self) -> None:
        pass

    def warm(self) -> None:
        """Run the control operation twice, untimed, so that its first
        timed reading is neither its cold start nor its first JIT pass."""
        from data_lake_project_spark.queries import QUERIES

        self.h.untimed("warm-up")
        for _ in range(2):
            QUERIES[CONTROL](self.spark, self.sf).write.format("noop").mode(
                "overwrite"
            ).save()

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def stored_bytes(self) -> tuple[int, int]:
        """Bytes the workload's indexes keep on disk, and the raw bytes
        of the user rows they hold; none outside ``curation``."""
        return 0, 0


class QueryWorkload(Workload):
    """Queries from the registry. Each is checked once per run against
    the digest of its DuckDB oracle."""

    names: list[str] = []

    def publish(self) -> None:
        from data_lake_project_spark.queries import ORACLE

        oracle = Oracle(self.sf, inputs.TABLES)
        try:
            self.expected = {q: oracle.digest(ORACLE[q]) for q in self.names}
        finally:
            oracle.close()

    def ops(self) -> list[Op]:
        return [Op(q, self._query_op(q)) for q in self.names]

    def _query_op(self, name: str):
        h = self.h

        def run(n_pass: int) -> Outcome:
            df = h.query(name, self.sf)
            if name in h.checked:
                return Outcome()
            h.checked.add(name)

            def check():
                got = spark_digest(df)
                if got != self.expected[name]:
                    return f"{name}: digest {got} != oracle {self.expected[name]}"
                return None

            return Outcome(check=check)

        return run


class Relational(QueryWorkload):
    names = RELATIONAL


class Curation(QueryWorkload):
    """The document layer: build-heavy curation queries, then a seeded
    backlog of micro-batch files drained through the text ingest
    gate-and-fold, one file per trigger, from a fresh copy of a base
    index built in setup."""

    names = CURATION

    def setup(self, data_dir: str) -> None:
        super().setup(data_dir)
        self.stream_root = os.path.join(data_dir, "stream")
        self.backlog = os.path.join(self.stream_root, "backlog")
        base, self.batches = inputs.stream_inputs(self.sf, self.backlog, self.h.seed)
        self.base_ids = sorted(base)
        self.expected_admitted = text_gate_replay(base, self.batches)
        self.triggers = []

    def publish(self) -> None:
        """The oracle digests, and the base index every drain starts
        from."""
        from data_lake_project_spark.operators.dedup_index import (
            build_dedup_index,
            save_dedup_index,
        )
        from data_lake_project_spark.tables import load_table

        super().publish()
        docs = load_table(self.spark, self.sf, "documents").select("doc_id", "text")
        self.base_docs = docs.filter(docs.doc_id.isin(self.base_ids))
        self.base_index = os.path.join(self.stream_root, "base_index")
        save_dedup_index(build_dedup_index(self.base_docs), self.base_index)

    def ops(self) -> list[Op]:
        return super().ops() + [
            Op("stream.text_fold", self._stream_fold, pre=self._stream_pre)
        ]

    # -- the gated stream fold ----------------------------------------

    def _stream_dirs(self, n_pass):
        d = os.path.join(self.stream_root, f"pass{n_pass}")
        return {k: os.path.join(d, k) for k in ("index", "out", "ckpt")}

    def _stream_pre(self, n_pass: int) -> None:
        d = self._stream_dirs(n_pass)
        shutil.copytree(self.base_index, d["index"])

    def _stream_fold(self, n_pass: int) -> Outcome:
        from pyspark.sql import functions as F

        from data_lake_project_spark.operators.dedup_index import (
            stream_ingest_with_text_gate,
        )

        h, spark = self.h, self.spark
        d = self._stream_dirs(n_pass)
        h.group("stream.text_fold", "drain")
        stream = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.backlog)
        )
        with h.tracer.span("streaming", "drain", anchor=True):
            q = stream_ingest_with_text_gate(
                stream, d["index"], d["out"], d["ckpt"], available_now=True
            )
            if not q.awaitTermination(150):
                q.stop()
                raise TimeoutError("stream drain did not finish in 150 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.triggers += [
            dict(p["durationMs"], batchId=p["batchId"], runId=p["runId"]) for p in progress
        ]

        def check():
            got = sorted(
                (r.doc_id, int(r.b))
                for r in spark.read.parquet(f"{d['out']}/data")
                .select("doc_id", F.col("__batch").alias("b"))
                .collect()
            )
            if len(progress) != len(self.batches):
                return f"stream: {len(progress)} triggers for {len(self.batches)} batch files"
            if got != self.expected_admitted:
                return (
                    f"stream: admitted {len(got)} rows, sequential replay admits "
                    f"{len(self.expected_admitted)}"
                )
            return None

        return Outcome(
            samples=[p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
            check=check,
            runs=[q.runId],
        )

    def stored_bytes(self) -> tuple[int, int]:
        """Bytes on disk of the indexes the drains grew, and the raw
        bytes of the user rows they hold (ids at 8 bytes, text at its
        length): the base documents plus every admitted row."""
        on_disk = 0
        for n in range(len(self.h.passes)):
            for dirpath, _, files in os.walk(self._stream_dirs(n)["index"]):
                on_disk += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        text = {i: t for rows in self.batches for i, t in rows}
        admitted = sum(8 + len(text[i]) for i, _ in self.expected_admitted)
        base = self.base_docs.selectExpr("sum(8 + length(text))").first()[0]
        return on_disk, (base + admitted) * len(self.h.passes)


WORKLOADS = {"relational": Relational, "curation": Curation}
