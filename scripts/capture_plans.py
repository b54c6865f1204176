"""Capture `.explain("formatted")` for named queries into plans/<dir>/.

Usage: python scripts/capture_plans.py <dir> before|after q05_multiway_join_agg [...]

Writes plans/<dir>/<name>_<tag>.txt, so each capture set (r14,
minhash_ladder, ...) keeps its own directory. Plan capture only
*builds* the frame (no action) — except for the streaming/temp-dir
queries (q194, q200, q201...) whose construction executes the
pipeline; their file records the plan of the returned (checkpointed)
result plus a note.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from data_lake_project_spark.plans import explain_str  # noqa: E402
from data_lake_project_spark.queries import QUERIES  # noqa: E402
from data_lake_project_spark.session import get_spark  # noqa: E402

# Queries whose builder executes work eagerly (streaming folds /
# publish-if-absent artifacts) — the captured plan is the final
# materialized frame, not the interesting pipeline; note that inline.
EAGER = {
    "q194_stream_phash_ingest_fold",
    "q200_av_erasure_report",
    "q201_stream_text_ingest_fold",
}


def main() -> None:
    sub, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "plans", sub
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        txt = explain_str(df)
        if name in EAGER:
            txt = (
                "NOTE: this query's builder executes its streaming/"
                "artifact pipeline eagerly; the plan below is the "
                "returned (localCheckpoint'ed) result frame only.\n\n"
            ) + txt
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
