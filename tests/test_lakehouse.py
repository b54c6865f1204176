"""Tests for the M2 lakehouse layer (DDL ensure, partitioned upsert
idempotence, medallion promote) and the sources module (CSV
round-trip with reference quote semantics, UUID-keyed JSON records,
KeyedTable MERGE-on-key).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_lake_project_spark.lakehouse import Lakehouse, with_ingest_metadata
from data_lake_project_spark.sources import (
    KeyedTable,
    read_csv,
    to_keyed_json_records,
    write_csv,
)


def test_ensure_table_is_idempotent(spark, tmp_path):
    lh = Lakehouse(spark, str(tmp_path))
    lh.ensure_table("bronze", "ev", "id string, d date, v int", ["d"])
    lh.ensure_table("bronze", "ev", "id string, d date, v int", ["d"])  # no-op
    assert lh.exists("bronze", "ev")
    assert lh.partitioning("bronze", "ev") == ["d"]
    assert lh.read("bronze", "ev").count() == 0


def test_upsert_partitions_idempotent_and_partial(spark, tmp_path):
    lh = Lakehouse(spark, str(tmp_path))
    lh.ensure_table("silver", "ev", "id string, d string, v int", ["d"])
    day1 = spark.createDataFrame(
        [("a", "2024-05-01", 1), ("b", "2024-05-01", 2)], "id string, d string, v int"
    )
    day2 = spark.createDataFrame(
        [("c", "2024-05-02", 3)], "id string, d string, v int"
    )
    lh.upsert_partitions("silver", "ev", day1)
    lh.upsert_partitions("silver", "ev", day2)
    # replay day1 (retry after failure): must not duplicate, must not
    # touch day2's partition
    lh.upsert_partitions("silver", "ev", day1)
    out = lh.read("silver", "ev")
    assert out.count() == 3
    assert out.filter(F.col("d") == "2024-05-02").count() == 1
    # corrected day1 replaces, not appends
    day1_fixed = spark.createDataFrame(
        [("a", "2024-05-01", 99)], "id string, d string, v int"
    )
    lh.upsert_partitions("silver", "ev", day1_fixed)
    out = lh.read("silver", "ev")
    assert out.count() == 2
    assert out.filter("id = 'a'").first().v == 99


def test_promote_bronze_to_silver(spark, tmp_path):
    lh = Lakehouse(spark, str(tmp_path))
    raw = spark.createDataFrame(
        [("1", "2024-05-01", "7"), ("", "2024-05-02", "x")],
        "id string, order_date string, quantity string",
    )
    lh.ensure_table("bronze", "orders", raw.schema)
    lh.append("bronze", "orders", with_ingest_metadata(raw, "test").drop(
        "_source", "_load_date"
    ))

    def typed(df):
        return df.filter(F.col("id") != "").select(
            "id",
            F.to_date("order_date").alias("order_date"),
            F.col("quantity").cast("int").alias("quantity"),
        )

    out = lh.promote("bronze", "silver", "orders", typed)
    silver = lh.read("silver", "orders")
    assert silver.count() == out.count() == 1
    assert dict(silver.dtypes)["quantity"] == "int"


def test_csv_roundtrip_reference_quote_semantics(spark, tmp_path):
    # quoted field containing the delimiter — pandas quotechar='"'
    # semantics (GetData.py:33)
    src = tmp_path / "in.csv"
    src.write_text('name,desc\nwidget,"a, b"\ngadget,plain\n')
    df = read_csv(spark, str(src))
    rows = {r.name: r.desc for r in df.collect()}
    assert rows == {"widget": "a, b", "gadget": "plain"}
    out = str(tmp_path / "out")
    write_csv(df, out)
    back = read_csv(spark, out)
    assert sorted(back.collect()) == sorted(df.collect())


def test_to_keyed_json_records(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    out = to_keyed_json_records(df).collect()
    assert len(out) == 2
    # fresh UUIDs are unique; values round-trip through JSON
    assert len({r.key for r in out}) == 2
    assert {json.loads(r.value)["s"] for r in out} == {"a", "b"}
    keyed = to_keyed_json_records(df, key_col="id").collect()
    assert sorted(r.key for r in keyed) == ["1", "2"]


def test_keyed_table_upsert_merge_semantics(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "kt"), key_col="k")
    base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    t.upsert(base)
    # update one key, insert another; re-run the same batch (retry)
    upd = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int")
    t.upsert(upd)
    t.upsert(upd)
    out = {r.k: r.v for r in t.read().collect()}
    assert out == {"a": 1, "b": 20, "c": 3}


def test_keyed_table_intra_batch_version_wins(spark, tmp_path):
    """ADVICE round 1: 'last occurrence wins' must be deterministic.
    With an explicit version column the highest version wins no matter
    how the batch is partitioned or shuffled."""
    t = KeyedTable(spark, str(tmp_path / "ktv"), key_col="k")
    batch = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("b", 7, 1)],
        "k string, v int, ver int",
    ).repartition(4)  # scatter the duplicates across partitions
    t.upsert(batch, version_col="ver")
    out = {r.k: r.v for r in t.read().drop("ver").collect()}
    assert out == {"a": 2, "b": 7}  # ver=30 row wins for 'a'
    # and an update batch beats current rows regardless of version
    t.upsert(
        spark.createDataFrame([("a", 99, 0)], "k string, v int, ver int"),
        version_col="ver",
    )
    assert {r.k: r.v for r in t.read().collect()}["a"] == 99


def test_keyed_table_read_for_casts_key_dtype(spark, tmp_path):
    """xxhash64 is type-sensitive; a read_for probe whose keys frame
    carries a different (castable) integer width than the stored
    column must still land on the right buckets."""
    t = KeyedTable(spark, str(tmp_path / "ktdt"), key_col="k", n_buckets=8)
    t.upsert(
        spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v int")
    )
    probe_int = spark.createDataFrame([(7,)], "k int")  # INT, stored is BIGINT
    rows = t.read_for(probe_int).filter(F.col("k") == 7).collect()
    assert [(r.k, r.v) for r in rows] == [(7, 70)]


def test_keyed_table_swap_crash_window_loses_no_rows(
    spark, tmp_path, monkeypatch
):
    """A rewrite cut short between a bucket's live->old and tmp->live
    renames (the second rename of the swap) must lose nothing:
    reopening the table rolls the bucket back from its old copy, so
    replaying the same upsert lands the update on the FULL table, and
    re-running an interrupted erase removes exactly the requested keys.
    (Clearing the tmp and old copies before restoring anything left 53
    of 64 rows here.)"""
    import pytest

    from data_lake_project_spark import fs

    path = str(tmp_path / "ktc")
    base = spark.createDataFrame(
        [(f"key{i}", i) for i in range(64)], "k string, v int"
    )
    KeyedTable(spark, path, key_col="k", n_buckets=8).upsert(base)
    real_rename = fs.rename

    def crash_mid_swap(fn):
        calls = []

        def rename(*a):
            calls.append(a)
            if len(calls) == 2:
                raise RuntimeError("injected crash mid-swap")
            return real_rename(*a)

        monkeypatch.setattr(fs, "rename", rename)
        with pytest.raises(RuntimeError, match="mid-swap"):
            fn(KeyedTable(spark, path, key_col="k"))
        monkeypatch.setattr(fs, "rename", real_rename)
        fn(KeyedTable(spark, path, key_col="k"))
        return {r.k: r.v for r in KeyedTable(spark, path, "k").read().collect()}

    upd = spark.createDataFrame([("key7", 700)], "k string, v int")
    out = crash_mid_swap(lambda t: t.upsert(upd))
    assert out == {**{f"key{i}": i for i in range(64)}, "key7": 700}

    doomed = ["key3", "key7", "key20", "key41"]
    req = spark.createDataFrame([(k,) for k in doomed], "k string")
    out = crash_mid_swap(lambda t: t.erase(req))
    assert out == {f"key{i}": i for i in range(64) if f"key{i}" not in doomed}


def test_keyed_table_versionless_upsert_handles_map_columns(spark, tmp_path):
    """The content-hash tie-break must survive map-typed columns
    (xxhash64 rejects MapType; maps enter as canonical sorted-entry
    JSON) and stay layout-independent."""
    t = KeyedTable(spark, str(tmp_path / "ktmap"), key_col="k")
    batch = spark.createDataFrame(
        [("a", {"x": 1}), ("a", {"y": 2}), ("b", {"z": 3})],
        "k string, m map<string,int>",
    )
    t.upsert(batch.repartition(3))
    first = sorted((r.k, sorted(r.m.items())) for r in t.read().collect())
    t2 = KeyedTable(spark, str(tmp_path / "ktmap2"), key_col="k")
    t2.upsert(batch.repartition(1))
    second = sorted((r.k, sorted(r.m.items())) for r in t2.read().collect())
    assert first == second and len(first) == 2


def test_keyed_table_upsert_versionless_is_layout_independent(spark, tmp_path):
    """Without a version column the intra-batch winner is a CONTENT
    hash, not partition order: the same batch — however repartitioned
    or shuffled — must produce identical table state every time.
    (Round 2 used monotonically_increasing_id, which a repartition
    could flip.)"""
    rows = [("a", 1), ("a", 2), ("a", 3), ("b", 7), ("b", 8)]
    batch = spark.createDataFrame(rows, "k string, v int")
    states = []
    for n_parts in (1, 3, 5):
        t = KeyedTable(spark, str(tmp_path / f"ktd{n_parts}"), key_col="k")
        t.upsert(batch.repartition(n_parts))
        t.upsert(batch.repartition(n_parts).orderBy(F.col("v").desc()))
        states.append(sorted((r.k, r.v) for r in t.read().collect()))
    assert states[0] == states[1] == states[2]
    assert len(states[0]) == 2  # one survivor per key


def test_keyed_table_upsert_is_bucket_scoped(spark, tmp_path):
    """The O(delta) contract: an upsert touching one key must leave
    every other bucket's files untouched on disk (same path, same
    mtime) — proving the merge never rewrote the whole table."""
    import pathlib

    root = tmp_path / "ktb"
    t = KeyedTable(spark, str(root), key_col="k", n_buckets=8)
    base = spark.createDataFrame(
        [(f"key{i}", i) for i in range(64)], "k string, v int"
    )
    t.upsert(base)

    def snapshot():
        return {
            str(p): p.stat().st_mtime_ns
            for p in pathlib.Path(root, "buckets").rglob("*.parquet")
        }

    before = snapshot()
    t.upsert(spark.createDataFrame([("key7", 700)], "k string, v int"))
    after = snapshot()

    # the single-key update touches exactly one bucket directory
    changed = {p for p in before if p not in after or before[p] != after[p]}
    new = {p for p in after if p not in before}
    touched_dirs = {str(pathlib.Path(p).parent) for p in changed | new}
    assert len(touched_dirs) == 1, touched_dirs
    # every other bucket's files survive byte-for-byte untouched
    untouched = {p: m for p, m in before.items()
                 if str(pathlib.Path(p).parent) not in touched_dirs}
    assert untouched and all(after[p] == m for p, m in untouched.items())
    # and the data is still right
    out = {r.k: r.v for r in t.read().collect()}
    assert out["key7"] == 700 and len(out) == 64


def test_keyed_table_delta_upsert_builds_merge_contract(spark, tmp_path):
    """Contract-level exercise of the Delta MERGE seam without Delta
    jars: a fake ``delta.tables.DeltaTable`` records what
    ``_upsert_delta`` asks of it. Pins (a) the merge condition equates
    the key column on both aliases, (b) matched-update + not-matched-
    insert + execute are all requested, and (c) the update batch is
    pre-deduped to ONE row per key with the highest version winning —
    so a real Delta deployment gets the same intra-batch semantics the
    parquet protocol tests elsewhere."""
    import sys
    import types

    calls = {}

    class FakeMergeBuilder:
        def whenMatchedUpdateAll(self):
            calls["matched_update"] = True
            return self

        def whenNotMatchedInsertAll(self):
            calls["not_matched_insert"] = True
            return self

        def execute(self):
            calls["executed"] = True

    class FakeDeltaTable:
        @staticmethod
        def forPath(spark_, path):
            calls["for_path"] = path
            return FakeDeltaTable()

        def alias(self, name):
            calls["target_alias"] = name
            return self

        def merge(self, source_df, condition):
            calls["merge_condition"] = condition
            calls["merge_rows"] = sorted(
                (r["k"], r["v"], r["ver"]) for r in source_df.collect()
            )
            return FakeMergeBuilder()

    fake_pkg = types.ModuleType("delta")
    fake_tables = types.ModuleType("delta.tables")
    fake_tables.DeltaTable = FakeDeltaTable
    fake_pkg.tables = fake_tables
    sys.modules["delta"] = fake_pkg
    sys.modules["delta.tables"] = fake_tables
    try:
        t = KeyedTable(
            spark, str(tmp_path / "ktdelta"), key_col="k", table_format="delta"
        )
        # mark the table as existing so the MERGE path (not the initial
        # write, which needs real jars) runs
        os.makedirs(tmp_path / "ktdelta" / "delta" / "_delta_log")
        batch = spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 30), ("b", 7, 1)],
            "k string, v int, ver int",
        ).repartition(3)
        t.upsert(batch, version_col="ver")
    finally:
        del sys.modules["delta"], sys.modules["delta.tables"]

    assert calls["for_path"].endswith("/delta")
    assert calls["merge_condition"] == "t.k = u.k"
    assert calls["target_alias"] == "t"
    assert calls["matched_update"] and calls["not_matched_insert"]
    assert calls["executed"]
    # intra-batch dedup happened BEFORE the merge: ver=30 wins for 'a'
    assert calls["merge_rows"] == [("a", 2, 30), ("b", 7, 1)]


def test_scd2_apply_incremental_equals_batch(spark, tmp_path):
    """Applying the event fixture in 3 sequential time-ordered batches
    must produce EXACTLY the q67 batch-derived SCD2 history — versions,
    interval boundaries, open-interval flags, everything."""
    from pyspark.sql import Window

    from data_lake_project_spark.lakehouse import scd2_apply
    from data_lake_project_spark.queries import QUERIES
    from data_lake_project_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    t = KeyedTable(
        spark,
        str(tmp_path / "scd2"),
        key_col="__scd_key",
        bucket_by="user_id",
        n_buckets=8,
    )
    sliced = ev.withColumn(
        "__slice", F.ntile(3).over(Window.orderBy("ts", "event_id"))
    )
    for i in (1, 2, 3):
        scd2_apply(t, sliced.filter(F.col("__slice") == i).drop("__slice"))

    got = sorted(
        (
            r.user_id,
            r.version,
            r.event_type,
            str(r.valid_from),
            str(r.valid_to),
        )
        for r in t.read().collect()
    )
    want = sorted(
        (
            r.user_id,
            r.version,
            r.event_type,
            str(r.valid_from).replace("None", "None"),
            str(r.valid_to),
        )
        for r in QUERIES["q67_scd2"](spark, sf).collect()
    )
    # q67 renders timestamps as strings already; normalize the table's
    # native timestamps to the same format
    got = [
        (u, v, a, f.replace("T", " ")[:19] if f != "None" else "None",
         to.replace("T", " ")[:19] if to != "None" else "None")
        for u, v, a, f, to in got
    ]
    want = [
        (u, v, a, f if f != "None" else "None", t2 if t2 != "None" else "None")
        for u, v, a, f, t2 in want
    ]
    assert got == want
    # exactly one open interval per entity
    open_counts: dict[int, int] = {}
    for u, v, a, f, to in got:
        if to == "None":
            open_counts[u] = open_counts.get(u, 0) + 1
    assert set(open_counts.values()) == {1}


def test_scd2_apply_survives_compaction_between_batches(spark, tmp_path):
    """Maintenance interplay: compacting the history table between
    incremental batches (the small-file cleanup a streaming SCD2 table
    needs) must not change its contents or break subsequent folds."""
    import datetime as dt

    from data_lake_project_spark.lakehouse import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    t = KeyedTable(
        spark,
        str(tmp_path / "scd2c"),
        key_col="__scd_key",
        bucket_by="user_id",
        n_buckets=4,
    )
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    scd2_apply(t, batch([
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "click", 1.0, "{}"),
        (3, t0, 2, "view", 1.0, "{}"),
    ]))
    before = sorted(
        (r.user_id, r.version, r.event_type, str(r.valid_from), str(r.valid_to))
        for r in t.read().collect()
    )
    t.compact()
    after_compact = sorted(
        (r.user_id, r.version, r.event_type, str(r.valid_from), str(r.valid_to))
        for r in t.read().collect()
    )
    assert after_compact == before
    # a post-compaction batch still folds against the right open rows
    scd2_apply(t, batch([
        (4, t0 + dt.timedelta(minutes=5), 1, "purchase", 1.0, "{}"),
    ]))
    got = {
        (r.user_id, r.version): (r.event_type, r.valid_to is None)
        for r in t.read().collect()
    }
    assert got[(1, 3)] == ("purchase", True)   # new open interval
    assert got[(1, 2)][0] == "click" and got[(1, 2)][1] is False
    assert got[(2, 1)] == ("view", True)


def test_scd2_apply_read_for_prunes_buckets(spark, tmp_path):
    """The per-batch open-interval lookup must read ONLY the touched
    entities' buckets: updating one entity leaves every other bucket's
    files untouched (mtime check, same O(delta) contract as upsert)."""
    import datetime as dt

    from data_lake_project_spark.lakehouse import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    t = KeyedTable(
        spark,
        str(tmp_path / "scd2p"),
        key_col="__scd_key",
        bucket_by="user_id",
        n_buckets=8,
    )
    rows = [
        (i, t0 + dt.timedelta(minutes=m), u, typ, 1.0, "{}")
        for i, (u, typ, m) in enumerate(
            [(u, typ, u * 10 + j) for u in range(1, 9)
             for j, typ in enumerate(["view", "click"])]
        )
    ]
    batch = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    scd2_apply(t, batch)
    # snapshot bucket mtimes, then touch ONE entity
    import glob
    import os

    def mtimes():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(str(tmp_path / "scd2p" / "buckets" / "*" / "*"))
        }

    before = mtimes()
    one = spark.createDataFrame(
        [(999, t0 + dt.timedelta(hours=2), 1, "purchase", 1.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    scd2_apply(t, one)
    after = mtimes()
    changed_dirs = {
        os.path.dirname(p)
        for p in set(before) & set(after)
        if before[p] != after[p]
    } | {os.path.dirname(p) for p in set(after) - set(before)}
    assert len(changed_dirs) == 1, changed_dirs  # only entity 1's bucket


def test_keyed_table_format_flip_is_config(spark, tmp_path):
    """The Delta flip is configuration, not an API change: 'auto'
    resolves to parquet here (no jars — delta_available() False), and
    the delta branch is reachable purely by constructor argument."""
    import pytest

    from data_lake_project_spark.sources import delta_available

    assert delta_available() is False  # this env has no Delta jars
    t = KeyedTable(spark, str(tmp_path / "ktf"), key_col="k")
    assert t.table_format == "parquet"
    td = KeyedTable(
        spark, str(tmp_path / "ktd"), key_col="k", table_format="delta"
    )
    assert td.table_format == "delta"
    with pytest.raises(ValueError):
        KeyedTable(spark, str(tmp_path / "ktx"), table_format="orc")


def test_fs_helpers_roundtrip_via_uri(spark, tmp_path):
    """The marker/manifest/compaction side-ops must work through the
    Hadoop FileSystem API on an explicit file:// URI — proving no
    driver-local os.* call remains on these paths."""
    from data_lake_project_spark import fs

    base = f"file://{tmp_path}/fsx"
    assert not fs.exists(spark, f"{base}/m")
    fs.write_text(spark, f"{base}/m", "hello")
    assert fs.exists(spark, f"{base}/m")
    assert fs.read_text(spark, f"{base}/m") == "hello"
    assert fs.rename(spark, f"{base}/m", f"{base}/m2")
    assert fs.read_text(spark, f"{base}/m2") == "hello"
    spark.range(10).write.parquet(f"{base}/t")
    files = fs.list_files(spark, f"{base}/t", ".parquet")
    assert files and all(n.endswith(".parquet") for n, _ in files)
    assert fs.total_size(spark, f"{base}/t") == sum(s for _, s in files)
    assert fs.delete(spark, base)
    assert not fs.exists(spark, f"{base}/m2")


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from data_lake_project_spark import plans as P
    from data_lake_project_spark.lakehouse import BucketedCatalog

    cat = BucketedCatalog(spark, database="t_bucket")
    try:
        orders = spark.range(0, 1000).selectExpr(
            "id as o_orderkey", "id % 7 as o_custkey"
        )
        items = spark.range(0, 3000).selectExpr(
            "id % 1000 as l_orderkey", "id as l_item", "id * 1.5 as l_price"
        )
        cat.write_bucketed(orders, "orders_b", ["o_orderkey"], n_buckets=8,
                           sort_cols=["o_orderkey"])
        cat.write_bucketed(items, "items_b", ["l_orderkey"], n_buckets=8,
                           sort_cols=["l_orderkey"])

        j = cat.read("orders_b").join(
            cat.read("items_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        # co-located buckets: the join itself needs NO hash exchange
        assert P.exchange_count(j) == 0, P.explain_str(j)
        assert j.count() == 3000
        # identical result to the unbucketed join
        plain = orders.join(items, F.col("o_orderkey") == F.col("l_orderkey"))
        assert plain.count() == 3000
    finally:
        cat.drop("orders_b")
        cat.drop("items_b")
        spark.sql("DROP DATABASE IF EXISTS t_bucket")


def test_compact_reduces_file_count(spark, tmp_path):
    from data_lake_project_spark.lakehouse import compact

    path = str(tmp_path / "frag")
    # simulate a streaming sink's small-file accretion
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before >= 5
    compact(spark, path, target_files=1)
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert after == 1
    assert spark.read.parquet(path).count() == 50


def test_lakehouse_and_compact_on_file_uri(spark, tmp_path):
    """VERDICT round 1 'done' bar: the ensure/read/upsert and compact
    paths must work with a scheme-qualified URI root, proving the
    manifest/marker/swap steps run through the Hadoop FS, not os.*."""
    from data_lake_project_spark.lakehouse import Lakehouse, compact

    lh = Lakehouse(spark, f"file://{tmp_path}/lake")
    lh.ensure_table("bronze", "ev", "id string, d string, v int", ["d"])
    assert lh.exists("bronze", "ev")
    day = spark.createDataFrame(
        [("a", "2024-05-01", 1)], "id string, d string, v int"
    )
    lh.upsert_partitions("bronze", "ev", day)
    lh.upsert_partitions("bronze", "ev", day)  # replay: no dupes
    assert lh.read("bronze", "ev").count() == 1

    frag = f"file://{tmp_path}/frag"
    for i in range(4):
        spark.range(i * 5, (i + 1) * 5).write.mode("append").parquet(frag)
    compact(spark, frag, target_files=1)
    assert spark.read.parquet(frag).count() == 20


def test_sketches_tolerances(spark):
    from data_lake_project_spark.operators.sketches import (
        approx_distinct,
        approx_quantiles,
        column_profile,
        frequent_items,
    )

    df = spark.range(0, 10000).selectExpr(
        "id % 100 AS k", "CAST(id AS DOUBLE) AS v",
        "CASE WHEN id % 3 = 0 THEN 'hot' ELSE concat('c', id) END AS cat",
    )
    q = approx_quantiles(df, "v", [0.5]).first().quantiles[0]
    assert abs(q - 4999.5) < 100
    ndv = approx_distinct(df, "k").first().approx_ndv
    assert abs(ndv - 100) <= 10
    hot = {r.cat for r in frequent_items(df, "cat", support=0.2).collect()}
    assert "hot" in hot
    prof = {r.column: r for r in column_profile(df, ["k", "v"]).collect()}
    assert prof["k"].n_rows == 10000 and prof["k"].n_nulls == 0
    assert float(prof["v"].max_str) == 9999.0


def test_scd2_apply_rejects_out_of_order_batch(spark, tmp_path):
    """Contract enforcement (round-3 advice): a batch event whose ts
    precedes the entity's OPEN interval's valid_from must fail the
    batch loudly — the fold only carries the open row, so accepting it
    would silently corrupt the history. In-order and boundary-equal
    (ts == open valid_from) events keep working."""
    import datetime as dt

    import pytest as _pytest

    from data_lake_project_spark.lakehouse import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    t = KeyedTable(
        spark,
        str(tmp_path / "scd2o"),
        key_col="__scd_key",
        bucket_by="user_id",
        n_buckets=4,
    )
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    scd2_apply(t, batch([
        (1, t0 + dt.timedelta(minutes=10), 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=11), 2, "view", 1.0, "{}"),
    ]))
    before = sorted(
        (r.user_id, r.version, r.event_type, str(r.valid_from),
         str(r.valid_to))
        for r in t.read().collect()
    )
    # late event for entity 1: ts BEFORE its open valid_from → batch fails
    with _pytest.raises(Exception, match="out-of-order"):
        scd2_apply(t, batch([
            (3, t0 + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        ]))
    # the table is untouched by the failed batch
    after = sorted(
        (r.user_id, r.version, r.event_type, str(r.valid_from),
         str(r.valid_to))
        for r in t.read().collect()
    )
    assert after == before
    # boundary case: ts EQUAL to the open valid_from is in-order
    scd2_apply(t, batch([
        (4, t0 + dt.timedelta(minutes=10), 1, "click", 1.0, "{}"),
    ]))
    got = {
        (r.user_id, r.version): (r.event_type, r.valid_to is None)
        for r in t.read().collect()
    }
    assert got[(1, 2)] == ("click", True)
    # untouched entity unaffected throughout
    assert got[(2, 1)] == ("view", True)


def test_snapshot_diff_classification(spark):
    """added/removed/changed/unchanged verdicts, null-safe compare
    (NULL==NULL is unchanged, NULL vs value is changed), guards."""
    import pytest as _pytest

    from data_lake_project_spark.lakehouse import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 31.0), (5, "e", 50.0),
         (4, "d", None)],
        "k long, s string, v double",
    )
    out = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {
        1: "unchanged", 2: "unchanged", 3: "changed", 4: "changed",
        5: "added",
    }
    # removed leg
    out2 = {r.k: r.change_type for r in snapshot_diff(new, old, ["k"]).collect()}
    assert out2[5] == "removed"
    with _pytest.raises(ValueError, match="key column"):
        snapshot_diff(old, new.withColumnRenamed("k", "kk"), ["k"])
    with _pytest.raises(ValueError, match="compare column"):
        snapshot_diff(old, new, ["k"], compare_cols=["nope"])


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC source/sink: schema-lossless round trip for scalar, array
    and struct columns, and filters/projection reach the OrcScan
    (pushdown parity with the parquet lane)."""
    from data_lake_project_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [
            (1, "a", 1.5, [1, 2], {"x": 10}),
            (2, "b", 2.5, [3], {"x": 20}),
            (3, "c", 3.5, [], {"x": 30}),
        ],
        "id long, s string, v double, arr array<int>, st struct<x:int>",
    )
    out = str(tmp_path / "orc_t")
    write_orc(df, out)
    back = read_orc(spark, out)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    plan = (
        back.filter("id > 1").select("s")._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan
    assert "ReadSchema" in plan and "v:double" not in plan


def test_fs_list_statuses_limit_stops_early(spark, tmp_path):
    """limit= bounds the listing (the erasure schema probe must never
    drain a full-table listing to find one leaf file)."""
    from data_lake_project_spark import fs

    d = str(tmp_path / "many")
    spark.range(100).repartition(10).write.parquet(d)
    all_files = fs.list_files(spark, d, ".parquet")
    assert len(all_files) == 10
    one = fs.list_files(spark, d, ".parquet", limit=1)
    assert len(one) == 1 and one[0] in all_files
    three = fs.list_statuses(spark, d, ".parquet", limit=3)
    assert len(three) == 3
