"""Time-travel snapshot store: S7/S8/P11/A11 semantics."""

from __future__ import annotations

from gcp_datalake_utils_spark.sources import snapshots as sn


def test_write_read_as_of(spark, tmp_path):
    base = str(tmp_path / "store")
    df1 = spark.range(5)
    df2 = spark.range(10)
    sn.write_snapshot(df1, base, "t", epoch_ms=1000)
    sn.write_snapshot(df2, base, "t", epoch_ms=2000)
    assert sn.read_as_of(spark, base, "t", 1500).count() == 5
    assert sn.read_as_of(spark, base, "t", 2000).count() == 10
    assert sn.read_as_of(spark, base, "t", 99999).count() == 10


def test_read_before_first_version_fails(spark, tmp_path):
    base = str(tmp_path / "store")
    sn.write_snapshot(spark.range(3), base, "t", epoch_ms=5000)
    try:
        sn.read_as_of(spark, base, "t", 100)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_restore_guard_and_force(spark, tmp_path):
    base = str(tmp_path / "store")
    target = str(tmp_path / "restored")
    sn.write_snapshot(spark.range(7), base, "t", epoch_ms=1000)
    r1 = sn.restore_table(spark, base, "t", 1500, target)
    assert r1["status"] == "restored"
    assert spark.read.parquet(f"{target}/t").count() == 7
    # second restore without force is guarded (P11)
    r2 = sn.restore_table(spark, base, "t", 1500, target)
    assert r2["status"] == "skipped"
    r3 = sn.restore_table(spark, base, "t", 1500, target, force=True)
    assert r3["status"] == "restored"


def test_restore_dataset_summary(spark, tmp_path):
    base = str(tmp_path / "store")
    target = str(tmp_path / "restored")
    sn.write_snapshot(spark.range(2), base, "a", epoch_ms=1000)
    out = sn.restore_dataset(spark, base, ["a", "missing"], 1500, target)
    statuses = {r["table_id"]: r["status"] for r in out.collect()}
    assert statuses == {"a": "restored", "missing": "failed"}


def test_read_version_ordinals(spark, tmp_path):
    from gcp_datalake_utils_spark.sources import snapshots as sn
    base = str(tmp_path / "snaps")
    df1 = spark.range(3).toDF("id")
    df2 = spark.range(5).toDF("id")
    sn.write_snapshot(df1, base, "t", epoch_ms=1000)
    sn.write_snapshot(df2, base, "t", epoch_ms=2000)
    assert sn.read_version(spark, base, "t", 0).count() == 3
    assert sn.read_version(spark, base, "t", -1).count() == 5


def test_read_as_of_iso_string(spark, tmp_path):
    from gcp_datalake_utils_spark.sources import snapshots as sn
    base = str(tmp_path / "snaps")
    df = spark.range(4).toDF("id")
    # 2024-01-01T00:00:00Z = 1704067200000 ms
    sn.write_snapshot(df, base, "t", epoch_ms=1704067200000)
    assert sn.read_as_of(
        spark, base, "t", "2024-06-01T00:00:00+00:00").count() == 4


def test_snapshot_diff_statuses(spark, tmp_path):
    from pyspark.sql import Row
    from gcp_datalake_utils_spark.sources import snapshots as sn
    base = str(tmp_path / "snaps")
    old = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")])
    new = spark.createDataFrame(
        [Row(k=2, v="b"), Row(k=3, v="CHANGED"), Row(k=4, v="d")])
    sn.write_snapshot(old, base, "t", epoch_ms=1000)
    sn.write_snapshot(new, base, "t", epoch_ms=2000)
    got = {r.k: r.status
           for r in sn.snapshot_diff(spark, base, "t", 1000, 2000,
                                     ["k"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_snapshot_diff_schema_evolution(spark, tmp_path):
    from pyspark.sql import Row
    from gcp_datalake_utils_spark.sources import snapshots as sn
    base = str(tmp_path / "snaps")
    old = spark.createDataFrame([Row(k=1, v="a", dropped="x"),
                                 Row(k=2, v="b", dropped="y")])
    new = spark.createDataFrame([Row(k=1, v="a", added=10),
                                 Row(k=2, v="b", added=None)])
    sn.write_snapshot(old, base, "t", epoch_ms=1000)
    sn.write_snapshot(new, base, "t", epoch_ms=2000)
    got = {r.k: r.status
           for r in sn.snapshot_diff(spark, base, "t", 1000, 2000,
                                     ["k"]).collect()}
    # k=1 differs via both the dropped and the added column; k=2 differs
    # via the dropped column only (added is NULL both effectively)
    assert got[1] == "changed"
    assert got[2] == "changed"


def test_snapshot_read_runs_no_job(spark, tmp_path):
    """A read after a write plans under the schema stored with the
    version: neither reader launches a schema-inference job, and the
    rows and column types come back as written."""
    import uuid
    from pyspark.sql import Row
    base = str(tmp_path / "snaps")
    df = spark.createDataFrame(
        [Row(k=1, v="a", x=1.5), Row(k=2, v=None, x=None)])
    sn.write_snapshot(df, base, "t", epoch_ms=1000)
    sc = spark.sparkContext
    for read in (lambda: sn.read_as_of(spark, base, "t", 1500),
                 lambda: sn.read_version(spark, base, "t", -1)):
        group = f"snap-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            got = read()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
        assert [(f.name, f.dataType) for f in got.schema] == \
            [(f.name, f.dataType) for f in df.schema]
        assert sorted(got.collect()) == sorted(df.collect())
