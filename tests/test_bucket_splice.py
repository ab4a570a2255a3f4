"""Manifest splice rule shared by every IceliteTable writer: delta files
append after a bucket's existing entries; every other write replaces the
buckets it names (a named bucket that wrote no file becomes empty) and
leaves every other bucket's entry dicts untouched."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_processors_spark.plans.table import IceliteTable, bucket_expr

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.LongType()),
])
NB = 4


def _chset(spark, rows, seq):
    df = spark.createDataFrame(rows, "k long, v long, op string")
    return df.select("k", "v", "op", F.lit(seq).alias("commit_seq"),
                     F.col("k").alias("event_seq"))


def _bucket_of(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    return {r["k"]: r["b"] for r in df.select("k", bucket_expr(["k"], NB).alias("b")).collect()}


@pytest.fixture()
def tbl(spark, tmp_path):
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=NB)
    t.merge(_chset(spark, [(k, k * 10, "U") for k in range(40)], 1))
    return t


def test_merge_mor_appends_delta_after_base(spark, tbl):
    b_of = _bucket_of(spark, range(40))
    before = tbl.snapshot()["buckets"]
    keys = [k for k in range(40) if b_of[k] == 0][:3]
    tbl.merge_mor(_chset(spark, [(k, -k, "U") for k in keys], 2))
    after = tbl.snapshot()["buckets"]
    assert after["0"][:len(before["0"])] == before["0"]
    tail = after["0"][len(before["0"]):]
    assert tail and all(fe["kind"] == "delta" for fe in tail)
    for b in ("1", "2", "3"):
        assert after[b] == before[b]


def test_untouched_buckets_keep_entries(spark, tbl):
    b_of = _bucket_of(spark, range(40))
    in_b1 = [k for k in range(40) if b_of[k] == 1]

    def check(op):
        before = tbl.snapshot()["buckets"]
        op()
        after = tbl.snapshot()["buckets"]
        for b in ("0", "2", "3"):
            assert after[b] == before[b], b
        assert after["1"] != before["1"]

    check(lambda: tbl.merge(_chset(spark, [(k, 7, "U") for k in in_b1], 2)))
    check(lambda: tbl.merge_mor(_chset(spark, [(k, 8, "U") for k in in_b1], 3)))
    check(lambda: tbl.compact(buckets=[1]))
    assert all(fe.get("kind", "base") == "base" for fe in tbl.snapshot()["buckets"]["1"])


def test_cow_delete_whole_bucket_keeps_tombstones(spark, tbl):
    b_of = _bucket_of(spark, range(40))
    in_b2 = [k for k in range(40) if b_of[k] == 2]
    before = tbl.snapshot()["buckets"]
    tbl.merge(_chset(spark, [(k, None, "D") for k in in_b2], 2))
    after = tbl.snapshot()["buckets"]
    assert after["2"] and after["2"] != before["2"]
    for b in ("0", "1", "3"):
        assert after[b] == before[b]
    dead = tbl.read(buckets=[2], include_deleted=True).collect()
    assert sorted(r["k"] for r in dead) == sorted(in_b2)
    assert all(r["_deleted"] for r in dead)
    assert tbl.read(buckets=[2]).count() == 0


def test_overwrite_and_rebucket_list_every_bucket(spark, tmp_path):
    t = IceliteTable.create(spark, str(tmp_path / "t"), SCHEMA, key=["k"], n_buckets=8)
    t.merge(_chset(spark, [(1, 1, "U"), (2, 2, "U")], 1))
    t.overwrite(t.read(include_deleted=True))
    assert sorted(t.snapshot()["buckets"], key=int) == [str(b) for b in range(8)]
    assert sum(1 for fs in t.snapshot()["buckets"].values() if fs) <= 2
    t.rebucket(5)
    assert sorted(t.snapshot()["buckets"], key=int) == [str(b) for b in range(5)]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_cluster_records_sort_order(spark, tbl):
    tbl.cluster(["v"])
    snap = tbl.snapshot()
    assert snap["clustered_by"] == ["v"] and snap["zordered"] is False
    assert snap["lineage"]["op"] == "cluster"
    tbl.cluster(["v", "k"], zorder=True)
    snap = tbl.snapshot()
    assert snap["clustered_by"] == ["v", "k"] and snap["zordered"] is True


def test_cow_equal_sequence_change_wins(spark, tbl):
    """A change row tying a stored row on (key, commit_seq, event_seq) but
    carrying different bytes wins: its _delta_seq (the new snapshot id)
    is greater than every stored one."""
    df = spark.createDataFrame([(3, 999, "U")], "k long, v long, op string")
    tbl.merge(df.select("k", "v", "op", F.lit(1).alias("commit_seq"),
                        F.col("k").alias("event_seq")))
    assert {r["k"]: r["v"] for r in tbl.read().collect()}[3] == 999
