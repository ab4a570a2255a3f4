"""Snapshot expiry: old metadata + orphaned data files removed, shared
files and retained snapshots untouched, current state unchanged."""

import os

import pyspark.sql.functions as F

from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.table import IceliteTable
from nifi_processors_spark.sources.genlog import GenLogConfig, write_change_log


def test_expire_snapshots(spark, tmp_path):
    write_change_log(spark, GenLogConfig(n_events=2000, n_epochs=4), str(tmp_path / "cl"))
    ap = ChangeApplier(spark, str(tmp_path / "t"), str(tmp_path / "cl"),
                       str(tmp_path / "s"), n_buckets=4)
    ap.run()
    t = IceliteTable(spark, str(tmp_path / "t"))
    before = sorted(
        (r["repo"], r["path"], r["sha"])
        for r in t.read().select("repo", "path", F.sha2("content", 256).alias("sha")).collect()
    )
    sid = t.current_snapshot_id()
    assert sid == 4

    expired = t.expire_snapshots(keep_last=2)
    assert expired == [0, 1, 2]
    # current + previous still readable, byte-identical state
    after = sorted(
        (r["repo"], r["path"], r["sha"])
        for r in t.read().select("repo", "path", F.sha2("content", 256).alias("sha")).collect()
    )
    assert after == before
    assert t.read(snapshot_id=sid - 1).count() > 0
    # expired metadata gone
    assert not os.path.exists(os.path.join(t.meta_dir, "v1.json"))
    # every file referenced by retained snapshots still exists
    for s in (sid - 1, sid):
        for files in t.snapshot(s)["buckets"].values():
            for fe in files:
                assert os.path.exists(fe["path"]), fe["path"]


def test_expire_snapshots_reclaims_data_dirs(spark, tmp_path):
    """After expiry, data/ holds exactly the snapshot dirs that retained
    manifests reference: expired dirs keep no Hadoop sidecars (.crc,
    _SUCCESS) behind, and an empty merge-on-read append's uncommitted
    dir is reclaimed too."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.LongType())])
    t = IceliteTable.create(spark, str(tmp_path / "t"), schema, key=["k"], n_buckets=4)

    def chset(rows, seq):
        df = spark.createDataFrame(rows, "k long, v long, op string")
        return df.select("k", "v", "op", F.lit(seq).alias("commit_seq"),
                         F.col("k").alias("event_seq"))

    t.merge(chset([(k, k, "U") for k in range(20)], 1))
    for seq in range(2, 6):
        t.merge_mor(chset([(k, k * seq, "U") for k in range(seq, 20, 3)], seq))
        if seq % 2:
            t.compact(min_deltas=1)
    sid = t.current_snapshot_id()
    assert t.merge_mor(chset([], 9))[0] == sid  # empty change-set: no commit
    before = sorted((r["k"], r["v"]) for r in t.read().collect())

    t.expire_snapshots(keep_last=1)
    referenced = {
        os.path.basename(os.path.dirname(os.path.dirname(fe["path"])))
        for files in t.snapshot()["buckets"].values()
        for fe in files
    }
    assert sorted(os.listdir(t.data_dir)) == sorted(referenced)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == before
