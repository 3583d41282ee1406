"""The packed-shard DataSource (round 7): manifest-driven planning, full
round-trip losslessness (covered vs the DuckDB oracle in the registry
parity suite), and the per-shard integrity check failing LOUDLY on
corruption."""

import glob
import os

from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_con
from usls_doc_spark.io.export import export_from_sf
from usls_doc_spark.io.shard_source import (
    ShardReader,
    export_roundtrip,
    export_roundtrip_oracle,
    read_shards,
)


def test_roundtrip_equals_split_and_pack_oracle(spark):
    got = export_roundtrip(spark, SF_DIR)
    con = duck_con(SF_DIR)
    ok, msg = compare(got, con.sql(export_roundtrip_oracle()))
    assert ok, msg


def test_roundtrip_leaves_filter_pushdown_conf_alone(spark):
    """The source reads on a session with Python filter pushdown off, and
    reading does not switch it on."""
    key = "spark.sql.python.filterPushdown.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = export_roundtrip(spark, SF_DIR)
        con = duck_con(SF_DIR)
        ok, msg = compare(got, con.sql(export_roundtrip_oracle()))
        assert ok, msg
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, old)


def test_manifest_drives_planning_one_partition_per_shard(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("shard_src") / "exp")
    summary = export_from_sf(spark, SF_DIR, out)
    reader = ShardReader({"path": out})
    parts = reader.partitions()
    assert len(parts) == summary["shards"]
    # planning never listed the filesystem: keys come from the manifest
    assert {f"split={p.split}/shard={p.shard}" for p in parts} == {
        os.path.relpath(d, out)
        for d in glob.glob(f"{out}/split=*/shard=*")
    }
    df = read_shards(spark, out)
    assert df.count() == summary["docs"]
    # a split filter is applied after the scan and counts exactly the val
    # shards' manifest lines
    n_val = sum(p.lines for p in parts if p.split == "val")
    assert 0 < n_val < summary["docs"]
    assert df.filter("split = 'val'").count() == n_val


def test_corrupted_shard_fails_integrity_check(spark, tmp_path_factory):
    import pytest

    out = str(tmp_path_factory.mktemp("shard_bad") / "exp")
    export_from_sf(spark, SF_DIR, out)
    victim = sorted(glob.glob(f"{out}/split=train/shard=*/part-*"))[0]
    data = bytearray(open(victim, "rb").read())
    # flip one byte inside a text field (keeps JSON valid lines countable)
    idx = data.index(b'"text"') + 10
    data[idx] = data[idx] ^ 0x01
    open(victim, "wb").write(data)
    with pytest.raises(Exception, match="integrity check failed"):
        read_shards(spark, out).count()
