"""storage.py: path resolution, the backend contract both filesystems
honour, and the guard that keeps the filesystem decision in one
module."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from fb_ads_bigquery_etl_spark import storage
from fb_ads_bigquery_etl_spark.operators import pq


def _live_conf(spark):
    return spark.sparkContext._jsc.hadoopConfiguration()


def test_resolution_follows_default_fs(spark):
    """A bare path follows fs.defaultFS; an explicit scheme wins.
    Resolving never opens a FileSystem, so an unreachable namenode is
    fine here."""
    jvm = spark.sparkContext._jvm
    remote = jvm.org.apache.hadoop.conf.Configuration(_live_conf(spark))
    remote.set("fs.defaultFS", "hdfs://nn.invalid:8020")
    assert isinstance(storage.resolve(remote, "/idx/v_centroids"), storage.HadoopFs)
    assert isinstance(storage.resolve(remote, "idx/v_manifest"), storage.HadoopFs)
    assert storage.resolve(remote, "file:/tmp/idx") is storage.LOCAL
    assert storage.resolve(remote, "file:///tmp/idx") is storage.LOCAL

    live = _live_conf(spark)
    assert live.get("fs.defaultFS", "file:///").startswith("file:")
    assert storage.resolve(live, "/tmp/idx") is storage.LOCAL
    assert storage.resolve(live, "relative/idx") is storage.LOCAL
    assert isinstance(storage.resolve(live, "hdfs://nn.invalid:8020/x"), storage.HadoopFs)


@pytest.mark.parametrize("backend", ["os", "hadoop"])
def test_backend_contract(spark, tmp_path, backend):
    """Both backends, on a local dir (the Hadoop one through Hadoop's
    local FileSystem), read and write the same bytes and list the same
    entries."""
    hadoop = storage.HadoopFs(_live_conf(spark))
    fs = storage.LOCAL if backend == "os" else hadoop
    ddl = "centroid_id bigint, cvec array<double>, cnorm double"
    cols = ["centroid_id", "cvec", "cnorm"]

    # write_rows / read_rows round trip; Spark reads the same file
    side = str(tmp_path / "v_centroids")
    rows = [(1, [1.5, -2.25], 0.5), (2, [], 3.0)]
    fs.write_rows(f"{side}/{storage.new_file_name('part')}", rows, ddl)
    assert [tuple(r[c] for c in cols) for r in fs.read_rows(side, ddl)] == rows
    assert sorted(tuple(r) for r in spark.read.parquet(side).collect()) == rows

    # empty rows still write a readable file with the schema
    empty = str(tmp_path / "empty")
    fs.write_rows(f"{empty}/seg-0.parquet", [], ddl)
    assert fs.read_rows(empty, ddl) == []
    assert spark.read.parquet(empty).columns == cols

    # a missing dir reads as None and lists as []
    assert fs.read_rows(str(tmp_path / "absent"), ddl) is None
    assert fs.list(str(tmp_path / "absent")) == []

    # a legacy Spark-written manifest (no seq/op) reads them as None
    legacy = str(tmp_path / "legacy_manifest")
    row8 = ("file:/x/bucket=0/f.parquet", "bucket=0/f.parquet", 10, 5, 0, 3, 1, 9)
    spark.createDataFrame([row8], pq._MANIFEST_SCHEMA).write.parquet(legacy)
    got = fs.read_rows(legacy, pq._MANIFEST_SEG_SCHEMA)
    assert [tuple(r.values()) for r in got] == [row8 + (None, None)]

    # listings agree across backends: names, sizes, ms mtimes, is_dir
    for d in (side, legacy, str(tmp_path)):
        assert sorted(storage.LOCAL.list(d)) == sorted(hadoop.list(d))
    assert [e.name.startswith("part-") for e in fs.list(side)] == [True]
    assert [p.rsplit("/", 1)[1] for p in fs.glob(f"{legacy}/*.parquet")] == [
        e.name for e in sorted(fs.list(legacy))
    ]

    # rename: refuses an existing target, creates a missing parent
    a, b = str(tmp_path / "a.bin"), str(tmp_path / "b.bin")
    fs.write_bytes(a, b"first")
    fs.write_bytes(b, b"second")
    with pytest.raises(IOError):
        fs.rename(a, b)
    assert fs.read_bytes(b) == b"second"
    moved = str(tmp_path / "sub" / "dir" / "a.bin")
    fs.rename(a, moved)
    assert not fs.exists(a) and fs.read_bytes(moved) == b"first"
    assert fs.read_bytes(a) is None

    # delete is recursive and a no-op on a missing path
    fs.delete(side)
    fs.delete(side)
    assert not fs.exists(side)


def test_filesystem_decision_lives_in_storage_only():
    """Only storage.py may pick a filesystem or encode a sidecar."""
    pkg = Path(storage.__file__).parent
    pat = re.compile(
        r"getFileSystem|hadoopConfiguration\(\)|_local_fs_dir"
        r"|import pyarrow\.parquet"
    )
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p != Path(storage.__file__)
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert offenders == []
