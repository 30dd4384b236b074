"""Schema memo of read_table and read_partitioned: metadata-only,
staleness-keyed.

The memo caches ONLY the inferred StructType keyed by a file-set
fingerprint (relative path, mtime_ns, size per entry, at any depth) —
these tests pin that (a) a hit returns the identical schema and rows, (b)
rewriting the file (even same-shape) re-reads real data, (c) a
schema-changing rewrite re-infers instead of serving the stale StructType,
also two levels below a partitioned root, (d) the events nanos-ts rebuild
survives the memoized path, and (e) a path the driver cannot stat is never
memoized.
"""

from __future__ import annotations

import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq

from nbi_oedi_etl_spark.sources.parquet import (
    _TABLE_SCHEMA_MEMO,
    _path_fingerprint,
    read_partitioned,
    read_table,
)


def _write_docs(path: str, ids, texts, extra=None) -> None:
    cols = {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}
    if extra is not None:
        cols["extra"] = pa.array(extra, pa.int64())
    pq.write_table(pa.table(cols), path)


def _bump_mtime(path: str) -> None:
    # mtime_ns granularity can round on some filesystems — force it
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_memo_hit_same_schema_and_rows(spark):
    d = tempfile.mkdtemp()
    _write_docs(f"{d}/documents.parquet", [1, 2], ["a b", "c d"])
    df1 = read_table(spark, d, "documents")
    df2 = read_table(spark, d, "documents")  # memo hit
    assert df1.schema == df2.schema
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))


def test_rewrite_same_shape_reads_new_data(spark):
    """No result caching: every read scans the files — a same-schema
    rewrite must surface the NEW rows whether or not the schema memo
    hits (the memo carries metadata only)."""
    d = tempfile.mkdtemp()
    p = f"{d}/documents.parquet"
    _write_docs(p, [1], ["old"])
    assert [r["text"] for r in read_table(spark, d, "documents").collect()] == ["old"]
    time.sleep(0.01)
    _write_docs(p, [1], ["new"])
    _bump_mtime(p)
    assert [r["text"] for r in read_table(spark, d, "documents").collect()] == ["new"]


def test_schema_change_reinfers(spark):
    d = tempfile.mkdtemp()
    p = f"{d}/documents.parquet"
    _write_docs(p, [1], ["x"])
    s1 = read_table(spark, d, "documents").schema
    assert [f.name for f in s1] == ["doc_id", "text"]
    time.sleep(0.01)
    _write_docs(p, [2], ["y"], extra=[7])
    _bump_mtime(p)
    s2 = read_table(spark, d, "documents").schema
    assert [f.name for f in s2] == ["doc_id", "text", "extra"]


def test_events_ts_rebuild_on_memoized_path(spark):
    """The nanos→TIMESTAMP_NTZ rebuild must apply identically on the
    cold (inferred) and warm (declared-schema) reads."""
    sf = "/root/testdata/sf0.001"
    cold_key_count = len(_TABLE_SCHEMA_MEMO)
    df1 = read_table(spark, sf, "events")
    df2 = read_table(spark, sf, "events")  # warm
    assert dict(df1.dtypes)["ts"] == dict(df2.dtypes)["ts"]
    r1 = sorted(map(tuple, df1.select("ts").limit(5).collect()))
    r2 = sorted(map(tuple, df2.select("ts").limit(5).collect()))
    assert r1 == r2
    assert len(_TABLE_SCHEMA_MEMO) >= cold_key_count


def test_nested_rewrite_reinfers_partitioned_root(spark):
    """The fingerprint is recursive: rewriting a file two levels below a
    hive-partitioned root (``upgrade=0/state=AK/``) with an added column
    must re-infer on the next ``read_partitioned`` — neither the root's
    nor ``upgrade=0``'s own entry changes, so a one-level fingerprint
    would serve the stale schema."""
    root = tempfile.mkdtemp()
    leaf = f"{root}/upgrade=0/state=AK"
    os.makedirs(leaf)
    p = f"{leaf}/part.parquet"
    _write_docs(p, [1], ["x"])
    s1 = read_partitioned(spark, root).schema
    assert [f.name for f in s1] == ["doc_id", "text", "upgrade", "state"]
    assert read_partitioned(spark, root).schema == s1  # memo hit
    time.sleep(0.01)
    _write_docs(p, [2], ["y"], extra=[7])
    _bump_mtime(p)
    df = read_partitioned(spark, root)
    assert [f.name for f in df.schema] == ["doc_id", "text", "extra", "upgrade", "state"]
    assert [tuple(r) for r in df.collect()] == [(2, "y", 7, 0, "AK")]


def test_non_local_uri_never_memoized(spark):
    """Only a path the driver can stat is fingerprinted: a URI (remote
    object store, or even ``file://``) is read with inference every time
    and adds no memo entry."""
    assert _path_fingerprint("s3a://bucket/oedi/timeseries") is None
    d = tempfile.mkdtemp()
    _write_docs(f"{d}/part.parquet", [1], ["a"])
    before = dict(_TABLE_SCHEMA_MEMO)
    for _ in range(2):
        df = read_partitioned(spark, f"file://{d}")
        assert [tuple(r) for r in df.collect()] == [(1, "a")]
    assert _TABLE_SCHEMA_MEMO == before
