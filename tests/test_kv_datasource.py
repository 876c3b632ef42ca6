"""The kvtext Python Data Source: golden parity with the built-in
text-scan reader, per-file partition planning, and malformed-line
tolerance."""

from __future__ import annotations

import os

import pytest

from uw_mapreduce_spark.plans.catalog import _REFERENCE_DIR as REF

SIMPLE103 = f"{REF}/input/simple103.txt"


@pytest.fixture()
def registered(spark):
    from uw_mapreduce_spark.sources.kv_datasource import KVTextDataSource

    try:
        spark.dataSource.register(KVTextDataSource)
    except Exception as e:  # already registered in this session
        if "already" not in str(e).lower():
            raise
    return spark


@pytest.mark.skipif(not os.path.exists(SIMPLE103), reason=f"reference file absent: {SIMPLE103}")
def test_matches_builtin_reader_on_reference_golden(registered):
    from uw_mapreduce_spark.sources.text_kv import read_text_kv

    spark = registered
    p = "/root/reference/input/simple103.txt"
    via_ds = spark.read.format("kvtext").option("path", p).load()
    via_text = read_text_kv(spark, p)
    assert via_ds.schema == via_text.schema
    a = sorted(map(tuple, via_ds.collect()))
    b = sorted(map(tuple, via_text.collect()))
    assert a == b and len(a) == 103


def test_one_partition_per_file_and_dir_walk(registered, tmp_path):
    spark = registered
    d = tmp_path / "kv"
    d.mkdir()
    for i in range(3):
        (d / f"part-{i}.txt").write_text(f"{i}\t{i * 10}\n{i + 100}\t{i}\n")
    (d / "_SUCCESS").write_text("")  # must be skipped
    df = spark.read.format("kvtext").option("path", str(d)).load()
    assert df.rdd.getNumPartitions() == 3
    rows = sorted(map(tuple, df.collect()))
    assert (0, 0) in rows and (102, 2) in rows and len(rows) == 6


def test_malformed_lines_yield_nulls_not_errors(registered, tmp_path):
    spark = registered
    f = tmp_path / "bad.txt"
    f.write_text("1\t2\nnot_a_number\t3\n4\n\n5\t6\n")
    rows = sorted(
        map(tuple, spark.read.format("kvtext").option("path", str(f)).load().collect()),
        key=str,
    )
    assert (1, 2) in rows and (5, 6) in rows
    assert (None, 3) in rows      # bad key -> NULL, line kept
    assert (4, None) in rows      # missing value -> NULL
    assert len(rows) == 4         # blank line dropped


def test_kvtext_writer_roundtrip(spark, tmp_path):
    """Write via the connector's two-phase committer, read back via
    both the connector and the production text path — byte layout is
    the reference's key\\tvalue format with part-r-NNNNN naming."""
    import os

    from uw_mapreduce_spark.sources.kv_datasource import KVTextDataSource

    spark.dataSource.register(KVTextDataSource)
    rows = [(i, i * 7 % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "key bigint, value bigint").repartition(3)
    out = str(tmp_path / "kvout")
    df.write.format("kvtext").mode("overwrite").option("path", out).save()

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    parts = [n for n in names if n.startswith("part-r-")]
    assert parts == [f"part-r-{i:05d}" for i in range(len(parts))]

    back = spark.read.format("kvtext").option("path", out).load()
    assert sorted(map(tuple, back.collect())) == sorted(rows)

    from uw_mapreduce_spark.sources.text_kv import read_text_kv

    via_text = read_text_kv(spark, out)
    assert sorted(map(tuple, via_text.collect())) == sorted(rows)


def test_kvtext_writer_overwrite_clears_stale_parts(spark, tmp_path):
    from uw_mapreduce_spark.sources.kv_datasource import KVTextDataSource

    spark.dataSource.register(KVTextDataSource)
    out = str(tmp_path / "kvout2")
    wide = spark.createDataFrame([(i, i) for i in range(40)], "key bigint, value bigint")
    wide.repartition(8).write.format("kvtext").mode("overwrite").option("path", out).save()
    narrow = spark.createDataFrame([(1, 2)], "key bigint, value bigint")
    narrow.repartition(1).write.format("kvtext").mode("overwrite").option("path", out).save()
    back = spark.read.format("kvtext").option("path", out).load()
    assert [tuple(r) for r in back.collect()] == [(1, 2)]


def test_kvtext_writer_append_and_empty(spark, tmp_path):
    """Append continues part numbering instead of clobbering; an empty
    write still commits a directory with _SUCCESS."""
    import os

    from uw_mapreduce_spark.sources.kv_datasource import KVTextDataSource

    spark.dataSource.register(KVTextDataSource)
    out = str(tmp_path / "kvapp")
    a = spark.createDataFrame([(1, 10), (2, 20)], "key bigint, value bigint")
    a.repartition(2).write.format("kvtext").mode("overwrite").option("path", out).save()
    b = spark.createDataFrame([(3, 30)], "key bigint, value bigint")
    b.repartition(1).write.format("kvtext").mode("append").option("path", out).save()
    back = spark.read.format("kvtext").option("path", out).load()
    assert sorted(map(tuple, back.collect())) == [(1, 10), (2, 20), (3, 30)]

    empty_out = str(tmp_path / "kvempty")
    spark.createDataFrame([], "key bigint, value bigint").write.format(
        "kvtext"
    ).mode("overwrite").option("path", empty_out).save()
    assert os.path.exists(os.path.join(empty_out, "_SUCCESS"))


def test_text_kv_input_splits_fill_the_cores(spark, tmp_path):
    """A 4.4 MB key/value text file reads as at least one split per core
    of the local[4] session (the 4 MB default open cost gave 2)."""
    import random

    from uw_mapreduce_spark.sources.text_kv import read_text_kv

    rng = random.Random(7)
    path = tmp_path / "kv.txt"
    path.write_text("".join(
        f"{rng.randint(-2**31, 2**31 - 1)}\t{rng.randint(-2**31, 2**31 - 1)}\n"
        for _ in range(205_000)
    ))
    assert path.stat().st_size >= 4_400_000
    assert read_text_kv(spark, str(path)).rdd.getNumPartitions() >= 4
