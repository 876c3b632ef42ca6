"""Sinks (partitioned + bucketed) and the CLI entry point."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from uw_mapreduce_spark.plans.catalog import _REFERENCE_DIR as REF
from uw_mapreduce_spark.sources.sinks import write_bucketed, write_table
from uw_mapreduce_spark.sources.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_MISSING = [
    p for p in (f"{REF}/input/simple103.txt", f"{REF}/expected16/part-r-*") if not glob.glob(p)
]


def test_partitioned_write_prunes(spark, sf_small):
    orders = load_table(spark, sf_small, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = tempfile.mkdtemp(prefix="uwms_part_")
    write_table(orders, out, partition_by=["o_year"])
    assert glob.glob(f"{out}/o_year=*"), "expected hive-style partition dirs"

    back = spark.read.parquet(out).where(F.col("o_year") == 1997)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan's partition filter carries o_year
    assert back.count() == orders.where(F.col("o_year") == 1997).count()
    assert "PartitionFilters" in plan or "o_year" in plan


def test_bucketed_join_skips_exchange(spark, sf_small):
    li = load_table(spark, sf_small, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_small, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bkt", ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"])
    write_bucketed(orders, "ord_bkt", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
    a = spark.table("li_bkt")
    b = spark.table("ord_bkt")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # bucketing pre-shuffled both sides
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


@pytest.mark.skipif(bool(REF_MISSING), reason=f"reference files absent: {', '.join(REF_MISSING)}")
def test_cli_end_to_end_matches_golden(reference_dir):
    out = tempfile.mkdtemp(prefix="uwms_cli_") + "/out"
    r = subprocess.run(
        [
            sys.executable, "-m", "uw_mapreduce_spark",
            f"{reference_dir}/input/simple103.txt", out,
            "--window", "16", "--partitions", "4", "--master", "local[2]",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = set()
    for path in glob.glob(f"{out}/part-*"):
        with open(path) as f:
            got |= {tuple(map(int, line.split("\t"))) for line in f if line.strip()}
    golden = set()
    for path in glob.glob(f"{reference_dir}/expected16/part-r-*"):
        with open(path) as f:
            golden |= {tuple(map(int, line.split("\t"))) for line in f if line.strip()}
    assert got == golden


def test_cli_scalable_matches_model(tmp_path):
    """Mount-free CLI run of the scalable path: the simple103 analogue
    keys as ``key\tvalue`` text, window 79 over 4 ranges, parsed output
    equal to the Python model of the reference query."""
    from tests.test_golden_reference import _window_model

    keys = [(i * 37) % 102 for i in range(102)] + [50]
    rows = [(k, k) for k in keys]
    src = tmp_path / "simple103.txt"
    src.write_text("".join(f"{k}\t{v}\n" for k, v in rows))
    out = str(tmp_path / "out")
    r = subprocess.run(
        [
            sys.executable, "-m", "uw_mapreduce_spark", str(src), out, "--scalable",
            "--window", "79", "--partitions", "4", "--master", "local[2]",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = set()
    for path in glob.glob(f"{out}/part-*"):
        with open(path) as f:
            got |= {tuple(map(int, line.split("\t"))) for line in f if line.strip()}
    assert got == _window_model(rows, 79, "sum")


@pytest.mark.parametrize("flag", [("--partitions", "0"), ("--partitions", "-2"), ("--window", "0")])
def test_cli_rejects_counts_below_one(tmp_path, monkeypatch, capsys, flag):
    """``--partitions`` or ``--window`` below 1 is a usage error: exit 2
    from argparse, before any Spark session starts."""
    from uw_mapreduce_spark import __main__ as cli
    from uw_mapreduce_spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.main([str(tmp_path / "in.txt"), str(tmp_path / "out"), "--scalable", *flag])
    assert exc.value.code == 2
    assert f"{flag[0]} must be >= 1" in capsys.readouterr().err


def test_cli_modules_import_without_pandas():
    """The CLI's modules load without the rest of the operator surface:
    importing them in a fresh interpreter (no JVM) pulls in neither
    pandas nor the similarity operators."""
    code = (
        "import sys\n"
        "import uw_mapreduce_spark.session, uw_mapreduce_spark.sources.text_kv\n"
        "import uw_mapreduce_spark.operators.window, uw_mapreduce_spark.operators.scale\n"
        "print(sorted({'pandas', 'uw_mapreduce_spark.operators.similarity'} & set(sys.modules)))\n"
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       cwd=REPO, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == "[]", r.stdout


def test_csv_json_roundtrip(spark, sf_small):
    import tempfile

    nation = load_table(spark, sf_small, "nation")
    base = tempfile.mkdtemp(prefix="uwms_fmt_")
    write_table(nation, f"{base}/n_csv", fmt="csv", header=True)
    write_table(nation, f"{base}/n_json", fmt="json")
    back_csv = (
        spark.read.option("header", True).schema(nation.schema).csv(f"{base}/n_csv")
    )
    back_json = spark.read.schema(nation.schema).json(f"{base}/n_json")
    expected = {tuple(r) for r in nation.collect()}
    assert {tuple(r) for r in back_csv.collect()} == expected
    assert {tuple(r) for r in back_json.collect()} == expected


def test_orc_roundtrip(spark, sf_small):
    import shutil
    import tempfile

    nation = load_table(spark, sf_small, "nation")
    base = tempfile.mkdtemp(prefix="uwms_orc_")
    try:
        write_table(nation, f"{base}/n_orc", fmt="orc")
        back = spark.read.orc(f"{base}/n_orc")
        assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_foreachbatch_parquet_sink(spark, sf_small):
    """Drain a stream through foreachBatch into partitioned parquet and
    verify the landed table equals the batch input — the production
    shape for streaming ingestion into a lakehouse layout."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uw_mapreduce_spark.streaming.sliding import stream_events

    base = tempfile.mkdtemp(prefix="uwms_febatch_")
    out = f"{base}/events_by_type"
    try:
        stream = stream_events(spark, sf_small)

        def land(batch_df, batch_id):
            write_table(
                batch_df.withColumn("_batch", F.lit(batch_id)),
                out,
                partition_by=["event_type"],
                mode="append",
            )

        q = stream.writeStream.foreachBatch(land).trigger(availableNow=True).start()
        q.awaitTermination(120)
        landed = spark.read.parquet(out)
        batch = load_table(spark, sf_small, "events")
        assert landed.count() == batch.count()
        assert {r.event_id for r in landed.select("event_id").collect()} == {
            r.event_id for r in batch.select("event_id").collect()
        }
        # hive-style partition dirs exist per event_type
        import glob as _g
        assert _g.glob(f"{out}/event_type=*")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_small_files_reduces_files_and_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "frag")
    df = spark.range(10000).select("id", (F.col("id") % 7).alias("g"))
    df.repartition(64).write.parquet(path)  # 64 tiny files
    stats = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] >= 64
    assert stats["files_after"] == 1  # everything fits one target file
    back = spark.read.parquet(path)
    assert back.count() == 10000
    assert back.agg(F.sum("id")).collect()[0][0] == 10000 * 9999 // 2


def test_read_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from uw_mapreduce_spark.sources.ingest import read_csv_quarantine

    p = tmp_path / "in.csv"
    p.write_text(
        "1,alice,100\n"
        "2,bob,not_a_number\n"   # unparseable long
        "3,carol,300\n"
        "4,dave\n"               # wrong arity
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("amount", LongType()),
        ]
    )
    good, bad = read_csv_quarantine(spark, str(p), schema)
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    raws = sorted(r["raw_line"] for r in bad.collect())
    assert raws == ["2,bob,not_a_number", "4,dave"]
    assert good.columns == ["id", "name", "amount"]


def test_orc_round_trip(spark, tmp_path):
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.sources.sinks import write_table

    path = str(tmp_path / "orc_tbl")
    df = spark.range(1000).select("id", (F.col("id") % 5).alias("g"))
    write_table(df, path, fmt="orc", partition_by=["g"])
    back = spark.read.orc(path)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).collect()[0][0] == 1000 * 999 // 2
    # Directory partitioning materialized (partition pruning surface).
    import os

    assert any(d.startswith("g=") for d in os.listdir(path))
