"""Metadata-only catalog commits: row counts from the written Parquet
footers, the written schema recorded in the manifest (so a read launches
no Spark job), and the per-table commit lock, stage lease and durable
manifest rename."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

import kbspark.catalog as catalog_mod
from kbspark.catalog import Catalog, escape_part_value

def _zoo(spark, n=40):
    return spark.range(n).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.col("id").alias("n"),
        (F.col("id") / 3).alias("x"),
        F.timestamp_seconds(F.col("id") * 86_400).alias("ts"),
        F.array(F.lit("a"), F.col("id").cast("string")).alias("tags"),
        F.struct(F.col("id").cast("int").alias("line"),
                 F.lit(1).alias("col")).alias("pos"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("_bucket"),
    )


def _rows(df):
    return sorted(map(repr, df.collect()))


def _jobs(sc) -> set:
    """Ids of the jobs run outside any job group, once the listener bus
    has delivered every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


# -- footer row counts --------------------------------------------------------


def test_footer_count_of_empty_frame(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    entry = cat.overwrite("t", spark.createDataFrame([], "id long, s string"))
    assert entry["n_rows"] == 0 == spark.read.parquet(entry["path"]).count()
    assert cat.row_count("t") == 0


def test_footer_count_of_multi_file_write(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    entry = cat.append("t", spark.range(1000).repartition(3))
    assert sum(f.endswith(".parquet") for f in os.listdir(entry["path"])) == 3
    assert entry["n_rows"] == 1000 == spark.read.parquet(entry["path"]).count()


@pytest.mark.parametrize("values,ddl", [
    (["a/b=c", None, "plain", "a/b=c"], "k string"),
    ([True, None, False, True], "k boolean"),
])
def test_footer_counts_of_escaped_partitions(spark, tmp_path, values, ddl):
    """Staged counts are keyed by the partition directory's value, which
    ``escape_part_value`` renders exactly as Spark names the directory."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(v, i) for i, v in enumerate(values)],
                               f"{ddl}, i long")
    staged = cat.stage_partitioned("t", df, "k")
    try:
        distinct = list(dict.fromkeys(values))
        for v in distinct:
            part = os.path.join(staged["base"], f"k={escape_part_value(v)}")
            assert staged["counts"][escape_part_value(v)] == (
                spark.read.parquet(part).count()
            ) == values.count(v)
        entry = cat.commit_staged("t", staged, distinct)
    finally:
        cat.release_stage(staged)
    assert entry["n_rows"] == len(values) == cat.read("t").count()


# -- recorded schema ----------------------------------------------------------


def test_recorded_schema_reads_like_inference(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    zoo = _zoo(spark)
    plain = cat.append("plain", zoo.drop("_bucket"))
    inferred = spark.read.parquet(plain["path"])
    assert inferred.dtypes == [
        ("s", "string"), ("n", "bigint"), ("x", "double"),
        ("ts", "timestamp"), ("tags", "array<string>"),
        ("pos", "struct<line:int,col:int>"),
    ]
    assert cat.read("plain").dtypes == inferred.dtypes
    assert _rows(cat.read("plain")) == _rows(inferred)

    staged = cat.stage_partitioned("staged", zoo, "_bucket")
    try:
        entry = cat.commit_staged("staged", staged, [0, 1, 2, 3])
    finally:
        cat.release_stage(staged)
    inferred = spark.read.option("basePath", entry["base_path"]).parquet(
        *entry["paths"])
    assert ("_bucket", "int") in inferred.dtypes
    assert cat.read("staged").dtypes == inferred.dtypes
    assert _rows(cat.read("staged")) == _rows(inferred)


def test_entries_without_schema_still_read(spark, tmp_path):
    """A manifest written before schemas were recorded reads by
    inference: one hand-written plain entry, one staged entry with its
    ``schema`` key removed."""
    root = tmp_path / "wh"
    cat = Catalog(spark, str(root))
    path = str(root / "legacy" / "snap-00000-0123abcd")
    spark.range(7).withColumn("s", F.lit("x")).write.parquet(path)
    (root / "legacy" / "_manifest.json").write_text(json.dumps([
        {"snapshot": "snap-00000-0123abcd", "path": path, "n_rows": 7,
         "meta": {}},
    ]))
    assert cat.read("legacy").dtypes == [("id", "bigint"), ("s", "string")]
    assert cat.read("legacy").count() == 7

    staged = cat.stage_partitioned("old", _zoo(spark), "_bucket")
    cat.commit_staged("old", staged, [0, 1, 2, 3])
    cat.release_stage(staged)
    want_dtypes, want_rows = cat.read("old").dtypes, _rows(cat.read("old"))
    manifest = root / "old" / "_manifest.json"
    entries = json.loads(manifest.read_text())
    for e in entries:
        del e["schema"]
    manifest.write_text(json.dumps(entries))
    assert cat.read("old").dtypes == want_dtypes
    assert _rows(cat.read("old")) == want_rows


# -- no bookkeeping jobs ------------------------------------------------------


def test_read_and_commits_launch_no_extra_jobs(spark, tmp_path):
    sc = spark.sparkContext
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(200).withColumn("s", F.col("id").cast("string"))

    before = _jobs(sc)
    df.write.parquet(str(tmp_path / "plain"))
    write_jobs = len(_jobs(sc) - before)
    assert write_jobs >= 1

    before = _jobs(sc)
    cat.overwrite("t", df)
    assert len(_jobs(sc) - before) == write_jobs

    before = _jobs(sc)
    cat.read("t")
    assert _jobs(sc) - before == set()

    staged = cat.stage_partitioned(
        "u", df.withColumn("_bucket", F.pmod("id", F.lit(4)).cast("int")),
        "_bucket")
    cat.commit_staged("u", staged, [0, 1])
    cat.commit_staged("u", staged, [2, 3])
    cat.release_stage(staged)
    before = _jobs(sc)
    cat.read("u")
    assert _jobs(sc) - before == set()


# -- commit lock, stage lease, durable rename ---------------------------------


def test_concurrent_appends_both_commit(spark, tmp_path, monkeypatch):
    """Two appends whose manifest loads interleave: without the commit
    lock both load the same manifest and the later rename drops the
    other's entry. Under the lock the second load waits for the first
    commit (the barrier then times out and both proceed)."""
    barrier = threading.Barrier(2, timeout=3)
    load = Catalog._load_manifest

    def racing_load(self, table):
        entries = load(self, table)
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            pass  # the other append waits on the commit lock
        return entries

    monkeypatch.setattr(Catalog, "_load_manifest", racing_load)
    cat = Catalog(spark, str(tmp_path / "wh"))
    errors = []

    def append(n):
        try:
            cat.append("t", spark.range(n))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=append, args=(n,)) for n in (3, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    monkeypatch.undo()
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(e["n_rows"] for e in cat.snapshots("t")) == [3, 5]
    assert cat.read("t").count() == 8


def test_many_concurrent_commits_all_land(spark, tmp_path):
    """More committing threads than cores, with a short switch interval:
    every staged commit (metadata only, no Spark job) reaches the
    manifest."""
    import sys

    n = 12
    cat = Catalog(spark, str(tmp_path / "wh"))
    staged = cat.stage_partitioned("t", spark.range(n * 5).withColumn(
        "_bucket", F.pmod("id", F.lit(n)).cast("int")), "_bucket")
    errors = []

    def commit(b):
        try:
            cat.commit_staged("t", staged, [b], meta={"buckets": [b]})
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=commit, args=(b,))
                   for b in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
        cat.release_stage(staged)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    entries = cat.snapshots("t")
    assert sorted(b for e in entries for b in e["meta"]["buckets"]) == list(
        range(n))
    assert cat.row_count("t") == n * 5 == cat.read("t").count()


def test_vacuum_spares_a_leased_stage(spark, tmp_path):
    """A stage its writer still leases survives another catalog's
    vacuum; once released and unreferenced, it is an orphan."""
    root = str(tmp_path / "wh")
    writer = Catalog(spark, root)
    staged = writer.stage_partitioned(
        "out", _zoo(spark, 8), "_bucket")
    other = Catalog(spark, root)
    assert other.vacuum_stages("out") == []
    assert os.path.isdir(staged["base"])

    writer.release_stage(staged)
    assert other.vacuum_stages("out") == [staged["base"]]
    assert [d for d in os.listdir(os.path.join(root, "out"))
            if "stage-" in d] == []


def test_manifest_rename_is_fsynced(spark, tmp_path, monkeypatch):
    """The tmp manifest is fsynced before the rename and its directory
    after it."""
    calls = []
    fsync, replace = os.fsync, os.replace

    def rec_fsync(fd):
        calls.append(("fsync", os.path.isdir(f"/proc/self/fd/{fd}")))
        fsync(fd)

    def rec_replace(src, dst):
        calls.append(("replace", os.path.basename(dst)))
        replace(src, dst)

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(3)
    monkeypatch.setattr(catalog_mod.os, "fsync", rec_fsync)
    monkeypatch.setattr(catalog_mod.os, "replace", rec_replace)
    cat.overwrite("t", df)
    monkeypatch.undo()
    assert calls == [("fsync", False), ("replace", "_manifest.json"),
                     ("fsync", True)]
