"""The per-file label vocabulary memo behind ``filter_by_auths``.

A stale memo silently drops rows (a label it never saw is never
allowed), so every way a store can change under it is exercised here
against the answer of a full probe."""

import os
import threading
import time

import pytest

from datawave_spark import visibility as V
from datawave_spark.visibility import filter_by_auths


def _write(spark, path, rows, mode="overwrite", **kw):
    w = spark.createDataFrame(rows, "id long, visibility string, "
                                    "event_date string").write.mode(mode)
    if kw.get("partition"):
        w = w.partitionBy("event_date")
    w.parquet(path)


def _ids(df):
    return sorted(r.id for r in df.collect())


def _memo_entry(path):
    """The memo's files for the store at ``path``."""
    return next(files for (roots, _), files in V._VOCAB_MEMO.items()
                if any(r.endswith(path) for r in roots))


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    group = f"vis-memo-{time.monotonic_ns()}"
    sc.setJobGroup(group, "visibility memo jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def store(spark, tmp_path):
    path = str(tmp_path / "store")
    _write(spark, path,
           [(i, ["A", "B", "A&B", None, ""][i % 5], f"2024-01-0{i % 3 + 1}")
            for i in range(30)], partition=True)
    return path


class TestMemoLineage:
    def test_file_scan_uses_memo_and_matches_full_probe(self, spark, store):
        df = spark.read.parquet(store)
        scans = V._file_scans(df, "visibility")
        assert scans is not None and len(scans[0][1]) == 12
        got = _ids(filter_by_auths(df, {"A"}))
        assert got == [i for i in range(30) if i % 5 in (0, 3, 4)]
        # a Filter, an attribute-only Project and a Union keep the memo
        derived = (df.filter("id > 3").select("visibility", "id")
                   .unionByName(df.select("visibility", "id")))
        assert V._file_scans(derived, "visibility") is not None
        assert (_ids(filter_by_auths(derived, {"B"}))
                == sorted([i for i in range(4, 30) if i % 5 in (1, 3, 4)]
                          + [i for i in range(30) if i % 5 in (1, 3, 4)]))

    @pytest.mark.parametrize("make", ["derived", "alias", "join",
                                      "in_memory", "partition_column"])
    def test_other_lineage_falls_back_to_full_probe(self, spark, store,
                                                    tmp_path, make):
        from pyspark.sql import functions as F
        base = spark.read.parquet(store)
        if make == "derived":
            df = base.withColumn("visibility", F.upper("visibility"))
            want = [i for i in range(30) if i % 5 in (1, 3, 4)]
            auths = {"B"}
        elif make == "alias":
            df = base.select("id", F.col("visibility").alias("visibility"))
            want = [i for i in range(30) if i % 5 in (0, 3, 4)]
            auths = {"A"}
        elif make == "join":
            df = base.join(base.select("id"), "id")
            want = [i for i in range(30) if i % 5 in (0, 3, 4)]
            auths = {"A"}
        elif make == "in_memory":
            df = spark.createDataFrame(base.collect(), base.schema)
            want = [i for i in range(30) if i % 5 in (0, 3, 4)]
            auths = {"A"}
        else:
            path = str(tmp_path / "by_vis")
            (base.withColumn("visibility", F.coalesce("visibility",
                                                      F.lit("A")))
             .write.partitionBy("visibility").parquet(path))
            df = spark.read.parquet(path)
            want = [i for i in range(30) if i % 5 in (0, 3, 4)]
            auths = {"A"}
        assert V._file_scans(df, "visibility") is None
        assert _ids(filter_by_auths(df, auths)) == want

    def test_union_over_cap_keeps_udf_path(self, spark, tmp_path):
        # every file is under the cap, their union is not
        path = str(tmp_path / "wide")
        spark.createDataFrame(
            [(i, f"L{i}") for i in range(40)] + [(99, "A&B")],
            "id long, visibility string").repartition(20).write.parquet(path)
        vocab = V._memo_vocabulary(spark.read.parquet(path), "visibility", 5)
        assert vocab is not None and len(vocab) == 41
        df = filter_by_auths(spark.read.parquet(path), {"A", "B", "L3"},
                             distinct_cap=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
        assert _ids(df) == [3, 99]

    def test_labels_that_need_sql_escapes(self, spark, tmp_path):
        # quoted ColumnVisibility terms may hold ' and \ ; they take the
        # Column-operator predicate instead of the SQL-text one
        path = str(tmp_path / "quoted")
        _write(spark, path, [(1, '"it\'s"', "2024-01-01"),
                             (2, '"a\\\\b"', "2024-01-01"),
                             (3, "A", "2024-01-01"), (4, None, "2024-01-01")])
        df = filter_by_auths(spark.read.parquet(path), {"it's", "a\\b"})
        assert _ids(df) == [1, 2, 4]
        assert _ids(filter_by_auths(spark.read.parquet(path), {"A"})) == [3, 4]


class TestMemoFreshness:
    def test_appended_file_with_new_label_is_visible(self, spark, store):
        assert _ids(filter_by_auths(spark.read.parquet(store), {"NEW"})) == [
            i for i in range(30) if i % 5 in (3, 4)]
        _write(spark, store, [(100, "NEW", "2024-01-01"),
                              (101, "NEW&X", "2024-01-09")],
               mode="append", partition=True)
        got = _ids(filter_by_auths(spark.read.parquet(store), {"NEW"}))
        assert got == sorted([i for i in range(30) if i % 5 in (3, 4)]
                             + [100])

    def test_file_rewritten_in_place_is_probed_again(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = tmp_path / "flat"
        path.mkdir()
        f = path / "part-0.parquet"
        pq.write_table(pa.table({"id": [1, 2], "visibility": ["A", "A"]}),
                       f)
        assert _ids(filter_by_auths(spark.read.parquet(str(path)),
                                    {"Z"})) == []
        before = os.stat(f)
        pq.write_table(pa.table({"id": [1, 2], "visibility": ["A", "Z"]}),
                       f)
        # same name, and a modification time that moved even on a
        # coarse-grained file system
        os.utime(f, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
        assert _ids(filter_by_auths(spark.read.parquet(str(path)),
                                    {"Z"})) == [2]

    def test_memo_drops_files_gone_from_listing(self, spark, store):
        filter_by_auths(spark.read.parquet(store), {"A"})
        assert len(_memo_entry(store)) == 12
        # compaction: one file per partition replaces four
        df = spark.read.parquet(store)
        rows = df.collect()
        (spark.createDataFrame(rows, df.schema).coalesce(1)
         .write.mode("overwrite").partitionBy("event_date").parquet(store))
        got = _ids(filter_by_auths(spark.read.parquet(store), {"A"}))
        assert got == [i for i in range(30) if i % 5 in (0, 3, 4)]
        listed = V._file_scans(spark.read.parquet(store), "visibility")
        assert set(_memo_entry(store)) == set(listed[0][1])
        assert len(_memo_entry(store)) == 3

    def test_both_uri_forms_map_to_one_file(self):
        status = "file:/data/store/event_date=2024-01-01/p 1%.parquet"
        assert (V._file_key("file:///data/store/event_date=2024-01-01/"
                            "p%201%25.parquet", encoded=True)
                == V._file_key("file:/data/store/event_date=2024-01-01/"
                               "p%201%25.parquet", encoded=True)
                == V._file_key(status, encoded=False))
        assert (V._file_key("hdfs://nn:8020/s/p.parquet", encoded=True)
                != V._file_key("hdfs://other:8020/s/p.parquet",
                               encoded=True))

    def test_store_path_that_needs_encoding(self, spark, tmp_path):
        path = str(tmp_path / "with space" / "store")
        _write(spark, path, [(1, "A", "2024-01-01"), (2, "B", "2024-01-02")],
               partition=True)
        assert _ids(filter_by_auths(spark.read.parquet(path), {"B"})) == [2]
        assert set(_memo_entry(path).values()) == {frozenset({"A"}),
                                                   frozenset({"B"})}


class TestMemoHits:
    def test_hit_starts_no_spark_job(self, spark, store):
        miss = _jobs_started(
            spark, lambda: filter_by_auths(spark.read.parquet(store), {"A"}))
        assert miss  # the probe itself is visible to the counter
        df = spark.read.parquet(store)
        hit = _jobs_started(
            spark, lambda: filter_by_auths(filter_by_auths(df, {"A"}),
                                           {"A", "B"}))
        assert hit == []

    def test_concurrent_clients_get_identical_answers(self, spark, store):
        """More client threads than cores race on one store's memo entry
        (all miss together, then hit), with a short switch interval."""
        import sys
        auth_sets = ({"A"}, {"B"}, {"A", "B"}, set())
        answers: dict[int, list] = {}

        def client(k):
            answers[k] = [_ids(filter_by_auths(spark.read.parquet(store), a))
                          for a in auth_sets]

        threads = [threading.Thread(target=client, args=(k,))
                   for k in range(6)]
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        want = [_ids(filter_by_auths(spark.createDataFrame(
            spark.read.parquet(store).collect()), a)) for a in auth_sets]
        assert want[2] == list(range(30))
        assert all(answers[k] == want for k in range(6))
        listed = V._file_scans(spark.read.parquet(store), "visibility")
        assert set(_memo_entry(store)) == set(listed[0][1])
