"""QueryLogicFactory — the REST create path (logic-by-name dispatch,
parameter validation, audit, paging)."""

import pytest
from pyspark.sql import functions as F

from datawave_spark.plans.factory import (QueryLogicFactory,
                                          QueryParameters, RunningQuery)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def factory(spark):
    from datawave_spark.sources.parquet import read_parquet
    ev = read_parquet(spark, f"{SF}/events.parquet")
    return QueryLogicFactory({"events": ev},
                             discovery_fields=["event_type"])


class TestFactory:
    def test_event_query_dispatch_and_audit(self, factory):
        rq = factory.create("EventQuery", QueryParameters(
            query="EVENT_TYPE == 'view' && VALUE > 200",
            user_dns=("cn=u",)))
        assert isinstance(rq, RunningQuery)
        assert rq.audit.selectors == ("view",)
        assert rq.audit.logic_class == "EventQuery"
        assert rq.df.count() > 0
        assert rq.df.filter("event_type != 'view'").count() == 0

    def test_begin_end_prune(self, factory):
        rq = factory.create("EventQuery", QueryParameters(
            query="EVENT_TYPE == 'view'", begin="2024-01-08",
            end="2024-01-08"))
        days = {r[0] for r in rq.df.select(
            F.col("ts").cast("date").cast("string")).distinct().collect()}
        assert days <= {"2024-01-08"}

    def test_count_and_discovery_logics(self, factory):
        n = factory.create("CountQuery", QueryParameters(
            query="EVENT_TYPE == 'view'")).df.first()["record_count"]
        assert n > 0
        disc = factory.create("DiscoveryQuery", QueryParameters(
            query="anything")).df
        assert {"field", "value", "day", "cnt"} <= set(disc.columns)

    def test_lookup_uuid_logic(self, factory):
        rq = factory.create("LookupUUID",
                            QueryParameters(query="event_id:17"))
        rows = rq.df.collect()
        assert len(rows) == 1 and rows[0]["event_id"] == 17
        with pytest.raises(ValueError):
            factory.create("LookupUUID", QueryParameters(query="noval"))

    def test_unknown_logic_and_bad_params(self, factory):
        with pytest.raises(KeyError, match="unknown query logic"):
            factory.create("NopeQuery", QueryParameters(query="A == 'x'"))
        with pytest.raises(ValueError):
            factory.create("EventQuery", QueryParameters(query=""))
        with pytest.raises(ValueError):
            factory.create("EventQuery", QueryParameters(
                query="A == 'x'", begin="2024-02-01", end="2024-01-01"))
        with pytest.raises(ValueError):
            factory.create("EventQuery", QueryParameters(
                query="A == 'x'", pagesize=0))

    def test_paging(self, factory):
        rq = factory.create("EventQuery", QueryParameters(
            query="EVENT_TYPE == 'view'", pagesize=7))
        pages = list(rq.pages())
        total = sum(len(p) for p in pages)
        assert total == rq.df.count()
        assert all(len(p) == 7 for p in pages[:-1])

    def test_register_custom_logic(self, factory):
        factory.register(
            "TopValues",
            lambda fac, qp: fac.tables["events"]
            .orderBy(F.desc("value")).limit(3).select("event_id", "value"))
        rq = factory.create("TopValues", QueryParameters(query="n/a"))
        assert rq.df.count() == 3
        assert "TopValues" in factory.logic_names()


class TestFactoryExtendedLogics:
    def test_content_query(self, spark):
        from datawave_spark.sources.parquet import read_parquet
        docs = read_parquet(spark, f"{SF}/documents.parquet")
        fac = QueryLogicFactory({"documents": docs})
        rq = fac.create("ContentQuery", QueryParameters(query="3, 7"))
        rows = {r["doc_id"] for r in rq.df.collect()}
        assert rows == {3, 7}
        with pytest.raises(ValueError):
            fac.create("ContentQuery", QueryParameters(query=" , "))

    def test_tld_family_logics(self, spark):
        ev = spark.createDataFrame(
            [("h.1.x", "a", 10.0), ("h.1.x.c1", "b", 5.0),
             ("h.2.y", "b", 1.0)],
            "uid string, kind string, value double")
        fac = QueryLogicFactory({"events": ev}, date_col="missing")
        # child matches VALUE > 4 -> TLD rollup returns whole family
        fam = fac.create("TLDEventQuery", QueryParameters(
            query="VALUE > 4")).df
        assert {r["uid"] for r in fam.collect()} == {"h.1.x", "h.1.x.c1"}
        par = fac.create("ParentQuery", QueryParameters(
            query="KIND == 'b' && VALUE > 4")).df
        assert {r["uid"] for r in par.collect()} == {"h.1.x"}

    def test_edge_event_query_requires_config(self, spark):
        ev = spark.createDataFrame([(1, "x")], "user_id int, event_type string")
        edges = spark.createDataFrame(
            [("1", "x", "t", "r")],
            "source string, sink string, edge_type string, relationship string")
        fac = QueryLogicFactory({"events": ev, "edges": edges},
                                date_col="missing")
        with pytest.raises(ValueError, match="edge_source_field"):
            fac.create("EdgeEventQuery", QueryParameters(query="TYPE == 't'"))
        fac2 = QueryLogicFactory({"events": ev, "edges": edges},
                                 date_col="missing",
                                 edge_source_field="user_id",
                                 edge_sink_field="event_type")
        out = fac2.create("EdgeEventQuery",
                          QueryParameters(query="TYPE == 't'")).df
        assert out.count() == 1


@pytest.fixture()
def labeled_store(spark, tmp_path):
    """A date-partitioned parquet store with a nanosecond timestamp and
    a ``visibility`` label on every event."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    labels = ["PUB", "SEC", "PUB&SEC", None, "OPS"]
    n = 20
    root = tmp_path / "labeled"
    pq.write_to_dataset(pa.table({
        "event_id": list(range(n)),
        "event_type": ["view" if i % 2 else "click" for i in range(n)],
        "ts": pa.array([dt.datetime(2024, 1, 1 + i % 4, 12) for i in range(n)],
                       pa.timestamp("ns")),
        "visibility": [labels[i % 5] for i in range(n)],
        "event_date": [f"2024-01-0{1 + i % 4}" for i in range(n)],
    }), str(root), partition_cols=["event_date"])
    return str(root), labels


class TestFactoryAuths:
    def test_auths_filter_events_by_visibility(self, spark, labeled_store):
        from datawave_spark.sources.parquet import read_parquet
        root, labels = labeled_store
        fac = QueryLogicFactory({"events": read_parquet(spark, root)},
                                date_col="event_date")

        def ids(auths, **kw):
            rq = fac.create("EventQuery", QueryParameters(
                query="EVENT_TYPE == 'view'", auths=auths, **kw))
            return sorted(r["event_id"] for r in rq.df.collect())

        views = [i for i in range(20) if i % 2]
        assert ids("") == views          # no auths: no visibility filter
        assert ids("PUB") == [i for i in views if i % 5 in (0, 3)]
        assert ids("PUB, SEC") == [i for i in views if i % 5 in (0, 1, 2, 3)]
        assert ids("OPS", begin="2024-01-02", end="2024-01-02") == [
            i for i in views if i % 5 in (3, 4) and i % 4 == 1]
        n = fac.create("CountQuery", QueryParameters(
            query="EVENT_TYPE == 'view'", auths="SEC")).df.first()[0]
        assert n == len([i for i in views if i % 5 in (1, 3)])

    def test_read_parquet_opens_partitioned_store(self, spark,
                                                  labeled_store, tmp_path):
        from pyspark.sql.types import TimestampType
        from datawave_spark.sources.parquet import read_parquet
        root, _ = labeled_store
        df = read_parquet(spark, root)
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        assert df.filter("event_date = '2024-01-03'").count() == 5
        # a Spark-written partitionBy store (with its _SUCCESS marker)
        out = str(tmp_path / "spark_store")
        df.write.partitionBy("event_date").parquet(out)
        again = read_parquet(spark, out)
        assert sorted(again.columns) == sorted(df.columns)
        assert again.count() == 20
