"""Set-up: session start, base-store ingest, stored index and edge build.

Every step calls the program's public functions the way a deployment
would wire them: raw feed directories go through
``sources.ingest.ingest_events`` (one ``IngestConfig`` per datatype and
marking) and ``write_events``; the global index and the edge table are
built from the written store and stored as parquet beside it.
"""

from __future__ import annotations

import os
import time

from wavebench import gen

INDEX_FIELDS = ["city", "country", "code"]
#: one shard a day: a 50k-event store is one parquet file per date
#: partition rather than dozens of tiny ones
NUM_SHARDS = 1


def start_session(work: str, cpus: int):
    """Start the SparkSession with every scratch directory inside
    ``work``; returns (spark, seconds)."""
    from datawave_spark.session import get_spark
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # the launched JVM reads this before any conf (it overrides
    # spark.local.dir), so an inherited value must not leak scratch files
    os.environ["SPARK_LOCAL_DIRS"] = local
    t0 = time.perf_counter()
    spark = get_spark("wavebench", master=f"local[{cpus}]", extra_conf={
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation":
            os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def ingest_config(datatype: str, label: str):
    from datawave_spark.sources.ingest import IngestConfig
    return IngestConfig(
        datatype=datatype, date_field="ts", uid_fields=["uuid"],
        multi_value_delim={"city": ";"},
        tokenized_fields=["body"] if datatype == "doc" else [],
        visibility=label or None, num_shards=NUM_SHARDS)


def live_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("uuid", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("city", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("num", T.LongType()),
        T.StructField("body", T.StringType()),
    ])


def ingest_base(spark, manifest: dict, store: str) -> None:
    """Ingest every base feed and write the date-partitioned store."""
    from datawave_spark.sources.ingest import ingest_events, write_events
    frames = []
    for (datatype, label), d in sorted(manifest["base"].items()):
        raw = spark.read.parquet(d)
        frames.append(ingest_events(raw, ingest_config(datatype, label)))
    events = frames[0]
    for f in frames[1:]:
        events = events.unionByName(f, allowMissingColumns=True)
    write_events(events, store, mode="overwrite")


def build_derived(spark, store: str, out: str) -> dict:
    """Build and store the global index and the edge table from the
    written store; returns their stored paths."""
    from datawave_spark.edges import EdgeDefinition, build_edges
    from datawave_spark.sources.index_frame import build_index
    from datawave_spark.sources.parquet import read_evolving
    events = read_evolving(spark, store)
    paths = {k: os.path.join(out, k) for k in ("index", "edges")}
    (build_index(events, INDEX_FIELDS, "uid", date_col="ts")
     .write.mode("overwrite").partitionBy("field").parquet(paths["index"]))
    (build_edges(events, [EdgeDefinition("city", "country", "CITY_COUNTRY")],
                 date_col="ts")
     .write.mode("overwrite").parquet(paths["edges"]))
    return paths


def stream_once(spark, inbox: str, store: str, checkpoint: str) -> float:
    """One FlagMaker pass: ``stream_ingest`` with AvailableNow over the
    inbox, appending to ``store``; returns its busy seconds."""
    from datawave_spark.streaming.ingest import stream_ingest
    t0 = time.perf_counter()
    q = stream_ingest(spark, inbox, live_schema(),
                      ingest_config("doc", gen.LIVE_LABEL), store, checkpoint)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream_ingest failed: {q.exception()}")
    return time.perf_counter() - t0
