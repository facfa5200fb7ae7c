"""kyiv_traffic_bigdata_spark — a PySpark-native analytics engine.

Built from scratch with the same query and data-processing capabilities as
the reference project ``stasiaaleks/kyiv-traffic-bigdata`` (a pure-Python
asyncio ETL pipeline for Kyiv traffic telemetry), re-expressed idiomatically
on Spark: DataFrame/SQL on Catalyst for all relational work, Structured
Streaming for ingest, vectorized ``pandas_udf`` only where binary decoding
demands it.

Layout
------
``session``    SparkSession builder tuned for local[N] and cluster use.
``config``     Geo bounds, route-type labels, thresholds (reference parity).
``schemas``    Explicit StructTypes for every dataset the engine reads.
``functions``  Column-expression libraries: geo, text, vector, parsing.
``operators``  Named DataFrame -> DataFrame operators (dedup, similarity,
               trajectory, enrichment, windows, pivot, multimodal).
``sources``    Batch readers/writers (JSONL envelopes, GeoJSON, OSM,
               weather) and streaming sources (file replay, Socket.IO).
``streaming``  Structured Streaming ingest graphs (parse -> filter -> dedup
               -> partitioned sink with checkpoint recovery) and the
               ``applyInPandasWithState`` stateful operators.
``kpt_pipeline``
               The reference's ``kpt/visualize.py`` workload as one
               DataFrame chain, Spark-first.
``plans``      Physical-plan inspection helpers for plan-shape tests.
"""

__version__ = "0.1.0"
