"""spark-sentiment-engine: a PySpark-native analytics engine.

From-scratch rebuild of the query/data-processing surface of the
reference Azure sentiment ETL pipeline (see SURVEY.md), expressed as
idiomatic Spark: DataFrame/SQL plans compiled by Catalyst, Arrow-backed
pandas UDFs for the one genuinely custom operator (sentiment scoring),
and Structured Streaming for the incremental path.

Layout:
    session     SparkSession factory (AQE, Arrow, UTC, local-tuned)
    catalog     testdata table loading (schemas declared from parquet footers)
    schemas     StructTypes for the reference JSON payload
    functions/  scalar/text/array function library (JVM-first)
    operators/  composed operators: dedup, similarity, as-of, sessionize
    sources/    REST paged source, JSON ingest
    plans/      the declared query registry (queries + DuckDB oracles)
    streaming/  incremental sentiment pipeline, watermarked aggs
"""

__version__ = "0.1.0"
