"""fdp_dynamically_controlled_streams_spark — a PySpark-native engine with the
query/data-processing capabilities of lightbend/fdp-dynamically-controlled-streams.

The reference (read-only at /root/reference) is Lightbend's "dynamically
controlled streams" pattern demo: a keyed latest-value join of a fast sensor
stream against a slow control stream, a hysteresis-band predicate, and
emit-on-change dedup (sparkcontroller/.../SparkStructuredController.scala:96-118).
This package re-expresses that pattern — and the full relational /
LLM-data-pipeline operator surface the engine charter adds on top — as
idiomatic PySpark: DataFrame/SQL plans optimized by Catalyst, Structured
Streaming for the streaming side, and Arrow-vectorized pandas UDFs only where
built-ins cannot express the semantics.

Layout:
  session.py    SparkSession factory (AQE, Arrow, shuffle sizing)
  schemas.py    message + testdata schemas, table loader
  sources/      unified batch/stream source+sink interface (parquet/kafka/rate/memory)
  operators/    controller, relational, dedup, similarity, text, multimodal, asof
  functions/    portable hashing, vector math (engine-agnostic column exprs)
  streaming/    stateful streaming controller (applyInPandasWithState over key groups)
  plans/        plan inspection / scale-posture helpers
"""

from fdp_dynamically_controlled_streams_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
