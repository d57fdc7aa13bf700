"""stats_spark — a from-scratch, PySpark-native log/telemetry pipeline.

Parse -> enrich -> route -> aggregate over tables of multi-turn
conversation transcripts, with the query surface of the ``pkmn/stats``
reference (see SURVEY.md).  Everything is expressed with the Spark
DataFrame API (Catalyst-optimized); the single genuinely sequential
operator — the per-conversation matchup FSM — runs as an Arrow-batched
``applyInPandas`` over ``conv_id`` groups.

Layout:
  datagen/     deterministic synthetic corpus + dimension tables
  functions/   scalar/column function library (ids, erf, weights, text)
  operators/   parse (FSM), enrich, classify, aggregate, dedup, similarity
  plans/       end-to-end jobs (pipeline, reports)
  sources/     table loaders and routed sinks
"""

__version__ = "0.1.0"
