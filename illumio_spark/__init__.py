"""illumio_spark — a PySpark-native parse → enrich → route → aggregate engine.

A from-scratch rebuild of the capabilities of the reference log pipeline
(paraserv/illumio, a single-node row-at-a-time Python daemon) re-expressed
Spark-first over a table of multi-turn agent/conversation transcripts:

    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

Design (SURVEY.md §1.2 / §7):
  - DataFrame/SQL declarative plans; Catalyst + AQE pick physical strategy.
  - Grok/regex field extraction as JVM regex + from_json expressions
    inside whole-stage codegen, no Python worker (reference:
    app/log_processor.py:368-497, row-at-a-time Python dicts).
  - Enrichment via broadcast equi-joins on small lookup tables
    (reference: hard-coded maps, app/log_processor.py:370,448-450).
  - Fan-out to per-sink tables (routed_events / dead_letter / rollups)
    from one cached parse pass (reference: app/main.py:272-280).
  - Explicit conv_id-hash partitioning + salted skew handling, stable
    (conv_id, turn_idx) ordering on every sink (reference FIFO queue,
    app/log_processor.py:129-169).
  - Checkpoint table for resumable runs (reference state.json,
    app/s3_manager.py:253-267).
"""

__version__ = "0.1.0"
