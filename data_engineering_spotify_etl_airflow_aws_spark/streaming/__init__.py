"""Structured Streaming layer (SURVEY.md §2a T1-T3, K4-K5 + §2b streaming
windows).

    chunks       - time-bucketed chunk feeds over the fixtures, per-process
                   scratch dirs, the event-feed reader and the bounded-
                   stream runner every registered stream drains through
    ingest       - exactly-once file-source ingest of the raw JSON inbox
                   (Snowpipe AUTO_INGEST analog): checkpointed, availableNow
                   daily trigger, optional cleanSource archival; pipe_status
    aggregations - watermarked tumbling and session windows over an event
                   stream (the stateful surface the reference lacks)
    dedup        - bounded-state dropDuplicatesWithinWatermark
    enrich       - stream-static enrichment join
    joins        - stream-stream event-time interval joins (inner, left and
                   full outer)
    stateful     - applyInPandasWithState running totals and rate limiter
    sessions     - timer-expiring per-user sessionization (+ the
                   transformWithStateInPandas twin)
    upsert_sink  - foreachBatch incremental-upsert sink
    decode       - streaming twin of the PPM payload decode

The runner's rule (chunks.run_available_now): a registered stream runs
bounded - availableNow trigger, the caller's checkpoint dir, and 8 shuffle
partitions (state stores sized to state volume, restored afterwards).
The continuous ingest (processingTime trigger) and the Python REST source
(processAllAvailable) are the only streams that start any other way.
"""
