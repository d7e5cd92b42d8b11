"""Engine operators: the pieces Spark doesn't ship as a single call.

- ``txlog``         : transactional commit-log tables (the L1/L2 table layer).
- ``merge_upsert``  : keyed upsert into a txlog table (reference's ON CONFLICT).
- ``dedup_window``  : latest-per-key dedup (reference's W1 window).
- ``quality``       : declarative DQ checks (reference's normalize assertions).
- ``dedup``         : exact + near-duplicate detection family (north star).
- ``similarity``    : embedding similarity search (north star).
- ``multimodal``    : binary-column plumbing with stubbed decoders (north star).
"""
