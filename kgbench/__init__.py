"""KG-pipeline benchmark: seeded workloads, end-to-end gates and a per-layer
ledger for the engine in ``textchunking_and_knowledgegraph_spark``."""
