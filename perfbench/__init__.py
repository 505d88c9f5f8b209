"""FT.* serving benchmark: seeded workloads, reply oracles and layer tracing
for the valkey_search_spark engine. Entry point: ``perfbench/run.py``."""
