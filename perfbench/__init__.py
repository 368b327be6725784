"""The repo benchmark: seeded workloads from pages to a GTFS feed,
timed end to end and per layer (``python3 perfbench/run.py``)."""
