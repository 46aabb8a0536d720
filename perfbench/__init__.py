"""End-to-end and per-layer benchmark of the CDC consumer and the core-15
query mix. Entry point: ``python3 perfbench/run.py --workload <name>``."""
