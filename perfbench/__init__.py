"""Benchmark for llmxmapreduce_spark: four pipeline workloads timed under a
deterministic LLM latency model.  Run ``python3 perfbench/run.py --help``."""
