"""Repository benchmark for the dedup pipeline.

Run ``python3 perfbench/run.py --workload <scratch|tick> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root (or any other
directory). See ``perfbench/README.md`` for the workloads, the metrics
and which per-layer metric is expected to move which end-to-end one.
"""
