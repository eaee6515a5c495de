"""Repository benchmark: workloads, input generators and layer tracing
(run with ``python3 perfbench/run.py``)."""
