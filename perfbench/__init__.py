"""Closed-loop benchmark for burla_spark.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` wraps calls into each layer's public
functions from the outside and reports per-layer numbers instead.
"""
