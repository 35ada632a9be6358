"""Fixed-work benchmark of the engine's two reference surfaces.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload in a fresh Spark session and prints
one JSON result line; see ``WORKLOADS.md`` for the design.
"""
