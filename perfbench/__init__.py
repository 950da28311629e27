"""Seeded, closed-loop benchmark of gr_tdigest_spark at local[nproc].

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload; ``python3 perfbench/report.py`` runs
them all and prints every metric with its unit and sample count. See
``perfbench/README.md`` for the metric -> layer -> workload map.
"""
