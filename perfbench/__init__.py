"""End-to-end benchmark of the download, process and curate pipelines.

Run ``python3 perfbench/run.py --workload process --seed 1 --seconds 15
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
