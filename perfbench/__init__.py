"""Crawl benchmark for upton_spark: workloads, output oracle and tracing.

Run ``python3 perfbench/run.py --help`` from the repository root;
``perfbench/ab.py`` runs an interleaved A/B against a base revision.

Neither older record is a baseline for this benchmark: ``bench.py``'s
``urls_per_sec`` counts every page twice (frontier rows + extracted rows),
and the ``BENCH_r01``-``BENCH_r05`` numbers come from a 32-core host.
"""
