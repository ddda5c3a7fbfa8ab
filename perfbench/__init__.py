"""End-to-end and per-layer benchmark for the sparktext engine.

Run one workload:

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

``perfbench/METRICS.md`` says what each workload and metric is, and which
end-to-end metric each per-layer metric is expected to move.
"""
