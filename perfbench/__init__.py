"""Seeded, self-checking benchmark of the graphmapreduce_spark library.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.  See NOTES.md.
"""
