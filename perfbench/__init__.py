"""Seeded, oracle-checked benchmark of the transform, resume and curate paths.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
