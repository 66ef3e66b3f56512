"""Repo benchmark package: see perfbench/README.md."""
