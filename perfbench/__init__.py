"""The repository's benchmark: see ``perfbench/run.py`` and BENCHMARK.json."""
