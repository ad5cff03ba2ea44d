"""The extraction benchmark: see README.md and BENCHMARK.json at the repo root."""
