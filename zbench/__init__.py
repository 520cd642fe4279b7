"""spark-zonal benchmark: see run.py and BENCHMARK.json."""
