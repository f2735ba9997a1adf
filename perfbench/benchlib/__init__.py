"""Analysis side of the benchmark: statistics and layer attribution."""
