"""Plan-quality inspection helpers: see ``plans.inspect``, the one module
tests and benchmarks read plans through."""
