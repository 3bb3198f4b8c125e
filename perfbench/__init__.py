"""sparkkv benchmark: workloads, tracing and helpers (see README.md)."""
