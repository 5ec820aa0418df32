"""Helpers of the graft benchmark: statistics, row hashing, span self time,
host telemetry and the build of the benchmark's classpath."""
