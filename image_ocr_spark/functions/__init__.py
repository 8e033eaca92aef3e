"""Native Spark SQL expressions (SQL text or columns) mirroring pycore
semantics exactly."""
