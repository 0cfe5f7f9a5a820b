"""Large-scale training-data pipeline operators.

Beyond the reference's validation contract, a 100 TB training-data
pipeline needs dedup and text analysis — each implemented Spark-first
(built-in Column expressions, broadcastable literals, LSH instead of
O(n²) where it matters) and each reproducible by an ANSI-SQL oracle for
the correctness harness.
"""
