"""safeascent_spark: a PySpark-native analytics engine with the query and
data-processing capability surface of the SafeAscent reference
(climbing-safety predictive analytics), rebuilt Spark-first.

Layout:
- config.py    algorithm constants (reference algorithm_config.py parity)
- kernels.py   K1-K23 scalar kernels as Column expressions
- sqlgen.py    ANSI-SQL mirrors of the kernels for DuckDB oracles
- domain.py    derived routes/accidents/weather tables over the test data
- operators/   scoring, weather similarity, relational, analytics,
               dedup, similarity search, text stats
- sinks.py     score-table roundtrips over txlog (upsert, retention)
- streaming/   daily-refresh re-expression over Structured Streaming
"""

__version__ = "0.1.0"
