"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference (oslokommune/gjenbruksstasjoner-kotid-estimering),
re-expressed Spark-first: DataFrame/SQL logical plans optimized by Catalyst,
Python batches (pandas / Arrow) only for per-row work that is not relational:
the image/model path and the corpus lane's LSH keys.

Package layout:

- ``session``   : SparkSession construction + runtime tuning knobs
- ``pydaemon``  : Python worker daemon of ``session.get_spark`` sessions
- ``io``        : parquet table loaders for the driver testdata layout
- ``registry``  : QuerySpec registry binding each operator to (Spark builder,
                  DuckDB oracle SQL) — the oracle-checked query inventory
                  that ``__spark_entry__.py`` and tests/test_correctness.py
                  run
- ``plans/``    : relational operator inventory (scan/filter/agg/join/window/
                  setops) — SURVEY.md §2 Part B
- ``operators/``: composed operators the reference motivates (as-of interp
                  join, keyed upsert, dedup, similarity search)
- ``functions/``: expression-level libraries (filename parse, queue estimator
                  arithmetic, text analysis)
- ``sources/``  : binary-file (image) ingestion lane
- ``streaming/``: Structured Streaming posture (file-arrival, tumbling windows)
"""

__version__ = "0.1.0"
