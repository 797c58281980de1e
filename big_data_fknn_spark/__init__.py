"""big_data_fknn_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of bobrovskyks/Big_Data_FkNN.

The reference (reconstructed in SURVEY.md; /root/reference is empty)
is a Scala/Spark-RDD implementation of the exact distributed Fuzzy
k-Nearest-Neighbors classifier (Keller 1985; Maillo et al. kNN-IS,
KBS 2017; Maillo et al. exact fuzzy kNN, FUZZ-IEEE 2017).  This
package re-expresses that surface — plus the relational / streaming /
LLM-data-pipeline operators a complete engine needs — as idiomatic
PySpark DataFrame plans that Catalyst/AQE can optimize.

Layout
------
- ``session``    : SparkSession factory tuned for local[N] testing.
- ``worker``     : Python-worker daemon the sessions start workers
                   through (stat-guarded zip-import invalidation).
- ``tables``     : parquet table loaders for the driver's testdata.
- ``sources``    : extra input connectors (KEEL — the reference's
                   native dataset format).
- ``functions``  : column-expression builders (distances, text
                   hashing/shingles, order-independent decimal sums).
- ``operators``  : reusable DataFrame→DataFrame operators (knn_join
                   declarative + BLAS kernel, fuzzy memberships,
                   range-bucketed global rank — operators/rank.py).
- ``cache``      : query-scoped helper-cache registry
                   (release_query_caches bounds a long session's
                   executor storage).
- ``queries``    : the registry mapping SURVEY.md §2 query keys to
                   (spark_fn, duckdb_oracle_sql) pairs — the driver
                   contract surface.
- ``streaming``  : file-source replay + memory-sink drain plumbing
                   under the streaming queries.
"""

__version__ = "0.1.0"
