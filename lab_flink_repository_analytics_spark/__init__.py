"""PySpark-native analytics engine with the query and data-processing
capabilities of ``ververica/lab-flink-repository-analytics``.

The reference is a suite of Flink jobs + SQL functions for Apache Flink
community analytics (git commits, GitHub PRs, mailing lists).  This package
re-expresses that capability Spark-first: schemas + a column-expression
function library + windowed query builders, all planned by Catalyst; plus
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, graph and k-means loops).

Layout (mirrors SURVEY.md §7):
  session.py     SparkSession factory (UTC, AQE)
  schemas.py     entity StructTypes        (ref: common/.../entities/*.java)
  patterns.py    regex pattern constants   (ref: PatternUtils.java)
  functions/     scalar / table / aggregate function library
  queries/       README query suite + driver-gradeable query inventory
  datapipe/      dedup, similarity, text-analysis, graph operators
  ingest/        batch ingesters (git log, mbox, GitHub API)
  io/            sinks (idempotent upsert writers)
  streaming/     Structured Streaming variants
"""

__version__ = "0.1.0"
