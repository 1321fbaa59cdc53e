"""Entity schemas — the engine's fixed data model.

The reference declares every entity twice: as a POJO with a
``TypeInfoFactory`` (common/.../entities/Commit.java:33-53,
PullRequest.java:36-60, Email.java:29-46) and as Kafka-table SQL DDL
(README.md:78-200).  Here each entity is declared exactly once as a
``StructType``; both batch and streaming readers share it.  No schema
inference anywhere.

Timestamps: the reference uses ``TIMESTAMP(3)`` (ms precision, UTC-naive).
Spark timestamps are µs; the ingesters truncate parsed dates to ms in
Python before they build a DataFrame (``ingest/gitlog.py``, ``mbox.py``,
``github.py``), so hash-equality with ms-precision oracles holds.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ref common/.../entities/FileChanged.java:12-17
FILE_CHANGED = StructType(
    [
        StructField("filename", StringType()),
        StructField("linesAdded", IntegerType()),
        StructField("linesChanged", IntegerType()),
        StructField("linesRemoved", IntegerType()),
    ]
)

# ref common/.../entities/Commit.java:21-31 (array-of-row type at :46);
# SQL DDL README.md:78-89
COMMIT = StructType(
    [
        StructField("author", StringType()),
        StructField("authorDate", TimestampType()),
        StructField("authorEmail", StringType()),
        StructField("commitDate", TimestampType()),
        StructField("committer", StringType()),
        StructField("committerEmail", StringType()),
        StructField("filesChanged", ArrayType(FILE_CHANGED)),
        StructField("sha1", StringType()),
        StructField("shortInfo", StringType()),
    ]
)

# ref common/.../entities/PullRequest.java:21-34; SQL DDL README.md:106-121
PULL_REQUEST = StructType(
    [
        StructField("closedAt", TimestampType()),
        StructField("commentsCount", IntegerType()),
        StructField("createdAt", TimestampType()),
        StructField("creator", StringType()),
        StructField("creatorEmail", StringType()),
        StructField("description", StringType()),
        StructField("labels", ArrayType(StringType())),
        StructField("mergeCommit", StringType()),
        StructField("mergedAt", TimestampType()),
        StructField("number", IntegerType()),
        StructField("state", StringType()),
        StructField("title", StringType()),
        StructField("updatedAt", TimestampType()),
    ]
)

# ref common/.../entities/Email.java:21-27; SQL DDL README.md:138-146
EMAIL = StructType(
    [
        StructField("date", TimestampType()),
        StructField("fromEmail", StringType()),
        StructField("fromRaw", StringType()),
        StructField("htmlBody", StringType()),
        StructField("subject", StringType()),
        StructField("textBody", StringType()),
    ]
)

# ref common/.../entities/ComponentChanged.java:12-15 (intermediate)
COMPONENT_CHANGED = StructType(
    [
        StructField("name", StringType()),
        StructField("linesChanged", IntegerType()),
    ]
)

# ref common/.../entities/ComponentChangedSummary.java:12-18 (output of the
# commit-analytics window pipeline; epoch-ms window bounds)
COMPONENT_CHANGED_SUMMARY = StructType(
    [
        StructField("windowStart", LongType()),
        StructField("windowEnd", LongType()),
        StructField("componentName", StringType()),
        StructField("linesChanged", LongType()),
    ]
)

#: Watermark delays per stream, from the reference's Kafka DDLs
#: (README.md:88 commits 1 day, :120 pulls 7 days, :145 mail 1 day).
WATERMARKS = {
    "flink_commits": ("commitDate", "1 day"),
    "flink_pulls": ("createdAt", "7 days"),
    "flink_ml": ("date", "1 day"),
}
