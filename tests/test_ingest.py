"""Ingester tests: synthetic git repo / mbox file / GitHub API fixtures."""

from __future__ import annotations

import subprocess
from datetime import datetime

import pytest

from lab_flink_repository_analytics_spark.ingest import github, gitlog, mbox


@pytest.fixture(scope="module")
def git_repo(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("repo"))
    env = {
        "GIT_AUTHOR_NAME": "Alice",
        "GIT_AUTHOR_EMAIL": "alice@corp.io",
        "GIT_COMMITTER_NAME": "Bob",
        "GIT_COMMITTER_EMAIL": "bob@corp.io",
        "GIT_AUTHOR_DATE": "2021-01-01T10:00:00+00:00",
        "GIT_COMMITTER_DATE": "2021-01-01T11:00:00+00:00",
    }

    def git(*args, **kw):
        subprocess.run(["git", "-C", d, *args], check=True, capture_output=True, env={**env, **kw})

    subprocess.run(["git", "init", "-q", d], check=True, capture_output=True)
    (p := __import__("pathlib").Path(d))
    (p / "a.txt").write_text("one\ntwo\n")
    git("add", "a.txt")
    git("commit", "-q", "-m", "first commit")
    (p / "a.txt").write_text("one\nTWO\nthree\n")
    (p / "b.txt").write_text("x\n")
    git("add", ".")
    git("commit", "-q", "-m", "second commit")
    return d


def test_gitlog_hostile_subject_bytes(git_repo, tmp_path):
    # contributor-controlled subjects may contain the field/record
    # separators; ingest must not crash and must keep other commits intact
    import shutil

    d = str(tmp_path / "hostile")
    shutil.copytree(git_repo, d)
    env = {
        "GIT_AUTHOR_NAME": "Mallory",
        "GIT_AUTHOR_EMAIL": "m@x.io",
        "GIT_COMMITTER_NAME": "Mallory",
        "GIT_COMMITTER_EMAIL": "m@x.io",
        "GIT_AUTHOR_DATE": "2021-02-01T10:00:00+00:00",
        "GIT_COMMITTER_DATE": "2021-02-01T10:00:00+00:00",
    }
    p = __import__("pathlib").Path(d)
    (p / "c.txt").write_text("y\n")
    subprocess.run(["git", "-C", d, "add", "c.txt"], check=True, capture_output=True, env=env)
    subprocess.run(
        ["git", "-C", d, "commit", "-q", "-m", "bad\x1fsubject\x1fwith seps"],
        check=True, capture_output=True, env=env,
    )
    commits = gitlog.read_commits(d)
    assert len(commits) == 3
    assert commits[-1]["shortInfo"] == "bad\x1fsubject\x1fwith seps"
    assert commits[-1]["committerEmail"] == "m@x.io"


def test_gitlog_read_commits(git_repo):
    commits = gitlog.read_commits(git_repo)
    assert len(commits) == 2  # --reverse: oldest first
    first, second = commits
    assert first["shortInfo"] == "first commit"
    assert first["author"] == "Alice" and first["committer"] == "Bob"
    assert first["authorDate"] == datetime(2021, 1, 1, 10, 0)
    assert first["commitDate"] == datetime(2021, 1, 1, 11, 0)
    f = {x["filename"]: x for x in first["filesChanged"]}
    assert f["a.txt"]["linesAdded"] == 2 and f["a.txt"]["linesRemoved"] == 0
    assert f["a.txt"]["linesChanged"] == 2  # added + removed (JGit parity)
    s = {x["filename"]: x for x in second["filesChanged"]}
    assert s["a.txt"]["linesAdded"] == 2 and s["a.txt"]["linesRemoved"] == 1
    assert s["a.txt"]["linesChanged"] == 3
    assert s["b.txt"]["linesAdded"] == 1


def test_gitlog_incremental(git_repo):
    all_commits = gitlog.read_commits(git_repo)
    rest = gitlog.read_commits(git_repo, after_sha=all_commits[0]["sha1"])
    assert [c["sha1"] for c in rest] == [all_commits[1]["sha1"]]


def test_gitlog_df(spark, git_repo):
    df = gitlog.commits_df(spark, git_repo)
    assert df.count() == 2
    exploded = df.selectExpr("explode(filesChanged) AS f").select("f.linesChanged")
    assert sum(r[0] for r in exploded.collect()) == 2 + 3 + 1



def _month_dirs(path, col):
    import os

    return sorted(d for d in os.listdir(path) if d.startswith(f"{col}="))


def test_gitlog_ingest_resumes_from_returned_sha(spark, git_repo, tmp_path):
    # the checkpointed-source contract: each ingest appends what follows
    # the mark it is given and returns the new last SHA
    import shutil

    d = str(tmp_path / "repo")
    shutil.copytree(git_repo, d)
    out = str(tmp_path / "commits")
    shas = [c["sha1"] for c in gitlog.read_commits(d)]
    mark = gitlog.ingest_to_parquet(spark, d, out)
    assert mark == shas[-1]
    assert gitlog.ingest_to_parquet(spark, d, out, after_sha=mark) == mark
    assert spark.read.parquet(out).count() == 2
    env = {
        "GIT_AUTHOR_NAME": "Carol",
        "GIT_AUTHOR_EMAIL": "carol@corp.io",
        "GIT_COMMITTER_NAME": "Carol",
        "GIT_COMMITTER_EMAIL": "carol@corp.io",
        "GIT_AUTHOR_DATE": "2021-02-03T10:00:00+00:00",
        "GIT_COMMITTER_DATE": "2021-02-03T10:00:00+00:00",
    }
    (__import__("pathlib").Path(d) / "c.txt").write_text("z\n")
    subprocess.run(["git", "-C", d, "add", "c.txt"], check=True, capture_output=True, env=env)
    subprocess.run(
        ["git", "-C", d, "commit", "-q", "-m", "third commit"],
        check=True, capture_output=True, env=env,
    )
    new_mark = gitlog.ingest_to_parquet(spark, d, out, after_sha=mark)
    assert new_mark == gitlog.read_commits(d)[-1]["sha1"] != mark
    got = sorted(r["sha1"] for r in spark.read.parquet(out).select("sha1").collect())
    assert got == sorted([*shas, new_mark])
    assert _month_dirs(out, "commit_month") == [
        "commit_month=2021-01",
        "commit_month=2021-02",
    ]


MBOX_CONTENT = """From alice@corp.io Mon Jan  4 09:00:00 2021
From: Alice <alice@corp.io>
To: dev@list.org
Subject: How do I X?
Date: Mon, 4 Jan 2021 09:00:00 +0100
Content-Type: text/plain; charset=utf-8

Help needed with X.

From jira@apache.org Mon Jan  4 12:00:00 2021
From: "Jane Doe (Jira)" <jira@apache.org>
To: dev@list.org
Subject: [jira] [Created] (FLINK-1) Bug
Date: Mon, 4 Jan 2021 11:00:00 +0000
MIME-Version: 1.0
Content-Type: multipart/alternative; boundary="BB"

--BB
Content-Type: text/plain; charset=utf-8

          Components: Tests

--BB
Content-Type: text/html; charset=utf-8

<p>Components: Tests</p>

--BB--

From x Mon Jan  4 13:00:00 2021
Sender: Fallback <fb@corp.io>
Subject: no from header
Date: Mon, 4 Jan 2021 13:00:00 +0000
Content-Type: text/plain

body here
"""


@pytest.fixture(scope="module")
def mbox_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("mail") / "list-2021-01.mbox"
    p.write_text(MBOX_CONTENT)
    return str(p)


def test_mbox_parse(mbox_file):
    emails = mbox.read_emails(mbox_file)
    assert len(emails) == 3
    a, j, s = emails
    # date normalized to UTC (09:00+01:00 -> 08:00)
    assert a["date"] == datetime(2021, 1, 4, 8, 0)
    assert a["fromEmail"] == "alice@corp.io"
    assert a["textBody"].strip() == "Help needed with X."
    assert a["htmlBody"] is None
    # multipart: text and html split (ApacheMboxSource.java:285-293)
    assert j["fromRaw"] == '"Jane Doe (Jira)" <jira@apache.org>'
    assert "          Components: Tests" in j["textBody"]
    assert "<p>" in j["htmlBody"]
    # FROM -> SENDER fallback (:302-319)
    assert s["fromRaw"].startswith("Fallback")
    assert s["fromEmail"] == "fb@corp.io"


def test_mbox_ingest_resumes_from_returned_date(spark, mbox_file, tmp_path):
    # same contract keyed on the last email date (strictly-after resume)
    import shutil

    p = tmp_path / "list.mbox"
    shutil.copy(mbox_file, p)
    out = str(tmp_path / "emails")
    mark = mbox.ingest_to_parquet(spark, str(p), out)
    assert mark == datetime(2021, 1, 4, 13, 0)
    assert mbox.ingest_to_parquet(spark, str(p), out, after=mark) == mark
    assert spark.read.parquet(out).count() == 3
    with open(p, "a") as f:
        f.write(
            "\nFrom carol@corp.io Tue Feb  2 10:00:00 2021\n"
            "From: Carol <carol@corp.io>\n"
            "Subject: later\n"
            "Date: Tue, 2 Feb 2021 10:00:00 +0000\n"
            "Content-Type: text/plain\n\nnew month\n"
        )
    new_mark = mbox.ingest_to_parquet(spark, str(p), out, after=mark)
    assert new_mark == datetime(2021, 2, 2, 10, 0)
    got = spark.read.parquet(out).select("fromEmail").collect()
    assert sorted(r["fromEmail"] for r in got) == [
        "alice@corp.io", "carol@corp.io", "fb@corp.io", "jira@apache.org",
    ]
    assert _month_dirs(out, "month") == ["month=2021-01", "month=2021-02"]


def test_mbox_incremental_filter(mbox_file):
    emails = mbox.read_emails(mbox_file, after=datetime(2021, 1, 4, 11, 0))
    assert len(emails) == 1  # strictly-after semantics (:157)


def test_mbox_df_runs_jira_pipeline(spark, mbox_file):
    from lab_flink_repository_analytics_spark.functions.scalar import (
        get_jira_ticket_components,
        is_jira_ticket,
    )
    from pyspark.sql import functions as F

    df = mbox.emails_df(spark, mbox_file)
    out = (
        df.filter(is_jira_ticket(F.col("fromRaw")))
        .select(F.explode(get_jira_ticket_components(F.col("textBody"))).alias("c"))
        .collect()
    )
    assert [r["c"] for r in out] == ["Tests"]


API_COMMIT = {
    "sha": "abc123",
    "author": {"login": "alice"},
    "committer": {"login": "bob"},
    "commit": {
        "author": {"name": "Alice", "email": "alice@corp.io", "date": "2021-01-01T10:00:00Z"},
        "committer": {"name": "Bob", "email": "bob@corp.io", "date": "2021-01-01T11:00:00Z"},
        "message": "fix: something\n\nlong body",
    },
    "files": [{"filename": "flink-core/src/A.java", "additions": 3, "deletions": 1, "changes": 4}],
}

API_PULL = {
    "number": 7,
    "state": "closed",
    "title": "Add feature",
    "body": "desc",
    "user": {"login": "alice"},
    "labels": [{"name": "component=runtime"}],
    "created_at": "2021-01-01T00:00:00Z",
    "updated_at": "2021-01-02T00:00:00Z",
    "closed_at": "2021-01-03T00:00:00Z",
    "merged_at": "2021-01-03T00:00:00Z",
    "merge_commit_sha": "deadbeef",
    "comments": 5,
}


def test_github_until_for():
    # ref GithubCommitSource.java:137-146: 1-day slice, capped at now
    since = datetime(2021, 1, 1, 6)
    assert github.until_for(since, datetime(2021, 1, 3)) == (
        datetime(2021, 1, 2, 6),
        False,
    )
    now = datetime(2021, 1, 1, 18)
    assert github.until_for(since, now) == (now, True)  # caught up → delay


def test_github_commit_row():
    row = github.commit_row(API_COMMIT)
    assert row["sha1"] == "abc123"
    assert row["author"] == "alice" and row["committer"] == "bob"
    assert row["shortInfo"] == "fix: something"
    assert row["commitDate"] == datetime(2021, 1, 1, 11, 0)
    f = row["filesChanged"][0]
    assert (f["linesAdded"], f["linesRemoved"], f["linesChanged"]) == (3, 1, 4)


def test_github_pull_row():
    row = github.pull_row(API_PULL)
    assert row["number"] == 7 and row["state"] == "closed"
    assert row["labels"] == ["component=runtime"]
    assert row["mergeCommit"] == "deadbeef"
    assert row["mergedAt"] == datetime(2021, 1, 3, 0, 0)
    assert row["commentsCount"] == 5


def test_github_commits_python_datasource(spark, tmp_path):
    # the Spark 4 Python DataSource: one input partition per day slice,
    # fixture-backed (offline), rows land in schemas.COMMIT shape
    import json

    from lab_flink_repository_analytics_spark.ingest import github_source

    fx = {
        "sha": "abc123",
        "commit": {
            "message": "FLINK-1 fix\n\nbody",
            "author": {"name": "Ada", "email": "ada@corp.com", "date": "2024-01-02T10:00:00Z"},
            "committer": {"name": "Bob", "email": "bob@corp.com", "date": "2024-01-02T11:00:00Z"},
        },
        "author": {"login": "ada"},
        "committer": {"login": "bob"},
        "files": [{"filename": "flink-core/src/A.java", "additions": 3, "deletions": 1, "changes": 4}],
    }
    (tmp_path / "commits_2024-01-02.json").write_text(json.dumps([fx]))
    # day 1 and 3 have no fixture file -> empty partitions, not errors

    github_source.register(spark)
    df = (
        spark.read.format("github_commits")
        .option("since", "2024-01-01")
        .option("until", "2024-01-04")
        .option("fixture_dir", str(tmp_path))
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # one per day slice
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["sha1"] == "abc123"
    assert r["author"] == "ada" and r["committer"] == "bob"
    assert r["shortInfo"] == "FLINK-1 fix"
    assert r["filesChanged"][0]["linesAdded"] == 3
    from datetime import datetime as dt

    assert r["commitDate"] == dt(2024, 1, 2, 11, 0, 0)


def test_github_datasource_prunes_slices_from_pushed_filters(spark, tmp_path):
    # commitDate range predicates prune day-slice partitions at planning
    # time (pushFilters); Spark still re-applies the exact predicate
    import json
    from datetime import datetime as dt

    from pyspark.sql import functions as F

    from lab_flink_repository_analytics_spark.ingest import github_source

    def fx(day, sha):
        return {
            "sha": sha,
            "commit": {
                "message": f"c {sha}",
                "author": {"name": "A", "email": "a@x.com", "date": f"{day}T10:00:00Z"},
                "committer": {"name": "A", "email": "a@x.com", "date": f"{day}T10:00:00Z"},
            },
            "files": [],
        }

    for day, sha in [("2024-01-01", "s1"), ("2024-01-02", "s2"), ("2024-01-03", "s3")]:
        (tmp_path / f"commits_{day}.json").write_text(json.dumps([fx(day, sha)]))

    github_source.register(spark)
    base = (
        spark.read.format("github_commits")
        .option("since", "2024-01-01")
        .option("until", "2024-01-04")
        .option("fixture_dir", str(tmp_path))
        .load()
    )
    assert base.rdd.getNumPartitions() == 3
    pruned = base.filter(F.col("commitDate") >= dt(2024, 1, 3))
    assert pruned.rdd.getNumPartitions() == 1  # two slices pruned away
    assert [r["sha1"] for r in pruned.collect()] == ["s3"]
    both = base.filter(
        (F.col("commitDate") >= dt(2024, 1, 2)) & (F.col("commitDate") < dt(2024, 1, 3))
    )
    assert both.rdd.getNumPartitions() == 1
    assert [r["sha1"] for r in both.collect()] == ["s2"]


def test_github_pulls_python_datasource(spark, tmp_path):
    # PR twin of the commits DataSource: one input partition per created-asc
    # PAGE (the PR list API has no since/until slicing), fixture-backed
    import copy
    import json

    from lab_flink_repository_analytics_spark.ingest import github_pulls_source

    p1 = copy.deepcopy(API_PULL)
    p2 = copy.deepcopy(API_PULL)
    p2["number"] = 8
    p2["created_at"] = "2021-02-01T00:00:00Z"
    (tmp_path / "pulls_page_1.json").write_text(json.dumps([p1]))
    (tmp_path / "pulls_page_2.json").write_text(json.dumps([p2]))

    github_pulls_source.register(spark)
    df = (
        spark.read.format("github_pulls")
        .option("fixture_dir", str(tmp_path))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one per page (auto from fixtures)
    rows = {r["number"]: r for r in df.collect()}
    assert set(rows) == {7, 8}
    assert rows[7]["creator"] == "alice"
    assert rows[7]["labels"] == ["component=runtime"]
    assert rows[7]["mergeCommit"] == "deadbeef"
    assert rows[7]["createdAt"] == datetime(2021, 1, 1, 0, 0)


def test_github_pulls_since_resume_filter(spark, tmp_path):
    # the reference's checkpointed lastTime (GithubPullRequestSource.java:73-81)
    # maps to the row-level `since` option: only PRs created strictly after
    import copy
    import json

    from lab_flink_repository_analytics_spark.ingest import github_pulls_source

    p1 = copy.deepcopy(API_PULL)
    p2 = copy.deepcopy(API_PULL)
    p2["number"] = 8
    p2["created_at"] = "2021-02-01T00:00:00Z"
    (tmp_path / "pulls_page_1.json").write_text(json.dumps([p1, p2]))

    github_pulls_source.register(spark)
    df = (
        spark.read.format("github_pulls")
        .option("fixture_dir", str(tmp_path))
        .option("since", "2021-01-01T00:00:00")
        .load()
    )
    rows = df.collect()
    assert [r["number"] for r in rows] == [8]  # equal-to-since excluded


def test_mbox_python_datasource(spark, tmp_path):
    # monthly-file-partitioned mbox source: one input partition per month,
    # reference parsing (charset fallback, From/Sender) via ingest/mbox.py
    d = tmp_path / "archive"
    d.mkdir()
    (d / "list-2021-01.mbox").write_text(MBOX_CONTENT)
    (d / "list-2021-02.mbox").write_text(
        MBOX_CONTENT.replace("Jan 2021", "Feb 2021")
    )
    from lab_flink_repository_analytics_spark.ingest import mbox_source

    mbox_source.register(spark)
    df = spark.read.format("mbox").option("dir", str(d)).load()
    assert df.rdd.getNumPartitions() == 2  # one per monthly file
    rows = df.collect()
    assert {r["date"].month for r in rows} == {1, 2}
    assert len(rows) == 6  # 3 messages per month, both months parsed


def test_mbox_datasource_after_skips_whole_months(spark, tmp_path):
    d = tmp_path / "archive"
    d.mkdir()
    (d / "list-2021-01.mbox").write_text(MBOX_CONTENT)
    (d / "list-2021-02.mbox").write_text(
        MBOX_CONTENT.replace("Jan 2021", "Feb 2021")
    )
    from lab_flink_repository_analytics_spark.ingest import mbox_source

    mbox_source.register(spark)
    df = (
        spark.read.format("mbox")
        .option("dir", str(d))
        .option("after", "2021-02-01T00:00:00")
        .load()
    )
    # the January FILE is pruned before any parsing (partition count 1)
    assert df.rdd.getNumPartitions() == 1
    rows = df.collect()
    assert all(r["date"].month == 2 for r in rows)
