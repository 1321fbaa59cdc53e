"""GitHub REST ingester: commits + pull requests → domain rows → Parquet.

Replicates the mapping logic of GithubCommitSource / GithubPullRequestSource
(ref GithubCommitSource.java:30-167, GithubPullRequestSource.java:30-168):

* commits polled in 1-day slices ``[since, until)`` (:137-146), mapped with
  per-file line stats; resume from the slice watermark (ListState,
  :148-166)
* PRs listed state=ALL, base branch, sorted by created ascending, filtered
  ``createdAt > lastTime`` (:62-73); ``mergeCommit`` from merge_commit_sha
  (:139-141)

The pure mapping functions (`commit_row`, `pull_row`) take already-fetched
API JSON dicts so they are testable offline; `fetch_json` is the only
network touchpoint and the only part that needs a token/retry policy.
"""

from __future__ import annotations

import json
import urllib.request
from datetime import datetime, timedelta

API = "https://api.github.com"
PAGE_SIZE = 100  # ref GithubCommitSource.java:34


def fetch_json(url: str, token: str | None = None):
    """Single GET → parsed JSON.  Network-dependent; callers handle errors."""
    req = urllib.request.Request(url, headers={"Accept": "application/vnd.github+json"})
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


def _ts(s: str | None) -> datetime | None:
    """ISO-8601 'Z' timestamp → UTC-naive datetime (ms precision)."""
    if not s:
        return None
    from datetime import timezone

    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt.replace(microsecond=(dt.microsecond // 1000) * 1000)


def until_for(since: datetime, now: datetime) -> tuple[datetime, bool]:
    """Commit-poll slice end for a ``[since, until)`` fetch window.

    ref GithubCommitSource.java:137-146 (``getUntilFor``): one day past
    ``since``, capped at ``now``; the boolean means "caught up — delay the
    next poll" (true only when the cap applied).
    """
    maybe_until = since + timedelta(days=1)
    if maybe_until > now:
        return now, True
    return maybe_until, False


def commit_row(api_commit: dict) -> dict:
    """Map a GitHub 'commit' API object → Commit dict (schemas.COMMIT).

    Per-file stats come from the detail object's ``files`` list:
    additions/deletions/changes ≙ GHCommit.File line stats
    (GithubCommitSource.java:93-135).
    """
    c = api_commit.get("commit", {})
    files = [
        {
            "filename": f.get("filename"),
            "linesAdded": int(f.get("additions", 0)),
            "linesChanged": int(f.get("changes", 0)),
            "linesRemoved": int(f.get("deletions", 0)),
        }
        for f in api_commit.get("files", []) or []
    ]
    author = c.get("author") or {}
    committer = c.get("committer") or {}
    return {
        "author": (api_commit.get("author") or {}).get("login") or author.get("name"),
        "authorDate": _ts(author.get("date")),
        "authorEmail": author.get("email"),
        "commitDate": _ts(committer.get("date")),
        "committer": (api_commit.get("committer") or {}).get("login")
        or committer.get("name"),
        "committerEmail": committer.get("email"),
        "filesChanged": files,
        "sha1": api_commit.get("sha"),
        "shortInfo": (c.get("message") or "").split("\n", 1)[0],
    }


def pull_row(api_pull: dict) -> dict:
    """Map a GitHub 'pull' API object → PullRequest dict (schemas.PULL_REQUEST).

    ref GithubPullRequestSource.java:110-168 (merge_commit_sha :139-141).
    """
    user = api_pull.get("user") or {}
    return {
        "closedAt": _ts(api_pull.get("closed_at")),
        "commentsCount": int(api_pull.get("comments", 0) or 0),
        "createdAt": _ts(api_pull.get("created_at")),
        "creator": user.get("login"),
        "creatorEmail": user.get("email"),
        "description": api_pull.get("body"),
        "labels": [l.get("name") for l in api_pull.get("labels", []) or []],
        "mergeCommit": api_pull.get("merge_commit_sha"),
        "mergedAt": _ts(api_pull.get("merged_at")),
        "number": int(api_pull.get("number", 0)),
        "state": api_pull.get("state"),
        "title": api_pull.get("title"),
        "updatedAt": _ts(api_pull.get("updated_at")),
    }
