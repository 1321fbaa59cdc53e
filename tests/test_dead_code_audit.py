"""Dead-code audit of the package — Spark-free, AST only.

Every public top-level function or class of
``lab_flink_repository_analytics_spark`` must have a use outside the tests:
a registry query, another module, ``bench.py``, ``__spark_entry__.py``,
``tools/`` or ``perfbench/`` reaching it by import, attribute or name.  A
name that only tests call must be a reference capability kept as API and
listed in ``TEST_ONLY_OK`` with its SURVEY.md §2 section; any other fails
here until it gets a caller or is deleted.

Uses are resolved per module, not by bare name: ``CQ.quiet_sessions``
counts for ``queries.community`` only, a package ``__init__`` re-export
is not a use by itself, and a function calling itself is not its own use.

The docs are held to the suite the same way: a full ``test_<name>`` that
COVERAGE.md or README.md cites must be defined under ``tests/`` or
``perfbench/``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "lab_flink_repository_analytics_spark"

#: public names whose only callers are tests, keyed by module path under
#: the package: each is a SURVEY.md §2 capability kept as API, cited by
#: its section
TEST_ONLY_OK = {
    "changelog.materialize_multiset": "§2.A changelog-mode values source, un-keyed (I,UA,UB,D)",
    "changelog.replay_changelog": "§2.A changelog-mode values source: the ITCases' per-step replay",
    "io.sinks.apply_changelog": "§2.E primary-key upsert source applied to a stored table",
    "functions.aggregate.get_email_aliases_and_company": "§2.D GetEmailAliasesAndCompany",
    "functions.scalar.obfuscate_array": "§2.D Obfuscate, ARRAY<STRING> overload",
    "functions.scalar.register_sql_functions": "§2.D the function library callable from spark.sql",
    "functions.table.expand_jira_ticket_components": "§2.D ExpandJiraTicketComponents",
    "functions.udtf.register": "§2.D table functions callable from SQL LATERAL",
    "ingest.github.until_for": "§2.A GithubCommitSource's one-day poll slices",
    "ingest.github_source.register": "§2.A GithubCommitSource as a Spark data source",
    "ingest.github_pulls_source.register": "§2.A GithubPullRequestSource as a Spark data source",
    "ingest.gitlog.ingest_to_parquet": "§2.A JGitCommitSource with its resume position",
    "ingest.mbox.ingest_to_parquet": "§2.A ApacheMboxSource with its resume position",
    "io.sinks.to_kafka_json": "§2.B Kafka JSON sink",
    "io.sinks.fan_out": "§2.B multi-sink statement set",
    "queries.community.unanswered_threads": "§2.E session window + HAVING (README.md:227-236)",
    "streaming.jobs.users_per_window_stream": "§2.E watermarked tumbling window (README.md:217-223)",
    "streaming.jobs.session_threads_stream": "§2.E watermarked session window (README.md:227-236)",
    "streaming.jobs.sliding_activity_stream": "§2.E watermark / late data over overlapping windows",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _non_test_sources() -> list[Path]:
    out = []
    for p in sorted(ROOT.rglob("*.py")):
        rel = p.relative_to(ROOT).parts
        if any(part.startswith(".") or part in ("tests", "spark-warehouse") for part in rel):
            continue
        if p.name.startswith("test_") or p.name == "conftest.py":
            continue
        out.append(p)
    return out


def _public_defs(tree: ast.Module) -> set[str]:
    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not n.name.startswith("_")
    }


def _scan():
    """(public defs, uses) as sets of (module, name)."""
    trees = {_module_name(p): (p, ast.parse(p.read_text(), str(p))) for p in _non_test_sources()}
    modules = set(trees)
    defs = {
        (m, name)
        for m, (_, tree) in trees.items()
        if m.startswith(PKG)
        for name in _public_defs(tree)
    }
    uses: set[tuple[str, str]] = set()
    reexports: dict[tuple[str, str], tuple[str, str]] = {}

    for m, (path, tree) in trees.items():
        is_pkg = path.name == "__init__.py"
        aliases: dict[str, str] = {}  # local name -> module path
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        aliases[a.asname] = a.name
                    else:
                        aliases[a.name.split(".")[0]] = a.name.split(".")[0]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    pkg = m if is_pkg else m.rpartition(".")[0]
                    for _ in range(node.level - 1):
                        pkg = pkg.rpartition(".")[0]
                    base = f"{pkg}.{base}" if base else pkg
                for a in node.names:
                    local = a.asname or a.name
                    if f"{base}.{a.name}" in modules:
                        aliases[local] = f"{base}.{a.name}"
                    elif is_pkg and base.startswith(PKG):
                        reexports[(m, a.name)] = (base, a.name)
                    else:
                        uses.add((base, a.name))

        def dotted(node: ast.expr) -> str | None:
            if isinstance(node, ast.Name):
                return aliases.get(node.id)
            if isinstance(node, ast.Attribute):
                d = dotted(node.value)
                if d is not None and f"{d}.{node.attr}" in modules:
                    return f"{d}.{node.attr}"
            return None

        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                d = dotted(node.value)
                if d is not None:
                    uses.add((d, node.attr))

        own = _public_defs(tree)
        for stmt in tree.body:
            owner = getattr(stmt, "name", None)
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name) and node.id in own and node.id != owner:
                    uses.add((m, node.id))

    # a use through a package re-export is a use of the defining module
    frontier = set(uses)
    while frontier:
        frontier = {reexports[u] for u in frontier if u in reexports} - uses
        uses |= frontier
    return defs, uses


def _key(m: str, name: str) -> str:
    return f"{m.removeprefix(PKG + '.')}.{name}"


def test_every_public_name_has_a_non_test_use_or_a_reason():
    defs, uses = _scan()
    unused = sorted(_key(*d) for d in defs - uses)
    missing = [k for k in unused if k not in TEST_ONLY_OK]
    assert not missing, (
        f"public names with no use outside tests/: {missing} — give each a "
        "caller, delete it with its tests, or add it to TEST_ONLY_OK with "
        "its SURVEY.md §2 capability"
    )


def test_dead_code_allowlist_is_current():
    defs, uses = _scan()
    keys = {_key(*d): d for d in defs}
    gone = [k for k in TEST_ONLY_OK if k not in keys]
    used = [k for k in TEST_ONLY_OK if k in keys and keys[k] in uses]
    assert not gone, f"TEST_ONLY_OK names no longer defined: {gone}"
    assert not used, f"TEST_ONLY_OK names that now have a non-test use: {used}"
    assert all(reason.strip() for reason in TEST_ONLY_OK.values())


def test_test_only_names_cite_a_survey_section():
    uncited = {k: v for k, v in TEST_ONLY_OK.items() if not v.startswith("§2.")}
    assert not uncited, (
        f"TEST_ONLY_OK entries that cite no SURVEY.md §2 section: {uncited} — "
        "give each a caller or delete it"
    )


def _defined_test_names() -> set[str]:
    """Test modules and test functions under tests/ and perfbench/."""
    names = set()
    for d in ("tests", "perfbench"):
        for p in (ROOT / d).rglob("*.py"):
            names.add(p.stem)
            for n in ast.walk(ast.parse(p.read_text(), str(p))):
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    names.add(n.name)
    return names


def test_docs_cite_only_tests_that_exist():
    """A cited ``test_<name>`` (``test_x{1,2}`` expands to ``test_x1``,
    ``test_x2``) must exist; a prefix wildcard such as ``test_simhash_*``
    is not checked."""
    defined = _defined_test_names()
    stale = []
    for doc in ("COVERAGE.md", "README.md"):
        text = (ROOT / doc).read_text()
        for m in re.finditer(r"\b(test_\w+)(?:\{([\w,]+)\})?(?![\w*{])", text):
            alts = m.group(2).split(",") if m.group(2) else [""]
            line = text.count("\n", 0, m.start()) + 1
            stale += [
                f"{doc}:{line} {m.group(1)}{a}"
                for a in alts
                if m.group(1) + a not in defined
            ]
    assert not stale, f"docs cite tests that no file defines: {stale}"
