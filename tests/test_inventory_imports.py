"""Spark-free smoke test: the query inventory must always import.

Round-8 shipped a corrupted ``queries/analytics.py`` (a duplicated module
block introduced a second ``from __future__`` import mid-file ->
SyntaxError), which silently voided the entire correctness gate because
nothing re-imported the inventory after the final edit.  This test is the
cheap tripwire: it imports every query module, builds the full registry and
the oracle map, and asserts the counts — no SparkSession, runs in seconds,
collected first (alphabetical) in the suite.
"""
from __future__ import annotations


# Keep in sync with the registered inventory; bump when queries are added.
MIN_QUERIES = 247
# Rows-only-by-design queries (no DuckDB oracle): b22 HLL++, d04r Spark-ML.
MAX_ORACLE_GAP = 4


def test_all_query_modules_compile() -> None:
    import compileall
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "basis_devkit_spark"
    assert compileall.compile_dir(str(pkg), quiet=2, force=True)


def test_inventory_builds_and_counts() -> None:
    from basis_devkit_spark.queries import all_queries

    qs = all_queries()
    assert len(qs) >= MIN_QUERIES, (
        f"query inventory shrank: {len(qs)} < {MIN_QUERIES}"
    )
    oracled = sum(1 for q in qs.values() if q.oracle is not None)
    assert len(qs) - oracled <= MAX_ORACLE_GAP, (
        f"too many rows-only queries: {len(qs) - oracled}"
    )
    # every name unique and well-formed; every entry callable
    for name, q in qs.items():
        assert callable(q.spark), name
        assert name and name == name.strip(), repr(name)


def test_sample_priority_covers_streaming_and_llm_queries() -> None:
    """Every registered c*/d* query must be in _SAMPLE_PRIORITY — the
    driver samples ~50 queries per round from the front of that list, and
    a c/d query omitted from it is never driver-sampled (the d19-in-r7 /
    c17-in-r8 failure mode)."""
    from basis_devkit_spark.queries import _SAMPLE_PRIORITY, all_queries

    prio = set(_SAMPLE_PRIORITY)
    missing = [
        name
        for name in all_queries()
        if name[0] in ("c", "d") and name not in prio
    ]
    assert not missing, f"c*/d* queries absent from _SAMPLE_PRIORITY: {missing}"
    # and no stale entries pointing at queries that no longer exist
    registered = set(all_queries())
    stale = [n for n in _SAMPLE_PRIORITY if n not in registered]
    assert not stale, f"_SAMPLE_PRIORITY names unregistered queries: {stale}"


def test_readme_inventory_counts_match_registry() -> None:
    """README's 'inventory (N queries, M oracle-checked)' line must match
    the live registry — doc-count drift was flagged by review in two
    consecutive rounds; this pins it."""
    import pathlib
    import re

    from basis_devkit_spark.queries import all_queries

    readme = (
        pathlib.Path(__file__).resolve().parents[1] / "README.md"
    ).read_text()
    m = re.search(r"inventory \((\d+) queries, (\d+) oracle-checked\)", readme)
    assert m, "README inventory count line missing"
    qs = all_queries()
    oracled = sum(1 for q in qs.values() if q.oracle is not None)
    assert int(m.group(1)) == len(qs), (m.group(1), len(qs))
    assert int(m.group(2)) == oracled, (m.group(2), oracled)


def test_entry_module_contract() -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= MIN_QUERIES
    assert set(oracles) <= set(qs), "oracle_sql keys must be registered queries"
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_stream_replay_scaffolding_lives_only_in_the_harness() -> None:
    """Streaming entries replay their inputs through ``queries.replay`` /
    ``queries.drain`` and stage files under ``queries.scratch_root``. No
    other module under ``queries/`` may call mkdtemp, readStream,
    maxFilesPerTrigger or processAllAvailable, so the hand-rolled
    drop-dir/checkpoint copies (and their leaked temp roots) cannot grow
    back."""
    import ast
    import pathlib

    banned = {"mkdtemp", "readStream", "maxFilesPerTrigger", "processAllAvailable"}
    pkg = pathlib.Path(__file__).resolve().parents[1] / "basis_devkit_spark"
    hits = []
    for path in sorted((pkg / "queries").glob("*.py")):
        if path.name == "__init__.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, (ast.keyword, ast.alias)):
                name = node.arg if isinstance(node, ast.keyword) else node.name
            elif isinstance(node, ast.Constant):
                name = node.value
            else:
                continue
            if name in banned:
                hits.append(f"{path.name}:{node.lineno}: {name}")
    assert not hits, hits
