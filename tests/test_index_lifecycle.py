"""The persisted-index lifecycle core shared by the LSH, IVFADC and minhash
families (``operators/similarity.py``: ``IndexSpec`` and the ``_index_*``
functions): compaction into a root with old tombstones, the missing-header
policy, the two deployment knobs (layout split and listing threshold),
the guard that keeps the on-disk format in one place, and the guard that
keeps environment reads out of the engine layers."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
from unittest import mock

import pytest

from tests.conftest import SF_SMOKE
from wiki_mysql_spark import session
from wiki_mysql_spark.operators import dedup as dd
from wiki_mysql_spark.operators import similarity as sim

OPERATORS = pathlib.Path(sim.__file__).resolve().parent

# family -> (build, delete, read, compact, query, append, write_delta, read id)
FAMILIES = {
    "lsh": (
        lambda df, root: sim.lsh_index_build(df, root, dim=64, n_planes=4),
        sim.lsh_index_delete,
        sim.lsh_index_read,
        sim.lsh_index_compact,
        lambda spark, root, df: sim.lsh_index_query(spark, root, df, k=3),
        sim.lsh_index_append,
        sim.lsh_index_write_delta,
        "neighbor_id",
    ),
    "ivfpq": (
        lambda df, root: sim.ivfpq_index_build(
            df, root, n_coarse=4, coarse_iters=1, m=8, n_centroids=8
        ),
        sim.ivfpq_index_delete,
        sim.ivfpq_index_read,
        sim.ivfpq_index_compact,
        lambda spark, root, df: sim.ivfpq_index_query(spark, root, df, k=3),
        sim.ivfpq_index_append,
        sim.ivfpq_index_write_delta,
        "nid",
    ),
    "minhash": (
        dd.minhash_index_build,
        dd.minhash_index_delete,
        dd.minhash_index_read,
        dd.minhash_index_compact,
        dd.minhash_index_query,
        dd.minhash_index_append,
        dd.minhash_index_write_delta,
        "doc_id",
    ),
}


def _input(spark, family):
    if family == "minhash":
        return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
            "doc_id", "text"
        ).limit(50)
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def _ids(df, col) -> set[int]:
    return {int(r[0]) for r in df.select(col).distinct().collect()}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_compact_into_root_with_deletes_keeps_every_row_live(
    spark, tmp_path, family
):
    """Compaction starts a new generation at its destination: tombstones a
    destination root received before (here: an older index at the same
    root) must not suppress any compacted row, and no tombstone set is left
    there."""
    build, delete, read, compact, *_, id_col = FAMILIES[family]
    data = _input(spark, family)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    build(data, dst)
    all_ids = _ids(read(spark, dst), id_col)
    delete(spark, dst, sorted(all_ids)[:3])
    build(data, src)

    compact(spark, src, dst)

    assert _ids(read(spark, dst), id_col) == all_ids
    assert not os.path.exists(os.path.join(dst, "tombstones"))


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_headerless_root_reads_by_inference_and_frozen_ops_refuse(
    spark, tmp_path, family
):
    """A root whose build crashed between its data write and its header
    write: the read path infers the schema and returns the same live rows;
    query, append, write_delta and compact, which need the frozen
    parameters, raise a ValueError that names the root and meta.json."""
    build, _, read, compact, query, append, write_delta, _ = FAMILIES[family]
    data = _input(spark, family)
    root = str(tmp_path / "idx")
    build(data, root)

    def rows():
        df = read(spark, root)
        return df.columns, sorted(map(tuple, df.collect()))

    with_header = rows()
    os.remove(os.path.join(root, "meta.json"))
    assert rows() == with_header

    few = data.limit(2)
    ops = {
        "query": lambda: query(spark, root, few),
        "append": lambda: append(few, root),
        "write_delta": lambda: write_delta(few, root, "batch=0"),
        "compact": lambda: compact(spark, root, str(tmp_path / "dst")),
    }
    for name, op in ops.items():
        with pytest.raises(ValueError) as err:
            op()
        assert root in str(err.value) and "meta.json" in str(err.value), name


# deployment knob -> (module that reads it at import, the expression there
# that holds its value, its clamp)
DEPLOYMENT_KNOBS = {
    "SPARK_GRAFT_LAYOUT_SPLIT": (
        "wiki_mysql_spark.operators.similarity", "_LAYOUT_SPLIT_FILES",
        sim._LAYOUT_SPLIT_MAX,
    ),
    "SPARK_GRAFT_LIST_JOB_THRESHOLD": (
        "wiki_mysql_spark.session",
        "RUNTIME_CONFS['spark.sql.sources.parallelPartitionDiscovery.threshold']",
        None,
    ),
}


def _assert_knob_rejects_and_clamps(name: str) -> None:
    """``session.env_int`` reads the knob ``name``: a value that is not an
    integer or is below 1 is a ValueError naming the variable; an in-range
    value reads as is; a value above the clamp reads as the clamp."""
    hi = DEPLOYMENT_KNOBS[name][2]
    for raw in ("0", "-3", "four", "4k", ""):
        with mock.patch.dict(os.environ, {name: raw}):
            with pytest.raises(ValueError, match=name):
                session.env_int(name, 1, lo=1, hi=hi)
    for raw, want in (("8", 8), (str(10**6), hi or 10**6)):
        with mock.patch.dict(os.environ, {name: raw}):
            assert session.env_int(name, 1, lo=1, hi=hi) == want


def _assert_knob_checked_at_import(name: str) -> None:
    """A bad value of the knob ``name`` fails the import of the module that
    reads it with a ValueError naming the variable; a value above the
    clamp imports and reads as the clamp."""
    module, expr, hi = DEPLOYMENT_KNOBS[name]

    def imported(raw: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, "-c", f"import {module} as m; print(m.{expr})"],
            env={**os.environ, name: raw}, capture_output=True, text=True,
            cwd=OPERATORS.parent.parent,
        )

    res = imported("four")
    assert res.returncode != 0
    last = res.stderr.strip().splitlines()[-1]
    assert last.startswith("ValueError") and name in last
    res = imported(str(10**6))
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == str(hi or 10**6)


def test_layout_split_knob_rejects_and_clamps():
    """SPARK_GRAFT_LAYOUT_SPLIT: below 1 or not an integer is a ValueError
    naming the variable; above the maximum clamps to it."""
    _assert_knob_rejects_and_clamps("SPARK_GRAFT_LAYOUT_SPLIT")


def test_layout_split_knob_checked_at_import():
    """A bad SPARK_GRAFT_LAYOUT_SPLIT fails the import of similarity.py
    with an error that names the variable; a huge one reads as
    ``_LAYOUT_SPLIT_MAX``."""
    _assert_knob_checked_at_import("SPARK_GRAFT_LAYOUT_SPLIT")


@pytest.mark.parametrize("name", ["SPARK_GRAFT_LIST_JOB_THRESHOLD"])
def test_deployment_knob_rejects_bad_values_and_clamps(name):
    """The same contract for the other deployment knobs read through
    ``session.env_int``, at import too: a bad listing threshold would
    otherwise reach a conf error that configure() swallows, leaving
    Spark's default of 32."""
    _assert_knob_rejects_and_clamps(name)
    _assert_knob_checked_at_import(name)


def _sites(path: pathlib.Path, match) -> list[tuple[str, int]]:
    """``(enclosing function, line)`` of every node in ``path`` for which
    ``match(node)`` holds (``""`` at module level)."""
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if match(node):
            found.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text(), str(path)), "")
    return found


def _is_header_name(node) -> bool:
    return isinstance(node, ast.Constant) and node.value == "meta.json"


def _is_writer_partition_by(node) -> bool:
    """A ``.partitionBy(`` call whose receiver is not ``Window`` (the
    ranking windows' ``Window.partitionBy`` is a different API)."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "partitionBy"
        and not (
            isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
        )
    )


def test_index_format_lives_in_the_lifecycle_core():
    """The index header name appears only in the core's header functions,
    the layout writer's ``partitionBy`` only in ``_index_write``, and
    dedup.py takes the core through its module-level import, not through
    function-local imports."""
    files = [OPERATORS / "similarity.py", OPERATORS / "dedup.py"]
    header = [
        (p.name, fn, line)
        for p in files
        for fn, line in _sites(p, _is_header_name)
        if fn not in {"_index_header", "_index_new_generation"}
    ]
    assert not header, f"'meta.json' outside the header core: {header}"
    writes = [
        (p.name, fn, line)
        for p in files
        for fn, line in _sites(p, _is_writer_partition_by)
        if fn != "_index_write"
    ]
    assert not writes, f"layout partitionBy outside _index_write: {writes}"
    local = [
        (fn, line)
        for fn, line in _sites(
            OPERATORS / "dedup.py",
            lambda n: isinstance(n, ast.ImportFrom)
            and n.module == "wiki_mysql_spark.operators.similarity",
        )
        if fn
    ]
    assert not local, f"function-local similarity imports in dedup.py: {local}"


def _is_environment_read(node) -> bool:
    """``os.environ`` / ``os.getenv`` (any receiver), or ``from os import``
    either name."""
    names = {"environ", "getenv"}
    if isinstance(node, ast.Attribute):
        return node.attr in names
    return isinstance(node, ast.ImportFrom) and any(
        a.name in names for a in node.names
    )


def test_engine_layers_read_no_environment():
    """No module under ``operators/``, ``plans/``, ``sources/`` or
    ``functions/`` reads the environment: a strategy gate is picked by the
    data against a module bound, and the deployment knobs are read once,
    through ``session.env_int``."""
    package = OPERATORS.parent
    files = [
        p for layer in ("operators", "plans", "sources", "functions")
        for p in sorted((package / layer).rglob("*.py"))
    ]
    assert any(p.name == "graph.py" for p in files)
    reads = [
        (str(p.relative_to(package)), fn, line)
        for p in files
        for fn, line in _sites(p, _is_environment_read)
    ]
    assert not reads, f"environment reads in engine layers: {reads}"


def test_cpu_budget_reads_one_spelling_of_the_core_count(monkeypatch):
    """``SPARK_GRAFT_CPUS`` unset or ``*`` means every core (what
    ``get_session``'s ``local[*]`` takes); an integer >= 1 reads as is;
    anything else is a ValueError naming the variable."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._cpu_budget() == (os.cpu_count() or 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert session._cpu_budget() == (os.cpu_count() or 1)
    for raw, want in (("1", 1), ("6", 6), ("64", 64)):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        assert session._cpu_budget() == want, raw
    for raw in ("0", "-2", "abc", "4k", ""):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            session._cpu_budget()


# Top-level definitions that only tests name, each kept on purpose.
TEST_ONLY_DEFINITIONS = {
    # the full-parity entity decode the native one is compared against
    "decode_html_entities_udf": "reference for the cleaning parity tests",
    # the XML-source readers the splittable reader is compared against
    "read_wiki_dump": "reference for the parity and chaos tests",
    "read_wiki_dump_corrupt": "reference for the parity and chaos tests",
    "zorder_layout": "writes the layout that layout_zorder_stats verifies",
    "resize_images": "an operator that COVERAGE lists",
    "compact_parquet": "an operator that COVERAGE lists",
}


def _named(tree: ast.AST) -> set[str]:
    """Every name ``tree`` refers to: a ``Name``, an ``Attribute``'s
    attribute or an imported name."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def _is_registered(node) -> bool:
    """Decorated with a ``@query(...)`` registry entry."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def test_every_engine_definition_is_reached():
    """Every top-level ``def``/``class`` under ``wiki_mysql_spark/`` is
    named by code outside the tests: the engine itself, ``scripts/``,
    ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A definition
    naming itself does not count, nor does a package ``__init__``'s
    re-export; a registered query entry is reached through the registry.
    The only exceptions are :data:`TEST_ONLY_DEFINITIONS`."""
    package = OPERATORS.parent
    repo = package.parent
    files = [
        *sorted(package.rglob("*.py")),
        *sorted((repo / "scripts").glob("*.py")),
        *[p for p in sorted((repo / "perfbench").rglob("*.py"))
          if "tests" not in p.relative_to(repo).parts],
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    defined = []  # (file, name) of each unregistered engine definition
    named = []  # (file, enclosing definition or None, names it refers to)
    for path in files:
        in_engine = package in path.parents
        for node in ast.parse(path.read_text(), str(path)).body:
            own = None
            if in_engine and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                own = node.name
                if not _is_registered(node):
                    defined.append((path, own))
            reexport = path.name == "__init__.py" and isinstance(
                node, (ast.Import, ast.ImportFrom)
            )
            named.append((path, own, set() if reexport else _named(node)))
    assert len(defined) > 100
    unreached = sorted(
        name
        for path, name in defined
        if not any(
            name in names and (where, own) != (path, name)
            for where, own, names in named
        )
    )
    assert unreached == sorted(TEST_ONLY_DEFINITIONS), (
        f"reached by no entry point: {sorted(set(unreached) - set(TEST_ONLY_DEFINITIONS))}; "
        f"allowed but now reached or gone: {sorted(set(TEST_ONLY_DEFINITIONS) - set(unreached))}"
    )
