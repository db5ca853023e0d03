"""The package builds DataFrames from driver-held rows only through
``functions/local.py:local_df``.

``createDataFrame(list, schema)`` plans a PythonRDD-backed
``LogicalRDD``, so every stage that scans it launches Python workers;
``local_df`` plans the same rows as a ``LocalRelation``. This lint
keeps a list-built frame from growing back: anywhere under
``delta_lake_play_spark/``, ``createDataFrame`` may be called only
inside ``local_df`` and inside the functions of ``ALLOWED``, the keys
that exist to exercise the reference's ingestion surface. An allowed
function that stops calling ``createDataFrame`` fails the lint too, so
the allowlist cannot go stale.
"""

import ast
import pathlib

import delta_lake_play_spark

PKG = pathlib.Path(delta_lake_play_spark.__file__).parent
OWNER = ("functions/local.py", "local_df")
ALLOWED = {
    ("queries/scans.py", "create_dataframe_rows"): (
        "the reference's list ingestion of its seed rows "
        "(spark_project.py:34-35) is the key"
    ),
    ("queries/scans.py", "collect_to_pandas"): (
        "its input is a pandas frame: the toPandas round trip "
        "(api.py:85-86) is the key"
    ),
    ("queries/dml_queries.py", "write_table_create"): (
        "builds the table seed as the reference does (spark_project.py:34-35)"
    ),
    ("queries/dml_queries.py", "create_if_absent"): (
        "builds the table seed as the reference does (spark_project.py:34-35)"
    ),
}


def _calls(path: pathlib.Path) -> list[tuple[str | None, int]]:
    """``(enclosing function, line)`` of every ``.createDataFrame(``
    call in ``path``; the function is the innermost enclosing def,
    None at module level."""
    found = []

    def visit(node: ast.AST, inside: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            found.append((inside, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    visit(ast.parse(path.read_text()), None)
    return found


def _package_calls() -> dict[tuple[str, str | None], list[int]]:
    out: dict[tuple[str, str | None], list[int]] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, line in _calls(path):
            out.setdefault((rel, fn), []).append(line)
    return out


def test_package_builds_rows_through_local_df():
    offenders = [
        f"{rel}:{line}: createDataFrame( in {fn or '<module>'}"
        for (rel, fn), lines in _package_calls().items()
        if (rel, fn) != OWNER and (rel, fn) not in ALLOWED
        for line in lines
    ]
    assert not offenders, (
        "build DataFrames from driver-held rows with "
        "functions.local.local_df (empty ones with empty_df):\n"
        + "\n".join(offenders)
    )


def test_allowlist_is_not_stale():
    calls = _package_calls()
    stale = [f"{rel}:{fn}" for rel, fn in ALLOWED if (rel, fn) not in calls]
    assert not stale, (
        "these allowlisted functions no longer call createDataFrame; "
        "drop them from ALLOWED:\n" + "\n".join(stale)
    )


def test_lint_sees_the_owner_call():
    """Guard against a vacuous pass: the call inside ``local_df``
    itself is one the walk finds."""
    rel, fn = OWNER
    assert any(inside == fn for inside, _ in _calls(PKG / rel))
