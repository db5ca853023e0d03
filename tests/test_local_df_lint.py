"""The table and serving layers build DataFrames from driver-held rows
only through ``table/versioned.py:local_df``.

``createDataFrame(list, schema)`` plans a PythonRDD-backed
``LogicalRDD``, so every stage that scans it launches Python workers;
``local_df`` plans the same rows as a ``LocalRelation``. This lint
keeps a list-built frame from growing back: outside ``local_df``, no
module under ``table/`` or ``serving/`` may call ``createDataFrame``.
"""

import ast
import pathlib

import delta_lake_play_spark

PKG = pathlib.Path(delta_lake_play_spark.__file__).parent
LAYERS = [PKG / "table", PKG / "serving"]
OWNER = "local_df"


def _offenses(path: pathlib.Path, exempt: str | None = OWNER) -> list[str]:
    found = []

    def visit(node: ast.AST, inside: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = node.name if node.name == exempt else inside
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and inside is None
        ):
            found.append(f"{path.relative_to(PKG)}:{node.lineno}: createDataFrame(")
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    visit(ast.parse(path.read_text()), None)
    return found


def test_table_and_serving_build_rows_through_local_df():
    offenders = [
        o
        for layer in LAYERS
        for path in sorted(layer.rglob("*.py"))
        for o in _offenses(path)
    ]
    assert not offenders, (
        "build DataFrames from driver-held rows with "
        "table.versioned.local_df (empty ones with empty_df):\n"
        + "\n".join(offenders)
    )


def test_lint_sees_the_owner_call():
    """Guard against a vacuous pass: without the exemption, the call
    inside ``local_df`` itself trips the rule."""
    versioned = PKG / "table" / "versioned.py"
    assert _offenses(versioned, exempt=None)
    assert not _offenses(versioned)
