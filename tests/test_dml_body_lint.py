"""One body per DML shape in ``table/versioned.py``.

Copy-on-write verbs find their touched files through one helper, the
merge-on-read verbs write deletion-vector sidecars through one body,
and the two replaceWhere verbs share one guard. This lint keeps a
second copy from growing back: each marker below may appear in only
one method (nested closures count as their method).
"""

import ast
import pathlib

import delta_lake_play_spark

OWNER = pathlib.Path(delta_lake_play_spark.__file__).parent / "table" / "versioned.py"


def _docstring_ids(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant
            ):
                out.add(id(body[0].value))
    return out


def _marker(node: ast.AST, docs: set[int]) -> str | None:
    """The marker ``node`` is, if any."""
    if isinstance(node, ast.Attribute) and node.attr == "_distinct_files":
        return "touched-set probe (_distinct_files)"
    if (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("dv-")
        and id(node) not in docs
    ):
        return "deletion-vector sidecar name (dv-)"
    if (
        isinstance(node, ast.Name)
        and node.id == "_REPLACE_WHERE_VIOLATION"
        and isinstance(node.ctx, ast.Load)
    ):
        return "replaceWhere guard (_REPLACE_WHERE_VIOLATION)"
    return None


def _markers_by_method(path: pathlib.Path) -> dict[str, set[str]]:
    """marker -> the methods (or module-level functions) using it."""
    tree = ast.parse(path.read_text())
    docs = _docstring_ids(tree)
    found: dict[str, set[str]] = {}

    def visit(node: ast.AST, owner: str | None, scope: str) -> None:
        if isinstance(node, ast.ClassDef):
            scope = node.name
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and owner is None:
            owner = f"{scope}.{node.name}" if scope else node.name
        what = _marker(node, docs)
        if what:
            found.setdefault(what, set()).add(owner or "<module>")
        for child in ast.iter_child_nodes(node):
            visit(child, owner, scope)

    visit(tree, None, "")
    return found


def test_each_dml_shape_has_one_body():
    copies = {
        what: sorted(owners)
        for what, owners in _markers_by_method(OWNER).items()
        if len(owners) > 1
    }
    assert not copies, (
        "a DML shape's machinery belongs to one body (_split_touched, "
        "_mask_matches, _replace_slice); found copies in:\n"
        + "\n".join(f"{what}: {owners}" for what, owners in copies.items())
    )


def test_lint_sees_every_marker():
    """Guard against a vacuous pass: every marker is still in use."""
    assert set(_markers_by_method(OWNER)) == {
        "touched-set probe (_distinct_files)",
        "deletion-vector sidecar name (dv-)",
        "replaceWhere guard (_REPLACE_WHERE_VIOLATION)",
    }
