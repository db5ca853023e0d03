"""Only ``table/versioned.py`` knows the private commit log's format.

``_commit_files`` is the one writer of ``_log`` entries and
``_read_log`` / ``_read_log_raw`` the one reader; every other module
goes through them. This lint keeps a second writer or decoder from
growing back: outside the owner, no code may build a path into
``_log``, reach for the handle's log directory, or resolve a spilled
file manifest itself.
"""

import ast
import pathlib
import re

import delta_lake_play_spark

PKG = pathlib.Path(delta_lake_play_spark.__file__).parent
OWNER = PKG / "table" / "versioned.py"

# "_log" as a path component ("_log", "_log/…", "…/_log/…"), never
# "_delta_log"
_LOG_COMPONENT = re.compile(r"(^|/)_log(/|$)")


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


def _offenses(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    docs = _docstring_ids(tree)
    found = []
    for node in ast.walk(tree):
        what = None
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            if _LOG_COMPONENT.search(node.value):
                what = f"path into _log ({node.value!r})"
            elif node.value == "filesManifest":
                what = "decodes the spilled file manifest"
        elif isinstance(node, ast.Attribute) and node.attr == "_log_dir":
            what = "uses the table's log directory"
        if what:
            found.append(f"{path.relative_to(PKG)}:{node.lineno}: {what}")
    return found


def test_only_versioned_reads_or_writes_the_private_log():
    offenders = [
        o
        for path in sorted(PKG.rglob("*.py"))
        if path != OWNER
        for o in _offenses(path)
    ]
    assert not offenders, (
        "the private _log format belongs to table/versioned.py; read "
        "entries through VersionedTable._read_log / _read_log_raw and "
        "commit through _commit_files:\n" + "\n".join(offenders)
    )


def test_lint_sees_the_owner_module():
    """Guard against a vacuous pass: the owner itself trips every rule."""
    kinds = {o.split(": ", 1)[1].split(" (")[0] for o in _offenses(OWNER)}
    assert kinds == {
        "path into _log",
        "decodes the spilled file manifest",
        "uses the table's log directory",
    }
