"""Only the log reader in ``table/delta_log.py`` reads ``_delta_log``.

``_commit_actions`` is the one parser of commit and compacted JSON,
``_checkpoint_actions`` the one reader of checkpoint and sidecar
parquet, and ``_COMMIT_RE`` (through ``_commit_versions``) the one
matcher of commit filenames. This lint keeps a second reader from
growing back anywhere in the package:

- no code parses ``_delta_log`` JSON line by line (``json.loads`` of a
  line drawn from a file or of ``readline()``);
- no code that handles the log reads parquet itself;
- no code matches commit filenames by hand (``.endswith(".json")``,
  ``.isdigit()``, a regex of its own).

"Code that handles the log" is a top-level function, method, or
module-level statement that names the log directory: ``ddir``,
``_delta_dir``, a ``"_delta_log"`` or ``"_sidecars"`` string, or one
of the module's listing helpers. Inside ``table/delta_log.py`` every function handles
the log for the first rule, since that module opens nothing else as
JSON lines.
"""

import ast
import pathlib

import delta_lake_play_spark

PKG = pathlib.Path(delta_lake_play_spark.__file__).parent
OWNER = PKG / "table" / "delta_log.py"

# (file, scope) pairs allowed to trip the rules
ALLOWED = {
    (OWNER, "_commit_actions"),
    (OWNER, "_checkpoint_actions"),
    (OWNER, "_COMMIT_RE"),
    (OWNER, "_COMPACTED_RE"),  # names compacted ranges, not commits
}

_LOG_NAMES = {
    "ddir",
    "_delta_dir",
    "_commit_versions",
    "_checkpoint_versions",
    "_checkpoint_files",
    "_compacted_spans",
    "_COMMIT_RE",
    "_CP_NAME_RE",
    "_CP_MULTIPART_RE",
}
_PARQUET_READS = {
    "read_table",
    "ParquetFile",
    "ParquetDataset",
    "read_schema",
    "read_metadata",
    "read_pandas",
}

PARSES_JSON = "parses _delta_log JSON line by line"
READS_PARQUET = "reads checkpoint parquet"
MATCHES_NAMES = "matches commit filenames by hand"


def _scopes(tree: ast.Module):
    """(name, node) per top-level function, method, class statement or
    assignment."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                name = getattr(sub, "name", "<class body>")
                yield f"{node.name}.{name}", sub
        elif isinstance(node, ast.Assign) and isinstance(
            node.targets[0], ast.Name
        ):
            yield node.targets[0].id, node
        else:
            yield "<module>", node


def _handles_log(node: ast.AST) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and n.id in _LOG_NAMES:
            return True
        if (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and ("_delta_log" in n.value or "_sidecars" in n.value)
        ):
            return True
    return False


def _line_targets(node: ast.AST) -> set[str]:
    """Names bound by a ``for`` (statement or comprehension) over a
    file handle or ``open(...)``."""
    out = set()
    for n in ast.walk(node):
        loops = []
        if isinstance(n, ast.For):
            loops = [n]
        elif isinstance(
            n, (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)
        ):
            loops = n.generators
        for loop in loops:
            it = loop.iter
            over_file = isinstance(it, ast.Name) or (
                isinstance(it, ast.Call)
                and isinstance(it.func, ast.Name)
                and it.func.id == "open"
            )
            if over_file and isinstance(loop.target, ast.Name):
                out.add(loop.target.id)
    return out


def _is_call(n: ast.AST, attr: str) -> bool:
    return (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    )


def _scope_offenses(path: pathlib.Path, node: ast.AST) -> set[str]:
    handles = _handles_log(node)
    lines = _line_targets(node)
    kinds = set()
    for n in ast.walk(node):
        if (handles or path == OWNER) and _is_call(n, "loads") and n.args:
            arg = n.args[0]
            if (isinstance(arg, ast.Name) and arg.id in lines) or _is_call(
                arg, "readline"
            ):
                kinds.add(PARSES_JSON)
        if handles and isinstance(n, ast.Call):
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name in _PARQUET_READS:
                kinds.add(READS_PARQUET)
        if handles and (
            _is_call(n, "isdigit")
            or (
                _is_call(n, "endswith")
                and any(
                    isinstance(a, ast.Constant) and a.value == ".json"
                    for a in n.args
                )
            )
        ):
            kinds.add(MATCHES_NAMES)
        if (
            _is_call(n, "compile")
            and n.args
            and isinstance(n.args[0], ast.Constant)
            and isinstance(n.args[0].value, str)
            and "json" in n.args[0].value
        ):
            kinds.add(MATCHES_NAMES)
    return kinds


def _offenses(path: pathlib.Path) -> list[tuple[str, str, str]]:
    """(scope, kind, location) for every rule the file trips."""
    tree = ast.parse(path.read_text())
    return [
        (scope, kind, f"{path.relative_to(PKG)}:{node.lineno} ({scope})")
        for scope, node in _scopes(tree)
        for kind in sorted(_scope_offenses(path, node))
    ]


def test_only_the_log_reader_reads_the_delta_log():
    offenders = [
        f"{where}: {kind}"
        for path in sorted(PKG.rglob("*.py"))
        for scope, kind, where in _offenses(path)
        if (path, scope) not in ALLOWED
    ]
    assert not offenders, (
        "read _delta_log through table/delta_log.py's reader: "
        "_commit_actions for commit/compacted JSON, _checkpoint_actions "
        "for checkpoints and sidecars, _commit_versions for commit "
        "names:\n" + "\n".join(offenders)
    )


def test_lint_sees_the_reader_itself():
    """Guard against a vacuous pass: the allowed sites trip every rule."""
    by_scope: dict[str, set[str]] = {}
    for scope, kind, _where in _offenses(OWNER):
        by_scope.setdefault(scope, set()).add(kind)
    assert PARSES_JSON in by_scope.get("_commit_actions", set())
    assert READS_PARQUET in by_scope.get("_checkpoint_actions", set())
    assert MATCHES_NAMES in by_scope.get("_COMMIT_RE", set())
