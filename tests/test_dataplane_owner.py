"""Tooling guard: one module owns a data file's identity on the Spark
data plane.  datareader.py resolves scan paths and decodes Spark's
reported file name; datacache.py names and downloads the local cache
copies it reads.  Any other module whose code uses `input_file_name`,
`url_decode`, `cache_path` or `localize` holds a second copy of a rule
that has drifted before (space, non-ASCII and '%' partition values each
broke one copy but not the others).

The guard reads code, not prose: names, attributes, imports and SQL
expression strings count; comments and docstrings do not.  The one
documented exception is named by file and function:
datasource._readable_paths runs in a Python planning worker with no JVM
handle, so it localizes cloud paths itself."""

import ast
import os
import re

import delta_go_spark

OWNERS = {"datareader.py", "datacache.py"}
EXCEPTIONS = {("datasource.py", "_readable_paths")}
NAMES = {"input_file_name", "url_decode", "cache_path", "localize"}
SQL_CALL = re.compile(r"\b(input_file_name|url_decode)\s*\(")


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _uses(tree: ast.AST):
    """(line, enclosing top-level function, name) for each guarded use."""
    docs = _docstrings(tree)

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and func is None:
            func = node.name
        hit = None
        if isinstance(node, ast.Name) and node.id in NAMES:
            hit = node.id
        elif isinstance(node, ast.Attribute) and node.attr in NAMES:
            hit = node.attr
        elif isinstance(node, ast.alias) and node.name in NAMES:
            hit = node.name
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name in NAMES:
            hit = node.name
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and SQL_CALL.search(node.value)
        ):
            hit = SQL_CALL.search(node.value).group(0)
        if hit:
            yield getattr(node, "lineno", 0), func, hit
        for child in ast.iter_child_nodes(node):
            yield from visit(child, func)

    yield from visit(tree, None)


def _offenders(root: str) -> list[str]:
    offenders = []
    for dirpath, _dirs, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            if dirpath == root and name in OWNERS:
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            rel = os.path.relpath(path, root)
            for line, func, hit in _uses(tree):
                if (rel, func) not in EXCEPTIONS:
                    offenders.append(f"{rel}:{line} ({func or 'module'}): {hit}")
    return offenders


def test_file_identity_has_one_owner():
    offenders = _offenders(os.path.dirname(delta_go_spark.__file__))
    assert not offenders, "\n".join(offenders)


def test_guard_sees_code_not_prose(tmp_path):
    """The guard flags a call, an attribute, an import and a SQL string,
    and ignores the same words in a comment or docstring."""
    (tmp_path / "ok.py").write_text(
        '"""Decodes input_file_name() via url_decode."""\n'
        "# localize(cache_path(p))\n"
    )
    (tmp_path / "bad.py").write_text(
        "from delta_go_spark.datacache import localize\n"
        "def f(F, df):\n"
        "    df.select(F.input_file_name())\n"
        '    return df.selectExpr("url_decode(x)")\n'
    )
    (tmp_path / "datasource.py").write_text(
        "def _readable_paths(p):\n"
        "    from delta_go_spark.datacache import localize\n"
        "    return localize(p)\n"
        "def other(p):\n"
        "    return localize(p)\n"
    )
    got = _offenders(str(tmp_path))
    assert got == [
        "bad.py:1 (module): localize",
        "bad.py:3 (f): input_file_name",
        "bad.py:4 (f): url_decode(",
        "datasource.py:5 (other): localize",
    ]
