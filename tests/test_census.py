"""Dead-code census (Spark-free, reads source files only).

Every top-level function of ``lash_spark/`` is referenced from somewhere
other than its own definition, and every ``PipelineConfig`` field is read
outside ``config.py`` or by a ``PipelineConfig`` method. The scanned
sources are the ones that may call the engine: the package itself, the
tests, ``__spark_entry__.py``, ``bench*.py``, ``tools/`` and
``perfbench/``. A ``_``-prefixed function must moreover be referenced
from the package itself. An uncalled function or a config knob nothing
reads fails here instead of lingering.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _sources() -> "list[Path]":
    files = [*ROOT.joinpath("lash_spark").rglob("*.py"), ROOT / "__spark_entry__.py"]
    files += ROOT.glob("bench*.py")
    for d in ("tests", "tools", "perfbench"):
        files += ROOT.joinpath(d).glob("*.py")
    return sorted(f for f in files if f.is_file() and f.resolve() != Path(__file__).resolve())


def _names(node: ast.AST):
    """Identifiers a subtree refers to: names, attributes, imported names
    and identifier-shaped string constants (getattr / dispatch tables)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value


def _unreferenced(files, private_only=False) -> "list[str]":
    """Top-level ``lash_spark/`` functions in ``files`` (only the
    ``_``-prefixed ones if ``private_only``) that nothing in ``files``
    references outside their own definition."""
    refs: dict[str, set] = {}
    defs = []
    for f in files:
        tree = ast.parse(f.read_text(), filename=str(f))
        for i, node in enumerate(tree.body):
            for name in _names(node):
                refs.setdefault(name, set()).add((f, i))
            if f.is_relative_to(ROOT / "lash_spark") and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) and (node.name.startswith("_") or not private_only):
                defs.append((f, i, node.name))
    # a function's references inside its own body do not keep it alive
    return [
        f"{f.relative_to(ROOT)}:{name}"
        for f, i, name in defs
        if not refs.get(name, set()) - {(f, i)}
    ]


def test_every_engine_function_is_referenced():
    unreferenced = _unreferenced(_sources())
    assert not unreferenced, unreferenced


def test_every_private_engine_function_is_called_by_the_engine():
    """A private helper only a test or a tool still names is dead engine
    code: the references that keep it alive must come from the package."""
    unreferenced = _unreferenced(
        sorted(f for f in _sources() if f.is_relative_to(ROOT / "lash_spark")),
        private_only=True,
    )
    assert not unreferenced, unreferenced


def _loaded_attrs(node: ast.AST) -> "set[str]":
    return {
        n.attr for n in ast.walk(node)
        if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
    }


def test_every_pipeline_config_field_is_read():
    """Read outside config.py, or by a PipelineConfig method (``lsh_plan``
    reads ``lsh_min_recall`` for its callers)."""
    config = ROOT / "lash_spark" / "config.py"
    (cls,) = [
        n for n in ast.parse(config.read_text()).body
        if isinstance(n, ast.ClassDef) and n.name == "PipelineConfig"
    ]
    fields = {
        n.target.id for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
    }
    read = _loaded_attrs(cls).union(
        *(_loaded_attrs(ast.parse(f.read_text())) for f in _sources() if f != config)
    )
    assert fields and not fields - read, sorted(fields - read)
