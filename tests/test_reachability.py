"""Every package module is reached from a production root.

Walks ``import`` / ``from ... import`` statements (``ast``, no Spark) from
the entry points that run the engine: ``__spark_entry__.py``, ``jobs/``,
``bench.py``, ``bench_extra.py``, ``perfbench/``, ``tools/`` and every
module under ``crossai_ts_spark/streaming/``. A module under
``crossai_ts_spark/`` that none of them reaches is code only tests run;
the numpy reference under ``oracle/`` is the one allowed exception.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "crossai_ts_spark"


def _roots() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    for d in ("jobs", "perfbench", "tools"):
        files += sorted((ROOT / d).glob("*.py"))
    return files + sorted((PACKAGE / "streaming").rglob("*.py"))


def _module_file(dotted: str, base: pathlib.Path) -> pathlib.Path | None:
    """The repo file for a dotted module name, looked up under ``base``."""
    p = base.joinpath(*dotted.split("."))
    for f in (p / "__init__.py", p.with_suffix(".py")):
        if f.is_file():
            return f
    return None


def _imports(f: pathlib.Path) -> set[pathlib.Path]:
    """Repo files that importing ``f`` loads: each named module, each parent
    package on its path, and each imported name that is itself a module."""
    names: list[str] = []
    for node in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:  # relative: drop level - 1 packages from f's own
                pkg = list(f.relative_to(ROOT).parts[:-1])
                pkg = pkg[: len(pkg) - node.level + 1]
                mod = ".".join(pkg + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            names.append(mod)
            names += [f"{mod}.{a.name}" for a in node.names]
    # a script's own directory is on sys.path, so perfbench/ and tools/
    # import their siblings bare (``from record import ...``)
    bases = (ROOT,) if PACKAGE in f.parents else (ROOT, f.parent)
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            for base in bases:
                hit = _module_file(".".join(parts[:i]), base)
                if hit is not None:
                    found.add(hit)
                    break
    return found


def reached() -> set[pathlib.Path]:
    seen: set[pathlib.Path] = set()
    todo = _roots()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        todo += _imports(f) - seen
    return seen


def test_every_package_module_is_reached():
    seen = reached()
    unreached = sorted(
        ".".join(p for p in f.relative_to(PACKAGE).with_suffix("").parts if p != "__init__")
        for f in PACKAGE.rglob("*.py")
        if f not in seen and f.relative_to(PACKAGE).parts[0] != "oracle"
    )
    assert not unreached, f"modules no query, job, stream or benchmark imports: {unreached}"

