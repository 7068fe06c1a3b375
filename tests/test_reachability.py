"""Every package module, and every top-level symbol in it, is reached from
a production root.

Walks ``import`` / ``from ... import`` statements and name references
(``ast``, no Spark) from the entry points that run the engine:
``__spark_entry__.py``, ``jobs/``, ``bench.py``, ``bench_extra.py``,
``perfbench/``, ``tools/``, every ``@q``-registered query and the public
functions of ``crossai_ts_spark/streaming/``. A module or symbol under
``crossai_ts_spark/`` that none of them reaches is code only tests run;
the test references under ``oracle/`` are the one allowed exception.
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


def _find(dotted: str, bases) -> pathlib.Path | None:
    """:func:`_module_file` under the first of ``bases`` that has it."""
    for base in bases:
        hit = _module_file(dotted, base)
        if hit is not None:
            return hit
    return None


def _from_module(node: ast.ImportFrom, f: pathlib.Path, root: pathlib.Path) -> str:
    """The dotted module a ``from ... import`` in ``f`` names."""
    if not node.level:
        return node.module or ""
    pkg = list(f.relative_to(root).parts[:-1])  # relative: drop level - 1 packages
    pkg = pkg[: len(pkg) - node.level + 1]
    return ".".join(pkg + ([node.module] if node.module else []))


def _imports(f: pathlib.Path) -> set[pathlib.Path]:
    """Repo files that importing ``f`` loads: each named module, each parent
    package on its path, and each imported name that is itself a module."""
    names: list[str] = []
    for node in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(node, f, ROOT)
            names.append(mod)
            names += [f"{mod}.{a.name}" for a in node.names]
    # a script's own directory is on sys.path, so perfbench/ and tools/
    # import their siblings bare (``from record import ...``)
    bases = (ROOT,) if PACKAGE in f.parents else (ROOT, f.parent)
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            hit = _find(".".join(parts[:i]), bases)
            if hit is not None:
                found.add(hit)
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


# -- per-symbol walk ---------------------------------------------------------
#
# A symbol is a top-level def, class or assigned name of a package module,
# keyed ``(file, name)``. A name a file binds by import resolves to the module
# or symbol it names, so package ``__init__`` re-exports are followed like any
# other binding.

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Module:
    """One file's top-level symbols, import bindings and import-time code."""

    def __init__(self, f: pathlib.Path, root: pathlib.Path):
        self.f = f
        tree = ast.parse(f.read_text(), str(f))
        # a script's own directory is on sys.path (see _imports)
        bases = (root,) if root / "crossai_ts_spark" in f.parents else (root, f.parent)
        self.tops: dict[str, list[ast.AST]] = {}
        self.registered: set[str] = set()  # @q(...) queries
        self.import_time: list[ast.AST] = []  # statements that bind no symbol
        for node in tree.body:
            if isinstance(node, (*_FUNCS, ast.ClassDef)):
                self.tops.setdefault(node.name, []).append(node)
                if any(isinstance(d, ast.Call) and getattr(d.func, "id", None) == "q"
                       for d in node.decorator_list):
                    self.registered.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for n in (n for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)):
                    self.tops.setdefault(n.id, []).append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                self.import_time.append(node)
        # name -> ("mod", file) | ("sym", file, name), from imports in any scope
        self.bindings: dict[str, tuple] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    # ``import a.b`` binds ``a``; ``import a.b as x`` binds a.b
                    name = a.name if a.asname else a.name.split(".")[0]
                    hit = _find(name, bases)
                    if hit is not None:
                        self.bindings[a.asname or name] = ("mod", hit)
            elif isinstance(node, ast.ImportFrom):
                mod = _from_module(node, f, root)
                base = _find(mod, bases)
                if base is None:
                    continue
                for a in node.names:
                    sub = _find(f"{mod}.{a.name}", bases)
                    self.bindings[a.asname or a.name] = (
                        ("mod", sub) if sub is not None else ("sym", base, a.name))

    def resolve(self, node: ast.AST) -> tuple | None:
        """What a ``Name`` or an ``a.b.c`` chain refers to, if it is repo code."""
        if isinstance(node, ast.Name):
            if node.id in self.tops:
                return ("sym", self.f, node.id)
            return self.bindings.get(node.id)
        if isinstance(node, ast.Attribute):
            base = self.resolve(node.value)
            if base is None or base[0] != "mod":
                return None
            if base[1].name == "__init__.py":  # a package: maybe a submodule
                sub = base[1].parent / node.attr
                for cand in (sub / "__init__.py", sub.with_suffix(".py")):
                    if cand.is_file():
                        return ("mod", cand)
            return ("sym", base[1], node.attr)
        return None

    def refs(self, nodes) -> set[tuple]:
        """The symbols ``nodes`` name, as ``(file, name)``."""
        hits = (self.resolve(n) for node in nodes for n in ast.walk(node)
                if isinstance(n, (ast.Name, ast.Attribute)))
        return {h[1:] for h in hits if h is not None and h[0] == "sym"}


def symbol_report(root: pathlib.Path = ROOT, roots: list[pathlib.Path] | None = None) -> list[str]:
    """One line per package symbol outside ``oracle/`` that no production
    root reaches; a symbol only ``oracle/`` reaches says to move it there.

    ``roots`` defaults to :func:`_roots`: a script counts everything it
    names, a stream module its public functions. Every ``@q`` query and
    every import-time statement of a package module is a root too.
    """
    package = root / "crossai_ts_spark"
    oracle = package / "oracle"
    mods: dict[pathlib.Path, _Module] = {}

    def mod(f: pathlib.Path) -> _Module:
        if f not in mods:
            mods[f] = _Module(f, root)
        return mods[f]

    def walk(start: set[tuple]) -> set[tuple]:
        seen: set[tuple] = set()
        todo = list(start)
        while todo:
            sym = todo.pop()
            if sym in seen or not sym[0].is_file():
                continue
            seen.add(sym)
            m = mod(sym[0])
            nxt = m.refs(m.tops.get(sym[1], []))
            b = m.bindings.get(sym[1])
            if sym[1] not in m.tops and b is not None and b[0] == "sym":
                nxt.add(b[1:])  # a re-export
            todo += nxt - seen
        return seen

    files = sorted(package.rglob("*.py"))
    prod: set[tuple] = set()
    by_oracle: set[tuple] = set()
    for f in _roots() if roots is None else roots:
        m = mod(f)
        if package in f.parents:
            prod |= {(f, n) for n, ns in m.tops.items()
                     if not n.startswith("_") and isinstance(ns[0], _FUNCS)}
        else:
            prod |= m.refs([ast.parse(f.read_text(), str(f))])
    for f in files:
        m = mod(f)
        if oracle in f.parents:
            by_oracle |= {(f, n) for n in m.tops} | m.refs(m.import_time)
        else:
            prod |= {(f, n) for n in m.registered} | m.refs(m.import_time)
    reached, by_oracle = walk(prod), walk(by_oracle)

    lines = []
    for f in files:
        if oracle in f.parents:
            continue
        rel = ".".join(p for p in f.relative_to(package).with_suffix("").parts if p != "__init__")
        for n in sorted(mod(f).tops):
            if n.startswith("__") or (f, n) in reached:
                continue
            if (f, n) in by_oracle:
                lines.append(f"{rel}:{n}: only oracle/ reaches it; move it to oracle/")
            else:
                lines.append(f"{rel}:{n}: no query, job, stream or benchmark reaches it")
    return lines


def test_every_package_symbol_is_reached():
    lines = symbol_report()
    assert not lines, "\n" + "\n".join(lines)


def test_symbol_walk_flags_each_form(tmp_path):
    """A test-only and an oracle-only function are flagged with their own
    messages; functions reached through an alias or a package re-export,
    and the helper a reached function calls, are not."""
    pkg = tmp_path / "crossai_ts_spark"
    (pkg / "oracle").mkdir(parents=True)
    (tmp_path / "jobs").mkdir()
    (pkg / "__init__.py").write_text("from .mod import via_init\n")
    (pkg / "mod.py").write_text(
        "def aliased():\n    return _helper()\n\n\n"
        "def _helper():\n    return 1\n\n\n"
        "def via_init():\n    return 2\n\n\n"
        "def test_only():\n    return 3\n\n\n"
        "def reference():\n    return 4\n"
    )
    (pkg / "oracle" / "__init__.py").write_text("")
    (pkg / "oracle" / "ref.py").write_text(
        "from ..mod import reference\n\n\ndef golden():\n    return reference()\n"
    )
    job = tmp_path / "jobs" / "job.py"
    job.write_text(
        "import crossai_ts_spark.mod as m\n"
        "from crossai_ts_spark import via_init\n\n"
        "m.aliased()\nvia_init()\n"
    )
    assert symbol_report(tmp_path, [job]) == [
        "mod:reference: only oracle/ reaches it; move it to oracle/",
        "mod:test_only: no query, job, stream or benchmark reaches it",
    ]
