"""Every package module, and every top-level symbol in it, is reached from
a production root; every keyword option of a package function takes two
values somewhere in the repo, and no required parameter takes one literal.

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
import re
from collections import defaultdict

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

    def __init__(self, f: pathlib.Path, root: pathlib.Path, source: str | None = None):
        self.f = f
        self.tree = tree = ast.parse(f.read_text() if source is None else source, str(f))
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


# symbols kept though nothing calls them, each with its reason
SYMBOL_EXEMPT = {
    "sources.io:write_table":
        "perfbench/workloads.py wraps it by name until a benchmark change drops the wrap",
}


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
            if n.startswith("__") or (f, n) in reached or f"{rel}:{n}" in SYMBOL_EXEMPT:
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


# -- parameters that take one value ------------------------------------------
#
# An option is a defaulted parameter of a top-level package function outside
# oracle/. Each call outside tests/ (the package with oracle/, jobs/, tools/,
# perfbench/, bench*.py, and the Python programs scripts hold in strings)
# gives a parameter a value: the literal it passes, the default when it omits
# it, the values of the caller's own parameter when it forwards that
# unchanged (none of its own when that parameter is exempt), and a value of
# its own for anything else, a module constant included. An option every such
# call sets alike is a constant, and so is a required parameter whose one
# value is a literal; a value only tests pass does not count, as tests steer
# through fixtures, Spark conf, oracle/ or a monkeypatched module constant.

OPTION_EXEMPT = {
    "operators.rollup:cascade(strategy)":
        "perfbench passes it until a benchmark change drops the argument",
    "streaming.rollup_stream:streaming_kmv(state_ttl_sec)": "bounds streaming state",
    "streaming.rollup_stream:incremental_tier1(state_ttl_sec)": "bounds streaming state",
    "streaming.rollup_stream:run_until_rows(timeout_sec)": "bounds a hang",
    "streaming.rollup_stream:run_to_memory(output_mode)":
        "only tests run the streams until a job or benchmark does",
    "streaming.rollup_stream:streaming_dedup(event_ts)":
        "only tests run the streams until a job or benchmark does",
    "datagen:gen_local(max_tok)":
        "the cap decides which RNG draws every test fixture gets",
}

_FMT = re.compile(r"\{\{|\}\}|\{[^{}]*\}")


def _sources(root: pathlib.Path) -> list[pathlib.Path]:
    files = sorted(root.glob("*.py"))
    for d in ("crossai_ts_spark", "jobs", "perfbench", "tools"):
        files += sorted((root / d).rglob("*.py"))
    return files


def _code_strings(tree: ast.AST):
    """The package-calling programs a file holds in string constants; a
    ``str.format`` template's fields read as a name."""
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Constant) and isinstance(n.value, str)
                and "crossai_ts_spark" in n.value and "\n" in n.value):
            continue
        for text in (n.value, _FMT.sub(lambda m: {"{{": "{", "}}": "}"}.get(m[0], "_"), n.value)):
            try:
                ast.parse(text)
            except SyntaxError:
                continue
            yield text
            break


def _params(fn: ast.AST) -> list[ast.arg]:
    a = fn.args
    return a.posonlyargs + a.args + a.kwonlyargs


def _defaults(fn: ast.AST) -> dict[str, ast.AST]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _literal(node: ast.AST):
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return ("lit", type(v).__name__, repr(v))


def _bound(fn: ast.AST, call: ast.Call, p: str):
    """The argument node ``call`` binds to parameter ``p`` of ``fn``: None
    when it omits it, ``...`` when a ``*``/``**`` argument may carry it."""
    for kw in call.keywords:
        if kw.arg == p:
            return kw.value
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if p in pos:
        i = pos.index(p)
        for j, a in enumerate(call.args):
            if isinstance(a, ast.Starred):
                return ...
            if j == i:
                return a
    if any(kw.arg is None for kw in call.keywords):
        return ...
    return None


def option_report(root: pathlib.Path = ROOT) -> list[str]:
    """One ``module:function(param)`` line per option that every call site
    sets to one value, and per required parameter that every call site
    passes one literal, outside :data:`OPTION_EXEMPT`."""
    package = root / "crossai_ts_spark"
    oracle = package / "oracle"
    mods: dict[pathlib.Path, _Module] = {}

    def mod(f: pathlib.Path) -> _Module:
        if f not in mods:
            mods[f] = _Module(f, root)
        return mods[f]

    for f in _sources(root):
        for i, text in enumerate(_code_strings(mod(f).tree)):
            fake = f.with_name(f"{f.name}<{i}>")
            mods[fake] = _Module(fake, root, text)

    def target(m: _Module, node: ast.AST):
        """The ``(file, name)`` of the function ``node`` names, re-exports followed."""
        hit, seen = m.resolve(node), set()
        while hit is not None and hit[0] == "sym" and hit[1:] not in seen:
            seen.add(hit[1:])
            if hit[1] not in mods and not hit[1].is_file():
                return None
            t = mod(hit[1])
            if any(isinstance(d, _FUNCS) for d in t.tops.get(hit[2], [])):
                return hit[1:]
            hit = t.bindings.get(hit[2])
        return None

    def fdef(key):
        return [d for d in mod(key[0]).tops[key[1]] if isinstance(d, _FUNCS)][-1]

    def label(f: pathlib.Path, name: str, p: str) -> str:
        rel = ".".join(x for x in f.relative_to(package).with_suffix("").parts if x != "__init__")
        return f"{rel}:{name}({p})"

    calls: dict[tuple, list] = defaultdict(list)  # (file, name) -> [(module, call, scope)]
    escaped: set[tuple] = set()  # functions passed around as values

    def visit(m: _Module, node: ast.AST, scope: tuple, callee: set):
        for c in ast.iter_child_nodes(node):
            if isinstance(c, ast.Call):
                t = target(m, c.func)
                if t is not None:
                    calls[t].append((m, c, scope))
                callee = callee | {id(c.func)}
            elif isinstance(c, (ast.Name, ast.Attribute)) and id(c) not in callee \
                    and isinstance(c.ctx, ast.Load):
                t = target(m, c)
                if t is not None:
                    escaped.add(t)
            inner = scope + (c,) if isinstance(c, (*_FUNCS, ast.Lambda, ast.ClassDef)) else scope
            visit(m, c, inner, callee)

    for m in list(map(mod, _sources(root))) + [m for f, m in mods.items() if not f.is_file()]:
        visit(m, m.tree, (), set())

    memo: dict[tuple, set] = {}

    def arg_values(m: _Module, node: ast.AST, scope: tuple) -> set:
        lit = _literal(node)
        if lit is not None:
            return {lit}
        if isinstance(node, ast.Name):
            for i in range(len(scope) - 1, -1, -1):
                fn = scope[i]
                if isinstance(fn, ast.ClassDef) or node.id not in {p.arg for p in _params(fn)}:
                    continue
                rebound = any(isinstance(n, ast.Name) and n.id == node.id
                              and not isinstance(n.ctx, ast.Load) for n in ast.walk(fn))
                if i == 0 and not isinstance(fn, ast.Lambda) and not rebound:
                    return values((m.f, fn.name, node.id))  # forwarded unchanged
                break
        return {("opaque", str(m.f), node.lineno, node.col_offset)}

    def values(key: tuple) -> set:
        if key in memo:
            return memo[key]
        memo[key] = set()  # a forwarding cycle adds nothing
        f, name, p = key
        fn = fdef((f, name))
        default = _defaults(fn).get(p)
        dflt = set() if default is None else {_literal(default) or ("expr", str(f), ast.dump(default))}
        sites = calls.get((f, name), [])
        if (f, name) in escaped or (not sites and default is None) \
                or (package in f.parents and label(f, name, p) in OPTION_EXEMPT):
            out = {("opaque", key)}
        elif not sites:
            out = dflt
        else:
            out = set()
            for m, call, scope in sites:
                arg = _bound(fn, call, p)
                if arg is ...:
                    out.add(("opaque", str(m.f), call.lineno, call.col_offset))
                elif arg is None:
                    out |= dflt or {("opaque", key)}
                else:
                    out |= arg_values(m, arg, scope)
        memo[key] = out
        return out

    lines = []
    for f in sorted(package.rglob("*.py")):
        if oracle in f.parents:
            continue
        for name in sorted(mod(f).tops):
            if not any(isinstance(d, _FUNCS) for d in mod(f).tops[name]):
                continue
            fn = fdef((f, name))
            defaults = _defaults(fn)
            for p in [a.arg for a in _params(fn)]:
                line, vals = label(f, name, p), values((f, name, p))
                one = len(vals) <= 1 if p in defaults else \
                    len(vals) == 1 and next(iter(vals))[0] == "lit"
                if one and line not in OPTION_EXEMPT:
                    lines.append(line)
    return lines


def test_every_option_takes_two_values():
    lines = option_report()
    assert not lines, ("parameters every call site sets alike; make each a constant:\n"
                       + "\n".join(lines))


def test_option_walk_flags_each_form(tmp_path):
    """An option every call outside tests/ sets alike is flagged, also when
    a test passes it a second value and when it reaches the option through
    a caller's forwarded parameter; one that gets a second value from a
    jobs/ caller through an aliased import, and one whose caller forwards
    its own two-valued parameter, are not. A required parameter every call
    passes one literal is flagged; one fed a module constant, and one
    forwarded from an exempt option, are not."""
    pkg = tmp_path / "crossai_ts_spark"
    pkg.mkdir()
    (tmp_path / "jobs").mkdir()
    (tmp_path / "tests").mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text(
        "N = 3\n\n\n"
        "def planted(x, w=4):\n    return x * w\n\n\n"
        "def aliased(x, k=8):\n    return x + k\n\n\n"
        "def forwarded(x, n=2):\n    return x - n\n\n\n"
        "def outer(x, n=2):\n    return forwarded(x, n=n)\n\n\n"
        "def relay(x, m=1):\n    return x + m\n\n\n"
        "def outer_one(x, m=1):\n    return relay(x, m)\n\n\n"
        "def keyed(x, key):\n    return x[key]\n\n\n"
        "def const_fed(x, n):\n    return x * n\n"
    )
    (pkg / "datagen.py").write_text(
        "def _doc(i, max_tok):\n    return i\n\n\n"
        "def gen_local(seed, max_tok=None):\n    return _doc(seed, max_tok)\n"
    )
    (tmp_path / "jobs" / "job.py").write_text(
        "import crossai_ts_spark.mod as cm\n"
        "from crossai_ts_spark.datagen import gen_local\n"
        "from crossai_ts_spark.mod import N, aliased, const_fed, keyed, outer, outer_one, planted\n\n"
        "X = object()\n"
        "planted(X, w=4)\naliased(X)\ncm.aliased(X, k=16)\nouter(X)\ncm.outer(X, n=3)\n"
        "outer_one(X, m=1)\nkeyed(X, 'k')\ncm.keyed(X, 'k')\nconst_fed(X, N)\ngen_local(X)\n"
    )
    (tmp_path / "tests" / "test_mod.py").write_text(
        "import crossai_ts_spark.mod as m\n\n\n"
        "def test_it():\n    m.planted(2, w=5)\n    m.relay(2, m=3)\n    m.keyed({}, 'j')\n"
    )
    assert option_report(tmp_path) == [
        "mod:keyed(key)", "mod:outer_one(m)", "mod:planted(w)", "mod:relay(m)",
    ]
