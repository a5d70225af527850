"""Every option has a caller, and more than one value: an AST scan of
every ``.py`` in the repo finds each defaulted parameter of a function
under ``etl_orders_spark/`` and the value every call gives it.

Scan rules:
- a call matches a function by the callee's bare name, with import and
  assignment aliases resolved (chains included);
- a call with ``*args`` or ``**kw``, and a function used as a value
  (passed, stored or returned rather than called), set every
  parameter to an unknown value;
- an omitted argument takes the default;
- values are compared by value: literals, tuples of literals and
  arithmetic on them, with module constants resolved (imported ones
  too); anything else is an unknown value, unequal to all others.

A defaulted parameter fails when every call passes it (the default is
never used) or when every call gives it one and the same known value
(it is a constant, not an option). Spark-free; run this file as a
script to print the counts."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "etl_orders_spark"

# (module, function, parameter) -> why the scan's finding does not hold
_EXEMPT = {
    ("run_pipeline", "main", "argv"): "bare-name collision: the other main()s are other programs' entry points",
    ("sources.readers", "read_orc", "schema"): "the readers' read_*/load_* signatures are the traced benchmark surface",
}

_UNKNOWN = object()
_OMITTED = object()


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _files() -> dict[str, ast.Module]:
    trees = {}
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).parts
        if any(p.startswith(".") or p in ("spark-warehouse", "__pycache__") for p in rel):
            continue
        trees[_module_name(path)] = ast.parse(path.read_text(), str(path))
    return trees


def _import_aliases(module: str, tree: ast.Module) -> dict[str, tuple[str, str]]:
    """local name -> (source module, name) for every ``from X import``."""
    out = {}
    package = module.split(".")
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            src = node.module or ""
            if node.level:
                src = ".".join(package[: len(package) - node.level] + ([src] if src else []))
            for a in node.names:
                out[a.asname or a.name] = (src, a.name)
    return out


def _bare(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


class _Scan:
    def __init__(self) -> None:
        self.trees = _files()
        self.imports = {m: _import_aliases(m, t) for m, t in self.trees.items()}
        self.consts: dict[str, dict[str, ast.expr]] = {}
        self.aliases: dict[str, dict[str, str]] = {}
        for m, tree in self.trees.items():
            consts = self.consts[m] = {}
            for node in tree.body:
                if isinstance(node, ast.AnnAssign) and node.value and isinstance(node.target, ast.Name):
                    consts[node.target.id] = node.value
                for t in node.targets if isinstance(node, ast.Assign) else ():
                    if isinstance(t, ast.Name):
                        consts[t.id] = node.value
                    elif isinstance(t, ast.Tuple) and isinstance(node.value, ast.Tuple):
                        consts.update(
                            (n.id, v) for n, v in zip(t.elts, node.value.elts) if isinstance(n, ast.Name)
                        )
            # every plain ``a = b`` / ``a = x.b`` in the file, any scope
            self.aliases[m] = {
                t.id: _bare(node.value)
                for node in ast.walk(tree)
                if isinstance(node, ast.Assign) and _bare(node.value)
                for t in node.targets
                if isinstance(t, ast.Name)
            }

    def canonical(self, module: str, name: str) -> str:
        seen = set()
        while name not in seen:
            seen.add(name)
            if name in self.imports[module]:
                name = self.imports[module][name][1]
            elif name in self.aliases[module]:
                name = self.aliases[module][name]
            else:
                break
        return name

    def value(self, module: str, node: ast.expr, depth: int = 0):
        """The expression's value, or _UNKNOWN."""
        if depth > 20:
            return _UNKNOWN
        if isinstance(node, ast.Constant):
            return node.value
        if isinstance(node, (ast.Tuple, ast.List)):
            items = tuple(self.value(module, e, depth + 1) for e in node.elts)
            return _UNKNOWN if _UNKNOWN in items else items
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            v = self.value(module, node.operand, depth + 1)
            return -v if isinstance(v, (int, float)) else _UNKNOWN
        if isinstance(node, ast.BinOp):
            a, b = self.value(module, node.left, depth + 1), self.value(module, node.right, depth + 1)
            if isinstance(a, (int, float)) and isinstance(b, (int, float)):
                try:
                    return {ast.Add: a + b, ast.Sub: a - b, ast.Mult: a * b}[type(node.op)]
                except KeyError:
                    return _UNKNOWN
            return _UNKNOWN
        if isinstance(node, ast.Name):
            if node.id in self.consts.get(module, {}):
                return self.value(module, self.consts[module][node.id], depth + 1)
            src = self.imports.get(module, {}).get(node.id)
            if src and src[0] in self.consts and src[1] in self.consts[src[0]]:
                return self.value(src[0], self.consts[src[0]][src[1]], depth + 1)
        return _UNKNOWN

    def defs(self):
        """(module, qualname, FunctionDef, is_method) for every function
        under the package."""
        out = []

        def walk(node, module, scope, in_class):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    method = in_class and not any(_bare(d) == "staticmethod" for d in child.decorator_list)
                    out.append((module, ".".join([*scope, child.name]), child, method))
                    walk(child, module, [*scope, child.name], False)
                elif isinstance(child, ast.ClassDef):
                    walk(child, module, [*scope, child.name], True)
                else:
                    walk(child, module, scope, in_class)

        for m, tree in self.trees.items():
            if m == PACKAGE or m.startswith(PACKAGE + "."):
                walk(tree, m[len(PACKAGE) + 1 :], [], False)
        return out

    def uses(self):
        """canonical name -> [(module, Call or None)]; None marks a use as
        a value, which sets everything."""
        out: dict[str, list] = {}
        for m, tree in self.trees.items():
            called = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and _bare(node.func):
                    called.add(id(node.func))
                    out.setdefault(self.canonical(m, _bare(node.func)), []).append((m, node))
            aliasing = {
                id(node.value) for node in ast.walk(tree) if isinstance(node, ast.Assign) and _bare(node.value)
            }
            for node in ast.walk(tree):
                if (
                    isinstance(node, (ast.Name, ast.Attribute))
                    and isinstance(node.ctx, ast.Load)
                    and id(node) not in called
                    and id(node) not in aliasing
                ):
                    out.setdefault(self.canonical(m, _bare(node)), []).append((m, None))
        return out


def _defaults(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    """param -> default expression, for every defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(positional[len(positional) - len(a.defaults) :], a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _bind(fn: ast.FunctionDef, skip_self: bool, module: str, call, scan: _Scan):
    """param -> the value one use gives each defaulted parameter
    (_OMITTED where the call leaves it out), or None when the call
    cannot be to ``fn``. ``call`` None is a use as a value."""
    a = fn.args
    defaults = _defaults(fn)
    if call is None or any(isinstance(x, ast.Starred) for x in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return dict.fromkeys(defaults, _UNKNOWN)
    positional = [p.arg for p in a.posonlyargs + a.args][1 if skip_self else 0 :]
    if len(call.args) > len(positional) and a.vararg is None:
        return None
    given = {p: scan.value(module, x) for p, x in zip(positional, call.args)}
    for k in call.keywords:
        if k.arg in positional or k.arg in {p.arg for p in a.kwonlyargs}:
            given[k.arg] = scan.value(module, k.value)
        elif a.kwarg is None:
            return None
    return {p: given.get(p, _OMITTED) for p in defaults}


def _same(values: list) -> bool:
    """All values known and equal (1 == 1.0, but True != 1)."""
    if _UNKNOWN in values:
        return False
    keys = {
        ("num", float(v)) if isinstance(v, (int, float)) and not isinstance(v, bool) else (type(v), v)
        for v in values
    }
    return len(keys) == 1


def scan():
    """(defaulted, settable, one_valued, always_passed): the
    defaulted parameters under the package, the settable values
    (defaulted parameters plus ``**kw`` pass-throughs), and the
    (module, function, param) keys of the two failing kinds."""
    s = _Scan()
    uses = s.uses()
    defaulted, settable, one_valued, always_passed = [], 0, [], []
    for module, qual, fn, method in s.defs():
        home = f"{PACKAGE}.{module}"
        # a class's __init__ is called through the class name
        sites = uses.get(qual.split(".")[-2] if fn.name == "__init__" else fn.name, [])
        settable += fn.args.kwarg is not None
        bound = []
        for m, call in sites:
            skip = method and (fn.name == "__init__" or call is None or isinstance(call.func, ast.Attribute))
            b = _bind(fn, skip, m, call, s)
            if b is not None:
                bound.append(b)
        for p, default in _defaults(fn).items():
            key = (module, qual, p)
            defaulted.append(key)
            if not bound:
                continue
            if all(b[p] is not _OMITTED for b in bound):
                always_passed.append(key)
            if _same([s.value(home, default) if b[p] is _OMITTED else b[p] for b in bound]):
                one_valued.append(key)
    settable += len(defaulted)
    return defaulted, settable, one_valued, always_passed


def test_every_default_is_used_and_every_option_varies():
    """A defaulted parameter that every call passes loses its default;
    one that every call gives the same value becomes a constant. Only
    the listed exemptions, each still a finding, may stay."""
    _, _, one_valued, always_passed = scan()
    found = set(one_valued) | set(always_passed)
    unlisted = sorted(found - set(_EXEMPT))
    assert not unlisted, f"{len(unlisted)} parameters with one value or an unused default: {unlisted}"
    stale = sorted(set(_EXEMPT) - found)
    assert not stale, f"exemptions the scan no longer finds: {stale}"


if __name__ == "__main__":
    defaulted, settable, one_valued, always_passed = scan()
    print(f"defaulted {len(defaulted)}  settable {settable}")
    print(f"one value at every call: {len(one_valued)}")
    for k in one_valued:
        print("  ", *k)
    rest = [k for k in always_passed if k not in set(one_valued)]
    print(f"passed by every call, values vary: {len(rest)}")
    for k in rest:
        print("  ", *k)
