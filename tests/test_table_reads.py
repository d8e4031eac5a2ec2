"""Source guards. Every read and stream of a driver table in the query
registry goes through queries/common.py (t, raw_table, stream_table,
drain), so the events table's physical timestamp type — which the test
data has changed between generations — is handled in one place. Every
function or class of the core library, and every private module-level
name of the registry, is used by code that is not a test. And every
defaulted parameter of a package function is set by code that is not a
test. All of them scan source text only; they start no Spark."""

import ast
import functools
import pathlib
from typing import NamedTuple

QUERIES = (pathlib.Path(__file__).resolve().parent.parent
           / "arangodb_java_parquet_spark" / "queries")
# the nanos conf, a hand-rolled stream source or memory sink, and a direct
# scan of a driver table
FORBIDDEN = ("nanosAsLong", "readStream", 'format("memory")',
             'spark.read.parquet(f"{sf_dir}')


def test_only_common_reads_driver_tables():
    offenders = [f"{p.relative_to(QUERIES)}: {pat}"
                 for p in sorted(QUERIES.rglob("*.py"))
                 if p.name != "common.py"
                 for pat in FORBIDDEN if pat in p.read_text()]
    assert not offenders, offenders
    # the patterns match the real code they guard
    common = (QUERIES / "common.py").read_text()
    assert all(pat in common for pat in FORBIDDEN)


ROOT = QUERIES.parent.parent
CORE = QUERIES.parent
# core names that only a test reaches, on purpose, with the reason
TEST_ONLY = {
    "ivf_fit_centroids_distributed":
        "the cluster-shaped Lloyd loop that "
        "tests/test_similarity.py::test_ivf_driver_fit_matches_distributed "
        "holds ivf_fit_centroids to, at magnitudes no frozen artifact "
        "covers",
    "is_python_free":
        "the no-Python plan rule that the registry-wide gate in "
        "tests/conftest.py and the hot-path checks in tests/test_plans.py "
        "apply",
}
# defaulted parameters that only a test sets, on purpose: (function,
# parameter) -> (the test that sets it, why it needs another value)
TEST_SET = {
    ("cap_per_group", "n_salts"): (
        "tests/test_curation.py::test_cap_per_group_mega_group_is_salted",
        "holds the salted default to the unsalted n_salts=1 formulation"),
    ("connected_components", "max_iter"): (
        "tests/test_curation.py::"
        "test_connected_components_raises_when_unconverged",
        "reaches the unconverged RuntimeError with max_iter=2"),
    ("encode_wav", "n_channels"): (
        "tests/test_multimodal.py::test_decode_wav_sample_exact",
        "feeds decode_wav a stereo file"),
    ("ivf_fit_centroids_distributed", "n_iter"): (
        "tests/test_similarity.py::test_ivf_driver_fit_matches_distributed",
        "runs the reference loop at the stored model's n_iter=2"),
    **{(fn, bound): (
        "tests/test_sketches.py::"
        "test_quantile_sketch_lazy_bounds_matches_literals",
        "holds the lazy bounds frame to the literal-bounds arithmetic")
       for fn in ("quantile_sketch_hist", "quantile_sketch_estimate")
       for bound in ("lo", "hi")},
    **{("ArangoCollectionSink.__init__", cred): (
        "tests/test_loader.py::test_arango_sink_logs_in_with_its_credentials",
        "credentials are a deployment setting: a server with "
        "authentication needs the loader's own")
       for cred in ("username", "password")},
}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _module(path):
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _import_base(node, mod, is_init):
    """The absolute module a ``from ... import`` statement reads from."""
    if not node.level:
        return node.module
    pkg = mod.split(".")
    pkg = pkg[:len(pkg) - node.level + (1 if is_init else 0)]
    return ".".join(pkg + ([node.module] if node.module else []))


def _statements(node):
    """A statement and every statement in its blocks, at any depth."""
    yield node
    for block in ("body", "orelse", "finalbody", "handlers"):
        for child in getattr(node, block, ()):
            yield from _statements(child)


def _dotted(node):
    """``a.b.c`` for a Name/Attribute chain, else None."""
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return base and f"{base}.{node.attr}"
    return node.id if isinstance(node, ast.Name) else None


class Package(NamedTuple):
    trees: dict      # path -> AST of each non-test file that can import it
    core: set        # the core library's paths (the package minus queries/)
    defs: dict       # package module -> {top-level def name: node}
    exports: dict    # (__init__ module, name) -> (module, name) re-exported
    modules: dict    # path -> {local name: package module it is bound to}
    names: dict      # path -> {local name: (module, name) it imports}

    def resolve(self, mod, name):
        """The (module, name) that defines ``mod.name``, else None."""
        while name not in self.defs.get(mod, ()):
            if (mod, name) not in self.exports:
                return None
            mod, name = self.exports[mod, name]
        return mod, name

    def target(self, path, node):
        """The package (module, name) a Name/Attribute expression in
        ``path`` denotes, else None."""
        if isinstance(node, ast.Name):
            mod = _module(path)
            if path.is_relative_to(CORE) and node.id in self.defs[mod]:
                return mod, node.id
            return self.names[path].get(node.id)
        if isinstance(node, ast.Attribute):
            head, _, rest = (_dotted(node.value) or "").partition(".")
            if head in self.modules[path]:
                return self.resolve(".".join(filter(None, (
                    self.modules[path][head], rest))), node.attr)
        return None


@functools.cache
def _package():
    """Every non-test file parsed once, with the import resolution the
    guards share."""
    files = {p: p.read_text() for p in sorted(ROOT.rglob("*.py"))
             if not any(s == "tests" or s.startswith(".")
                        for s in p.relative_to(ROOT).parts)}
    known = {_module(p) for p in files}
    # only a file that names the package can import from it
    trees = {p: ast.parse(t, str(p)) for p, t in files.items()
             if p.is_relative_to(CORE) or CORE.name in t}
    core = {p for p in trees
            if p.is_relative_to(CORE) and not p.is_relative_to(QUERIES)}
    defs = {_module(p): {s.name: s for s in trees[p].body
                         if isinstance(s, DEFS)}
            for p in trees if p.is_relative_to(CORE)}
    exports = {}
    for p, tree in trees.items():
        if p.name == "__init__.py":
            for s in tree.body:
                if isinstance(s, ast.ImportFrom):
                    base = _import_base(s, _module(p), True)
                    exports.update({(_module(p), a.asname or a.name):
                                    (base, a.name) for a in s.names})
    pkg = Package(trees, core, defs, exports, {}, {})
    for p, tree in trees.items():
        mod, init = _module(p), p.name == "__init__.py"
        modules, names = {}, {}
        for n in (n for s in tree.body for n in _statements(s)):
            if isinstance(n, ast.Import):
                modules.update({a.asname or a.name.split(".")[0]:
                                a.name if a.asname else a.name.split(".")[0]
                                for a in n.names})
            elif isinstance(n, ast.ImportFrom):
                base = _import_base(n, mod, init)
                for a in n.names:
                    local = a.asname or a.name
                    if f"{base}.{a.name}" in known:
                        modules[local] = f"{base}.{a.name}"
                    elif found := pkg.resolve(base, a.name):
                        names[local] = found
        pkg.modules[p] = {k: v for k, v in modules.items() if v in known}
        pkg.names[p] = names
    return pkg


def test_core_library_has_no_unreached_names():
    """Every top-level function or class of the core library (the package
    outside queries/) is reached from code that is not a test: the
    package, the registry, tools, examples, bench.py, perfbench/ or the
    driver entry. A core name counts as used only when
      (a) another statement of its own module names it,
      (b) a non-test file imports it from its module, or from a package
          ``__init__`` that re-exports it (the re-export alone is no use),
      (c) a non-test file that imports its module reads ``module.name``.
    A use inside a core function or class counts only once that one is
    reached itself, so a name that only unreached code uses is reported
    too. A name that only tests reach is surface nothing uses."""
    pkg = _package()
    defs = {_module(p): set(pkg.defs[_module(p)]) for p in pkg.core}
    # the core names used by each core (module, name), and under None by
    # the code that always runs
    edges = {}
    for p, tree in pkg.trees.items():
        mod, init = _module(p), p.name == "__init__.py"
        # only core files use names bare, and only a file holding a
        # package module can read ``module.name``: the rest use a core
        # name by importing it, a statement the shallow walk finds
        walk = ast.walk if p in pkg.core or pkg.modules[p] else _statements
        for s in tree.body:
            owner = (mod, s.name) if p in pkg.core and isinstance(s, DEFS) \
                else None
            if init and isinstance(s, ast.ImportFrom):
                continue  # a re-export
            used = edges.setdefault(owner, set())
            for n in walk(s):
                if isinstance(n, ast.ImportFrom):
                    base = _import_base(n, mod, init)
                    used.update(pkg.resolve(base, a.name) for a in n.names)
                elif isinstance(n, ast.Attribute):
                    used.add(pkg.target(p, n))
                elif (isinstance(n, ast.Name) and p in pkg.core
                      and n.id in defs[mod] and (mod, n.id) != owner):
                    used.add((mod, n.id))

    reached = set()
    todo = [None, *((m, n) for m in defs for n in defs[m] if n in TEST_ONLY)]
    while todo:
        for k in edges.get(todo.pop(), ()):
            if k and k not in reached:
                reached.add(k)
                todo.append(k)
    unreached = sorted(f"{m}:{n}" for m in defs for n in defs[m]
                       if (m, n) not in reached and n not in TEST_ONLY)
    assert not unreached, unreached
    # an allowlisted name that is gone or now reached leaves the list
    test_only = {n for m in defs for n in defs[m]
                 if n in TEST_ONLY and (m, n) not in reached}
    assert test_only == set(TEST_ONLY), test_only


def test_registry_has_no_unused_private_names():
    """Every private (``_``-prefixed) module-level name of a registry
    module under queries/ — a constant, function or class — is named
    somewhere other than where it is bound: in its own module, or
    imported or read as ``module.name`` by another non-test file."""
    pkg = _package()
    private = set()
    for p, tree in pkg.trees.items():
        if not p.is_relative_to(QUERIES):
            continue
        for s in tree.body:
            if isinstance(s, DEFS):
                bound = [s.name]
            else:
                targets = getattr(s, "targets", [getattr(s, "target", None)])
                bound = [n.id for t in targets if t for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            private.update((_module(p), n) for n in bound
                           if n.startswith("_") and not n.startswith("__"))
    used = set()
    for p, tree in pkg.trees.items():
        mod, init = _module(p), p.name == "__init__.py"
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                used.add((mod, n.id))
            elif isinstance(n, ast.ImportFrom):
                base = _import_base(n, mod, init)
                used.update((base, a.name) for a in n.names)
            elif isinstance(n, ast.Attribute):
                head, _, rest = (_dotted(n.value) or "").partition(".")
                if head in pkg.modules[p]:
                    used.add((".".join(filter(None, (pkg.modules[p][head],
                                                     rest))), n.attr))
    unused = sorted(f"{m}:{n}" for m, n in private - used)
    assert not unused, unused


def _defaulted(fn, bound):
    """(positional parameter names, defaulted parameter names) of ``fn``,
    the first ``bound`` positional ones filled by the call itself."""
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    dflt = pos[len(pos) - len(a.defaults):] + [
        x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return pos[bound:], set(dflt) - set(pos[:bound])


def test_every_defaulted_parameter_is_set():
    """Every defaulted parameter of a package function (top-level, or a
    method of a top-level class) is set by some call in a non-test file:
    a keyword, a positional argument at its place, or a ``*``/``**``
    spread. A parameter that no such call sets has one value in use, so
    it is a constant with a setting around it. Calls count through
    import aliases and package re-exports, ``module.name`` reads, class
    instantiation (``__init__``) and ``df.transform(fn, ...)``; a method
    counts as called by any ``x.name(...)`` of its name. Parameters that
    only a test sets must be listed, with the test and its reason, in
    ``TEST_SET``."""
    pkg = _package()
    funcs, methods = {}, {}  # key -> (node, positional slots bound)
    for mod, defs in pkg.defs.items():
        for name, s in defs.items():
            if isinstance(s, FUNCS):
                funcs[mod, name] = (s, 0)
                continue
            for f in s.body:
                if isinstance(f, FUNCS):
                    static = any(getattr(d, "id", None) == "staticmethod"
                                 for d in f.decorator_list)
                    key = (mod, f"{name}.{f.name}")
                    funcs[key] = (f, 0 if static else 1)
                    if not f.name.startswith("__"):
                        methods.setdefault(f.name, []).append(key)

    def callees(path, node):
        found = pkg.target(path, node)
        if found is None:
            return []
        mod, name = found
        if isinstance(pkg.defs[mod][name], ast.ClassDef):
            return [k for k in [(mod, f"{name}.__init__")] if k in funcs]
        return [found]

    setp = {}
    for p, tree in pkg.trees.items():
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            calls = [(k, n.args) for k in callees(p, n.func)]
            if not calls and isinstance(n.func, ast.Attribute):
                calls = [(k, n.args) for k in methods.get(n.func.attr, ())]
            if (isinstance(n.func, ast.Attribute) and n.args
                    and n.func.attr == "transform"):
                # df.transform(fn, *args): fn(df, *args)
                calls += [(k, [None, *n.args[1:]])
                          for k in callees(p, n.args[0])]
            for k, args in calls:
                fn, bound = funcs[k]
                pos, _ = _defaulted(fn, bound)
                got = setp.setdefault(k, set())
                for i, arg in enumerate(args):
                    if isinstance(arg, ast.Starred):
                        got.update(pos[i:])
                        break
                    got.update(pos[i:i + 1])
                for kw in n.keywords:
                    got.update([kw.arg] if kw.arg else
                               _defaulted(fn, bound)[1])
    unset = {(k[1], d) for k, (fn, bound) in funcs.items()
             for d in _defaulted(fn, bound)[1] - setp.get(k, set())}
    stray = sorted(f"{n}({d}=)" for n, d in unset - set(TEST_SET))
    assert not stray, stray
    # an entry whose parameter is gone, or now set by the program, leaves
    # the list; each names a test that exists
    assert set(TEST_SET) <= unset, set(TEST_SET) - unset
    for test, _ in TEST_SET.values():
        file, _, name = test.partition("::")
        assert f"def {name}(" in (ROOT / file).read_text(), test
