"""Source guards. Every read and stream of a driver table in the query
registry goes through queries/common.py (t, raw_table, stream_table,
drain), so the events table's physical timestamp type — which the test
data has changed between generations — is handled in one place. And
every function or class of the core library is reached by code that is
not a test. Both scan source text only; they start no Spark."""

import ast
import pathlib

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
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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
    files = {p: p.read_text() for p in sorted(ROOT.rglob("*.py"))
             if not any(s == "tests" or s.startswith(".")
                        for s in p.relative_to(ROOT).parts)}
    modules = {_module(p) for p in files}
    # only a file that names the package can import from it
    trees = {p: ast.parse(t, str(p)) for p, t in files.items()
             if p.is_relative_to(CORE) or CORE.name in t}
    core = {p for p in trees
            if p.is_relative_to(CORE) and not p.is_relative_to(QUERIES)}
    defs = {_module(p): {s.name for s in trees[p].body
                         if isinstance(s, DEFS)} for p in core}
    exports = {}
    for p, tree in trees.items():
        if p.name == "__init__.py":
            for s in tree.body:
                if isinstance(s, ast.ImportFrom):
                    base = _import_base(s, _module(p), True)
                    exports.update({(_module(p), a.asname or a.name):
                                    (base, a.name) for a in s.names})

    def resolve(mod, name):
        while name not in defs.get(mod, ()):
            if (mod, name) not in exports:
                return None
            mod, name = exports[mod, name]
        return mod, name

    # the core names used by each core (module, name), and under None by
    # the code that always runs
    edges = {}
    for p, tree in trees.items():
        mod, init = _module(p), p.name == "__init__.py"
        aliases = {}  # local name -> the package module it is bound to
        for n in (n for s in tree.body for n in _statements(s)):
            if isinstance(n, ast.Import):
                aliases.update({a.asname or a.name.split(".")[0]:
                                a.name if a.asname else a.name.split(".")[0]
                                for a in n.names})
            elif isinstance(n, ast.ImportFrom):
                base = _import_base(n, mod, init)
                aliases.update({a.asname or a.name: f"{base}.{a.name}"
                                for a in n.names})
        aliases = {k: v for k, v in aliases.items() if v in modules}
        # only core files use names bare, and only a file holding a
        # package module can read ``module.name``: the rest use a core
        # name by importing it, a statement the shallow walk finds
        walk = ast.walk if p in core or aliases else _statements
        for s in tree.body:
            owner = (mod, s.name) if p in core and isinstance(s, DEFS) \
                else None
            if init and isinstance(s, ast.ImportFrom):
                continue  # a re-export
            used = edges.setdefault(owner, set())
            for n in walk(s):
                if isinstance(n, ast.ImportFrom):
                    base = _import_base(n, mod, init)
                    used.update(resolve(base, a.name) for a in n.names)
                elif isinstance(n, ast.Attribute):
                    path = _dotted(n.value)
                    head, _, rest = (path or "").partition(".")
                    if head in aliases:
                        used.add(resolve(
                            ".".join(filter(None, (aliases[head], rest))),
                            n.attr))
                elif (isinstance(n, ast.Name) and p in core
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
