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


# a band hash over MinHash signature columns, and an SRP bucket's CASE sum
LAYOUTS = ("md5(h0", "embedding[1] > 0 THEN")


def test_lsh_layouts_are_spelled_once():
    """The LSH band layout and the SRP bucket are decisions of
    operators/dedup and operators/similarity. On the oracle side each is
    built from their constants by one helper (queries/text_pipeline.py:
    lsh_bands_cte_sql, lsh_pairs_cte_sql, capped_pairs_cte_sql;
    queries/common.py: srp_bucket_sql), so no file under queries/ spells
    one out."""
    from arangodb_java_parquet_spark.queries import common, text_pipeline
    offenders = [f"{p.relative_to(QUERIES)}: {pat}"
                 for p in sorted(QUERIES.rglob("*.py"))
                 for pat in LAYOUTS if pat in p.read_text()]
    assert not offenders, offenders
    # the patterns match what the helpers build
    built = (text_pipeline.lsh_pairs_cte_sql("pairs")
             + text_pipeline.capped_pairs_cte_sql(4, "pairs")
             + common.srp_bucket_sql(4))
    assert all(pat in built for pat in LAYOUTS)


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
    ("decode_avi_frames", "every_n"): (
        "tests/test_multimodal.py::test_decode_avi_frame_exact",
        "samples a second stride (every_n=3) of the same AVI"),
    ("frame_sample_stub", "every_n"): (
        "tests/test_multimodal.py::test_frame_sample_explodes",
        "checks the sampled frame indices at every_n=2"),
    ("hash_sample", "stratum_col"): (
        "tests/test_curation.py::"
        "test_hash_sample_deterministic_and_rate_monotone",
        "holds the unstratified single-rate rule that the per-stratum "
        "rates build on"),
    ("pagerank_fixed", "iterations"): (
        "tests/test_curation.py::test_pagerank_fixed_star_graph_exact",
        "checks two hand-computed iterations on a star graph"),
    ("salted_join", "n_salts"): (
        "tests/test_scd_skew.py::test_salted_join_spreads_hot_key",
        "fans a hot key out over 4 salts, a count the test checks by hand"),
    **{("semdedup_prune", p): (
        "tests/test_curation.py::"
        "test_semdedup_prune_drops_higher_id_near_dup",
        "puts a three-vector frame in one cell (cent_mod=3) and prunes "
        "only the near-identical pair (tau=0.9)")
       for p in ("cent_mod", "tau")},
    ("topk_cosine_lsh", "n_bits"): (
        "tests/test_similarity.py::test_lsh_recall_vs_bruteforce",
        "measures recall at 2 bits, where the buckets of the 64-dim test "
        "vectors hold enough true neighbours to bound it"),
    ("zorder_key", "n_bits"): (
        "tests/test_sources.py::test_write_zordered_skips_on_both_dims",
        "interleaves two 6-bit dimensions for a small Z-ordered layout"),
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
    **{("ArangoCollectionSink.__init__", conn): (
        "tests/test_loader.py::test_arango_sink_logs_in_with_its_credentials",
        "the server address, database and credentials are a deployment "
        "setting: a real server needs the loader's own")
       for conn in ("url", "database", "username", "password")},
}
# defaulted parameters that mirror the reference's public load API, and
# so keep the setting it offers: (function, parameter) -> why
MIRRORS_REFERENCE = {
    ("stream_load_to_collection", "batch_size"):
        "the batchSize of ParquetArangoLoader.java, the one tuning setting "
        "of the reference's load API, which ParquetLoader.load keeps too",
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


# an argument that is not one literal value, and an omitted one
_VARIES, _DEFAULT = object(), object()


def _literal(node, consts=None):
    """The repr of a literal expression's value (a name bound to a
    literal in ``consts`` counts), else ``_VARIES``."""
    if isinstance(node, ast.Name) and node.id in (consts or {}):
        return consts[node.id]
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        return _VARIES


def test_every_defaulted_parameter_is_set():
    """Every defaulted parameter of a package function (top-level, or a
    method of a top-level class) takes two or more values in the calls
    of non-test files: a parameter is set by a keyword, a positional
    argument at its place, or a ``*``/``**`` spread, and a call that
    omits it gives it its default. A parameter whose every such call
    gives it one literal value (the default counts when it is a
    literal) has one value in use, so it is a constant with a setting
    around it. Calls count through import aliases and package
    re-exports, ``module.name`` reads, class instantiation (``__init__``)
    and ``df.transform(fn, ...)``; a method counts as called by any
    ``x.name(...)`` of its name. Parameters that only a test sets to
    another value must be listed, with the test and its reason, in
    ``TEST_SET``; a parameter that mirrors the reference's public load
    API is listed, with that reason, in ``MIRRORS_REFERENCE``."""
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

    # (key, parameter) -> the values its non-test calls give it
    values = {}
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
                pos, dflt = _defaulted(fn, bound)
                given = {}
                for i, arg in enumerate(args):
                    if isinstance(arg, ast.Starred):
                        given.update(dict.fromkeys(pos[i:], _VARIES))
                        break
                    given.update(zip(pos[i:i + 1], [_literal(arg)]))
                for kw in n.keywords:
                    given.update({kw.arg: _literal(kw.value)} if kw.arg
                                 else dict.fromkeys(dflt, _VARIES))
                for d in dflt:
                    values.setdefault((k, d), []).append(
                        given.get(d, _DEFAULT))
    # each module's top-level names bound to a literal, for defaults
    consts = {_module(p): {t.id: v for s in tree.body
                           if isinstance(s, ast.Assign)
                           for t in s.targets if isinstance(t, ast.Name)
                           if (v := _literal(s.value)) is not _VARIES}
              for p, tree in pkg.trees.items() if p.is_relative_to(CORE)}
    flagged = set()
    for k, (fn, bound) in funcs.items():
        a = fn.args
        defaults = dict(zip([x.arg for x in a.posonlyargs + a.args][
            ::-1], a.defaults[::-1]))
        defaults.update((x.arg, d) for x, d in zip(a.kwonlyargs,
                                                   a.kw_defaults) if d)
        for d in _defaulted(fn, bound)[1]:
            # a default that is no literal still is one value
            dflt = _literal(defaults[d], consts[k[0]])
            if dflt is _VARIES:
                dflt = ast.dump(defaults[d])
            got = {dflt if v is _DEFAULT else v
                   for v in values.get((k, d), [_DEFAULT])}
            if len(got) == 1 and _VARIES not in got:
                flagged.add((k[1], d))
    stray = sorted(f"{n}({d}=)" for n, d in
                   flagged - set(TEST_SET) - set(MIRRORS_REFERENCE))
    assert not stray, stray
    # an entry whose parameter is gone, or now given two values by the
    # program, leaves the list; each names a test that exists
    listed = set(TEST_SET) | set(MIRRORS_REFERENCE)
    assert listed <= flagged, listed - flagged
    for test, _ in TEST_SET.values():
        file, _, name = test.partition("::")
        assert f"def {name}(" in (ROOT / file).read_text(), test


def _bind_errors(fn, bound, args, keywords):
    """How a call with ``args``/``keywords`` fails to bind to ``fn``'s
    signature, its first ``bound`` positional slots filled by the call
    itself: unknown or repeated keywords, extra positional arguments,
    missing required arguments. A ``*``/``**`` spread hides what it
    fills, so only what the call spells out is checked."""
    a = fn.args
    names = [x.arg for x in a.posonlyargs + a.args]
    pos = names[bound:]
    posonly = {x.arg for x in a.posonlyargs}
    required = set(names[:len(names) - len(a.defaults)][bound:]) | {
        x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is None}
    starred = any(isinstance(x, ast.Starred) for x in args)
    spread = any(k.arg is None for k in keywords)
    n = sum(not isinstance(x, ast.Starred) for x in args)
    errors = []
    if n > len(pos) and not a.vararg:
        errors.append(f"{n} positional arguments for {len(pos)}")
    given = set(pos[:n])
    for k in keywords:
        if k.arg is None:
            continue
        if k.arg in given:
            errors.append(f"{k.arg}= given twice")
        elif ((k.arg in posonly or k.arg not in pos + [
                x.arg for x in a.kwonlyargs]) and not a.kwarg):
            errors.append(f"unknown keyword {k.arg}=")
        given.add(k.arg)
    if not (starred or spread) and required - given:
        errors.append(f"missing {sorted(required - given)}")
    return errors


def test_calls_bind_to_their_signatures():
    """Every call of a package function or class that a non-test file
    makes (the package, the registry, tools, examples, bench.py,
    perfbench/), resolved as the guards above resolve names, binds to
    the signature it calls: no unknown keyword, no extra positional
    argument, no missing required argument. ``df.transform(fn, ...)``
    counts as ``fn(df, ...)`` with the same keywords. Tools and examples
    run only by hand, so a stale keyword there fails nowhere else."""
    pkg = _package()
    stale = []
    for p, tree in pkg.trees.items():
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            calls = [(n.func, n.args)]
            if (isinstance(n.func, ast.Attribute) and n.args
                    and n.func.attr == "transform"):
                calls.append((n.args[0], [None, *n.args[1:]]))
            for func, args in calls:
                found = pkg.target(p, func)
                if found is None:
                    continue
                mod, name = found
                fn, bound = pkg.defs[mod][name], 0
                if isinstance(fn, ast.ClassDef):
                    fn = next((f for f in fn.body if isinstance(f, FUNCS)
                               and f.name == "__init__"), None)
                    bound = 1
                if fn is None:
                    continue
                stale += [f"{p.relative_to(ROOT)}:{n.lineno} {name}: {e}"
                          for e in _bind_errors(fn, bound, args, n.keywords)]
    assert not stale, stale
