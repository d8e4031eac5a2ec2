"""Source guards. Every read and stream of a driver table in the query
registry goes through queries/common.py (t, raw_table, stream_table,
drain), so the events table's physical timestamp type — which the test
data has changed between generations — is handled in one place. And
every function or class of the core library is reached by code that is
not a test. Both scan source text only; they start no Spark."""

import ast
import pathlib
import re

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
}


def _refs(node):
    """Names a subtree uses: bare names, attribute names, import names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name)
    return out


def test_core_library_has_no_unreached_names():
    """Every top-level function or class of the core library (the package
    outside queries/) is used by its own module's other code or by a
    non-test file: the package, the registry, tools, examples, bench.py,
    perfbench/ or the driver entry. A name that only tests reach is
    surface nothing uses. To stay well under a second, a file is parsed
    only when it spells a name still in question, and of its top-level
    statements only those whose text spells the name are walked."""
    texts = {p: p.read_text() for p in sorted(ROOT.rglob("*.py"))
             if not any(s == "tests" or s.startswith(".")
                        for s in p.relative_to(ROOT).parts)}
    words = {p: set(re.findall(r"\w+", t)) for p, t in texts.items()}
    by_size = sorted(texts, key=lambda p: len(texts[p]))
    stmts, stmt_refs = {}, {}

    def top_level(p):
        """(statement, its source text with any decorators) pairs."""
        if p not in stmts:
            lines = texts[p].splitlines(keepends=True)
            stmts[p] = [
                (s, "".join(lines[min(d.lineno for d in [s, *getattr(
                    s, "decorator_list", ())]) - 1:s.end_lineno]))
                for s in ast.parse(texts[p], str(p)).body]
        return stmts[p]

    def uses(s, text, name):
        if name not in text:
            return False
        if s not in stmt_refs:
            stmt_refs[s] = _refs(s)
        return name in stmt_refs[s]

    unreached, test_only = [], set()
    for p in by_size:
        if not p.is_relative_to(CORE) or p.is_relative_to(QUERIES):
            continue
        for d, _ in top_level(p):
            if (not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.ClassDef))
                    or any(s is not d and uses(s, text, d.name)
                           for s, text in top_level(p))
                    or any(uses(s, text, d.name) for q in by_size
                           if q != p and d.name in words[q]
                           for s, text in top_level(q))):
                continue
            if d.name in TEST_ONLY:
                test_only.add(d.name)
            else:
                unreached.append(f"{p.relative_to(ROOT)}:{d.name}")
    assert not unreached, unreached
    # an allowlisted name that is gone or now reached leaves the list
    assert test_only == set(TEST_ONLY), test_only
