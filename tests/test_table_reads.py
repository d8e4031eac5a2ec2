"""Source guard: every read and stream of a driver table in the query
registry goes through queries/common.py (t, raw_table, stream_table,
drain), so the events table's physical timestamp type — which the test
data has changed between generations — is handled in one place. Scans
source text only; starts no Spark."""

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
