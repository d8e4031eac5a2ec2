"""Registry hygiene for the driver-panel era.

The verification driver checks exactly the first 50 entries of ``queries()``
in registration order. These tests pin that panel to the curated
``DRIVER_PANEL`` list and guarantee every panel slot is value-checkable
(carries a DuckDB oracle) — a rows-only entry drifting into the panel would
silently burn a correctness slot on a permanent ``no_oracle``.
"""

from arangodb_java_parquet_spark.queries import DRIVER_PANEL, ORACLES, QUERIES


def test_panel_is_first_50_registered():
    assert len(DRIVER_PANEL) == 50
    assert list(QUERIES)[:50] == DRIVER_PANEL


def test_panel_slots_all_carry_oracles():
    unoracled = [n for n in DRIVER_PANEL if n not in ORACLES]
    assert unoracled == []


def test_panel_has_no_duplicates():
    assert len(set(DRIVER_PANEL)) == 50


def test_registry_names_unique_and_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name
    # every oracle belongs to a registered query
    orphans = [n for n in ORACLES if n not in QUERIES]
    assert orphans == []


def test_no_complex_output_columns_batch(oracle_entry_facts):
    """The external driver's pandas canonicalizer sort_values()/hashes every
    output column; a top-level ARRAY/MAP/STRUCT column raises
    'unhashable type: list' and burns the correctness slot as err (round-1
    agg_collect_list_sorted, round-6 ir_inverted_index). Every oracle-backed
    query must emit scalar-typed columns only — flatten lists with
    array_join/array_to_string on BOTH engines. Batch entries: lazy
    DataFrame construction at sf0.001 (the shared ``oracle_entry_facts``
    sweep), schema check only (no job run for the declarative ones)."""
    offenders = {name: f.complex_cols
                 for name, f in oracle_entry_facts.items() if f.complex_cols}
    assert offenders == {}, (
        f"oracle-backed queries with driver-unhashable complex output "
        f"columns: {offenders}")


def test_no_complex_output_columns_streaming(spark):
    """Same guard for the 14 streaming oracle entries — these must actually
    drive their stream to expose the memory-sink schema, so they run at
    sf0.001 (fixed drive overhead dominates; data volume is irrelevant to
    the schema)."""
    from tests.conftest import SF_SMOKE, complex_cols
    offenders = {}
    for name in ORACLES:
        if not name.startswith("stream"):
            continue
        df = QUERIES[name](spark, SF_SMOKE)
        bad = complex_cols(df.schema)
        if bad:
            offenders[name] = bad
    assert offenders == {}, (
        f"streaming oracle queries with driver-unhashable complex output "
        f"columns: {offenders}")


def test_no_zero_row_oracle_passes_in_committed_harness():
    """A value-checked entry whose result is EMPTY at sf0.01 passes the
    oracle comparison trivially (both sides hash nothing) — the
    committed full-harness record must contain no such entries. Caught
    live in round 10: dedup_ngram_jaccard's 0.05 threshold and the bare
    customers-without-orders anti join both returned zero rows at
    sf0.01 and were proving nothing."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    records = sorted(glob.glob(os.path.join(root, "HARNESS_FULL_r*.txt")))
    assert records, "no committed harness record"
    latest = records[-1]
    zero = [l.strip() for l in open(latest)
            if re.match(r"PASS\s+\S+: 0 rows", l.strip())]
    assert not zero, f"zero-row trivial passes in {latest}: {zero}"
    # VERDICT r10 #6: a rows-only entry that decays to 0 rows would
    # still "pass" its count check vacuously — hold rows-only lines to
    # the same nonzero bar.
    zero_ro = [l.strip() for l in open(latest)
               if re.match(r"rows-only\s+\S+: 0 rows", l.strip())]
    assert not zero_ro, (
        f"zero-row rows-only entries in {latest}: {zero_ro}")


def _panel_records():
    """Committed driver CORRECTNESS_r*.json records, EXCLUDING any record
    produced by the CURRENT panel (key set == set(DRIVER_PANEL)): the
    driver drops the current round's record into the tree before the next
    rotation lands, and counting it would retroactively mark the very
    panel that produced it as 'already sampled' (ADVICE r13). Returns
    [(round_index, {name: all_green_bool})] sorted by round."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    panel = set(DRIVER_PANEL)
    out = []
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        d = json.load(open(f))
        if set(d.keys()) == panel:
            continue
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        rnd = int(m.group(1)) if m else 0
        out.append((rnd, {
            k: bool(isinstance(v, dict) and v.get("rows_match")
                    and v.get("schema_match") and v.get("hash_match"))
            for k, v in d.items()}))
    out.sort()
    return out


def test_panel_rotation_policy():
    """PANEL-EXHAUSTION POLICY (queries/__init__.py, decided r13 per
    VERDICT r12 #6; second regime codified r14 per VERDICT r13 #6).

    Regime 1 — while ANY oracle-backed entry has never appeared in a
    committed driver CORRECTNESS_r*.json (current-panel record excluded,
    see _panel_records): every DRIVER_PANEL slot must be never-sampled —
    driver correctness rows are the only hard external signal, so a slot
    spent re-sampling an already-driven name wastes the scarce resource.

    Regime 2 — once the pool is empty: OLDEST-GREEN-FIRST. Key every
    oracle entry by the round index of its most recent all-green driver
    row (sampled-but-never-all-green keys as round 0). The panel must be
    exactly the 50 lowest (last_green_round, name) pairs, so the external
    signal continuously re-validates the whole surface."""
    records = _panel_records()
    sampled = set()
    last_green = {}
    for rnd, rows in records:
        sampled.update(rows.keys())
        for name, green in rows.items():
            if green:
                last_green[name] = rnd
    oracle_names = {n for n in QUERIES if n in ORACLES}
    never = oracle_names - sampled
    if never:
        stale = [n for n in DRIVER_PANEL if n not in never]
        assert not stale, (
            f"{len(never)} never-sampled oracle entries remain but these "
            f"panel slots re-sample already-driven names: {stale}")
    else:
        key = lambda n: (last_green.get(n, 0), n)  # noqa: E731
        want = sorted(oracle_names, key=key)[:len(DRIVER_PANEL)]
        # Any entry tied with the 50th slot's key is an acceptable swap
        # (stable cross-section tweaks within a tie don't break the
        # oldest-first invariant).
        cutoff = key(want[-1])
        bad = [n for n in DRIVER_PANEL if key(n) > cutoff]
        assert not bad, (
            f"oldest-green-first regime: panel slots newer than the "
            f"cutoff {cutoff}: {bad}")
