"""Keep the driver contract and docs honest:
- every oracle_sql key has a queries() twin;
- every q_* name cited in COVERAGE.md exists;
- every query runs at sf0.001 and returns a stable schema (what the
  driver's smoke check assumes)."""

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_every_oracle_has_a_query():
    qs = set(entrymod.queries())
    missing = set(entrymod.oracle_sql()) - qs
    assert not missing, f"oracle_sql keys without queries(): {missing}"


def test_coverage_doc_names_real_queries():
    qs = set(entrymod.queries())
    doc = open("COVERAGE.md").read()
    cited = set(re.findall(r"`(q_\w+)`", doc))
    unknown = cited - qs
    assert not unknown, f"COVERAGE.md cites unknown queries: {unknown}"


def test_all_queries_run_and_have_columns(query_df):
    for name in query_df.names:
        df = query_df(name)
        assert df.columns, name
        # driver hash-compares sorted column names — they must be unique
        assert len(df.columns) == len(set(df.columns)), name


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert len(df.collect()) > 0


# Round-6 exception to the all-oracled-window policy: VERDICT r5
# item 1 rotates EVERY never-driver-verified query through the window,
# including the six whose outputs are structurally un-oracle-able
# (sketch/model/sampling values) — their driver rows are deliberately
# the weaker rows+schema check, once, so no query ends the round with
# zero driver evidence. They rotate back OUT next round.
ROWS_ONLY_WINDOW_ALLOWANCE = {
    "q_count_distinct_sketch", "q_demv_rebalance_smote",
    "q_ml_out_of_fold", "q_sim_ivf_topk",
    "q_stream_drift_monitor",
}


def test_window_slots_are_all_oracled():
    """Round-3 policy: the driver value-checks the FIRST 50 queries();
    a rows-only query in the window burns a slot that can never turn
    green (CORRECTNESS_r02's no_oracle row) — every slot must carry an
    oracle, except the explicitly-documented round-6 rotation set."""
    qs = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    window = qs[:50]
    missing = [
        name for name in window
        if name not in oracles and name not in ROWS_ONLY_WINDOW_ALLOWANCE
    ]
    assert not missing, f"window slots without oracles: {missing}"


def test_no_duplicate_query_or_oracle_registrations():
    """A later q[...]/o[...] assignment with the same key silently
    SHADOWS the earlier one (caught live in round 5: a new funnel
    query overwrote the existing first-touch funnel with different
    semantics and the gate kept passing against the survivor). Parse
    the source: every registration key must be unique."""
    import collections

    src = open("__spark_entry__.py").read()
    for var in ("q", "o"):
        keys = re.findall(rf'^\s+{var}\["(q_\w+)"\]\s*=', src, re.M)
        dupes = [k for k, n in collections.Counter(keys).items() if n > 1]
        assert not dupes, f"duplicate {var}[...] registrations: {dupes}"


# ---- round-8 rotation policy as executable invariants (VERDICT r7
# item 9): window-seat pressure is structural (~200 queries, 50
# seats, ~15 new per round), so the policy that kept every query
# driver-verified is pinned here instead of living in prose ----

def test_window_is_exactly_50_known_names():
    """The driver value-checks the FIRST 50 queries() entries; the
    pin list must be exactly 50 unique names and every name must
    exist — queries() silently SKIPS unknown window names, so a typo
    would shrink the window and hand a seat to an arbitrary query."""
    names = list(entrymod.queries())
    w = entrymod._R12_WINDOW
    assert len(w) == 50, f"window pins {len(w)} seats, driver checks 50"
    assert len(set(w)) == 50, "duplicate window seat"
    assert names[:50] == w, (
        "window head disagrees with the pin list — a seat name is "
        f"misspelled or shadowed: {[n for n in w if n not in names[:50]]}"
    )


def _driver_verified(row):
    """True iff a CORRECTNESS row is actual driver EVIDENCE: a green
    oracled compare, or a completed rows-only seat. Round-8 hole: key
    presence alone counted `err` rows (canonicalizer crashes) as
    verified, which would have let a never-green query rotate out
    (VERDICT r8 item 2)."""
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    )


def test_window_no_unverified_backlog():
    """No-new-backlog rule: every query that has never earned a GREEN
    driver row (or a completed rows-only seat) must be in the current
    window, so it gets driver evidence in its birth round — a rotation
    that strands a never-verified query fails here. `err` rows do NOT
    count as evidence."""
    import glob
    import json

    names = list(entrymod.queries())
    window = set(names[:50])
    verified = set()
    for p in sorted(glob.glob("CORRECTNESS_r*.json")):
        with open(p) as f:
            for name, row in json.load(f).items():
                if _driver_verified(row):
                    verified.add(name)
    backlog = sorted(
        n for n in names if n not in verified and n not in window
    )
    assert backlog == [], (
        f"queries with zero green driver evidence stranded outside the window: {backlog}"
    )


def test_no_collection_types_in_oracle_snapshot():
    """The driver canonicalizes compare results with pandas
    sort_values, which cannot factorize list/struct/map cells — an
    ARRAY column in an emission turns the row into `err` no matter how
    correct the values are (round 8: q_text_inverted_index,
    q_stream_index_log). Every oracled emission must be scalar-typed;
    join collections to strings or explode them."""
    import json

    snap = json.load(open("tests/oracle_types_snapshot.json"))
    bad = [
        (q, c, t)
        for q, cols in snap.items()
        for c, t in cols.items()
        if t.startswith(("list", "large_list", "fixed_size_list",
                         "struct", "map"))
    ]
    assert bad == [], f"collection-typed oracle emissions: {bad}"


def test_window_emissions_are_scalar_typed(spark, query_df):
    """Same rule enforced on the SPARK side for every seat the driver
    touches (the 50-query window + entry()): no Array/Map/Struct
    column may reach a driver emission, including rows-only seats the
    snapshot doesn't cover."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def bad_cols(df):
        return [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]

    offenders = {}
    for name in query_df.names[:50]:
        cols = bad_cols(query_df(name))
        if cols:
            offenders[name] = cols
    entry_bad = bad_cols(entrymod.entry(spark))
    if entry_bad:
        offenders["<entry>"] = entry_bad
    assert not offenders, (
        f"collection-typed columns in driver-visible emissions: {offenders}"
    )


# Families whose every query was deleted with its module, each with the
# reason. A retired family has no query left to seat, so the family
# check below skips it; every other family stays under the check, and
# a family dropped without an entry here still fails.
RETIRED_FAMILIES = {
    "media": "image/audio codec modules deleted (ROADMAP direction 4)",
}


def test_window_keeps_every_recent_family_seated():
    """No family loses all its seats: every query-name family present
    in the NEWEST driver artifact keeps at least one seat in the
    current window (family = the q_<family>_... prefix token), unless
    it is in RETIRED_FAMILIES."""
    import glob
    import json

    artifacts = sorted(glob.glob("CORRECTNESS_r*.json"))
    assert artifacts, "no CORRECTNESS artifacts committed"
    with open(artifacts[-1]) as f:
        prev = set(json.load(f))
    fam = lambda n: n.split("_")[1]
    live_fams = {fam(n) for n in entrymod.queries()}
    assert not live_fams & set(RETIRED_FAMILIES), "retired family still has queries"
    prev_fams = {fam(n) for n in prev} - set(RETIRED_FAMILIES)
    window_fams = {fam(n) for n in list(entrymod.queries())[:50]}
    missing = sorted(prev_fams - window_fams)
    assert not missing, f"families losing all window seats: {missing}"
