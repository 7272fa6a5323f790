"""Driver-contract invariants: the first 50 queries() entries are the
driver's correctness-gate window — keep the curated cross-section stable —
and every oracle key must have a matching query."""

import __spark_entry__ as entry
from codecdb_queryengine_spark.queries import Gate
from codecdb_queryengine_spark.queries.pipeline import _ensure_layout


def test_driver_window_is_the_curated_cross_section():
    qs = list(entry.queries())
    assert qs[:50] == entry.DRIVER_FIRST
    # the window must span operator families, not just the relational core
    non_relational = [
        n
        for n in qs[:50]
        if n.startswith(("dedup_", "sim_", "events_", "ext_", "docs_", "graph_", "mm_"))
    ]
    assert len(non_relational) >= 10


def test_every_oracle_key_has_a_query_and_no_orphans():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    # r7 retired the rows-only category (r6 verdict item 2): every
    # registered name now has a value oracle — engine-specific outputs
    # (KMeans|| pairs, BPE merge tables) are registered AS their
    # engine-independent invariant surfaces, so the driver's `no_oracle`
    # err class can never recur.
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_bench_skip_only_hides_twins():
    """BENCH_SKIP may hide exactly two kinds of redundant timings: SQL-text
    twins (same physical plans as the DataFrame forms) and value-gate twins
    (re-run an already-timed pipeline to check an engine-specific path)."""
    gate_twins = {
        "emb_pca_served",
        "graph_pagerank_ckpt",
        "graph_cc_chain_ckpt",
        "emb_encode_parity",
    }
    assert all(n.endswith("_sql") or n in gate_twins for n in entry.BENCH_SKIP)


def test_no_duplicate_registry_keys_in_module_sources():
    """Defining two functions with the same name in one module silently
    ships whichever comes later (this nearly happened with
    docs_sample_stratified).  Scan each query module's source for duplicate
    top-level def names; duplicate gate names raise at import."""
    import re
    from pathlib import Path

    qdir = Path("codecdb_queryengine_spark/queries")
    for mod in sorted(qdir.glob("*.py")):
        defs = re.findall(r"^def (\w+)\(", mod.read_text(), re.M)
        dupes = {d for d in defs if defs.count(d) > 1}
        assert not dupes, f"{mod.name}: duplicate top-level defs {sorted(dupes)}"


def _gates_whose_source_calls(*callees: str) -> set[str]:
    """Registered gates whose top-level body text calls any of ``callees``:
    a scan of the query sources, independent of the code-object walk that
    derives the bench sets."""
    import re
    from pathlib import Path

    qdir = Path(__file__).resolve().parent.parent / "codecdb_queryengine_spark" / "queries"
    found = set()
    for mod in ("pipeline.py", "extensions.py"):
        for fname, body in re.findall(
            r"def (\w+)\(spark: SparkSession, sf_dir: str\) -> DataFrame:"
            r"(.*?)(?=\ndef |\Z)",
            (qdir / mod).read_text(),
            re.S,
        ):
            if any(f"{c}(" in body for c in callees):
                found.add(fname)
    return found & set(entry.queries())


def test_bench_lifecycle_set_matches_scratch_layout_gates():
    """BENCH_LIFECYCLE (the bench's isolated last-run family) must be
    EXACTLY the gates whose body builds a persisted scratch layout, as a
    text scan of the query sources finds them."""
    scanned = _gates_whose_source_calls("_scratch_dir", "_ensure_layout")
    assert entry.BENCH_LIFECYCLE == scanned, (
        sorted(entry.BENCH_LIFECYCLE - scanned),
        sorted(scanned - entry.BENCH_LIFECYCLE),
    )


def test_bench_prebuilt_set_matches_ensure_layout_gates():
    """BENCH_PREBUILT (the pure-serve fixture family) must be EXACTLY the
    gates whose body routes its base build through
    pipeline._ensure_layout, and every such gate must also be in
    BENCH_LIFECYCLE (a prebuilt gate still builds a scratch layout when
    the fixture is off)."""
    scanned = _gates_whose_source_calls("_ensure_layout")
    assert entry.BENCH_PREBUILT == scanned, (
        sorted(entry.BENCH_PREBUILT - scanned),
        sorted(scanned - entry.BENCH_PREBUILT),
    )
    assert entry.BENCH_PREBUILT <= entry.BENCH_LIFECYCLE


# sha256 of every gate's name, oracle SQL and bench-set membership, in
# queries() order.  A change to any of them must update this on purpose.
REGISTRY_DIGEST = "a80de1638cae26d98c25f714364cca4909bf7907920318f8c795596e26070bb3"


def test_registry_digest_is_pinned():
    import hashlib
    import json

    oracles = entry.oracle_sql()
    rows = [
        [
            n,
            oracles[n],
            n in entry.BENCH_SKIP,
            n in entry.BENCH_LIFECYCLE,
            n in entry.BENCH_PREBUILT,
        ]
        for n in entry.queries()
    ]
    assert hashlib.sha256(json.dumps(rows).encode()).hexdigest() == REGISTRY_DIGEST
    assert entry.BENCH_PREBUILT <= entry.BENCH_LIFECYCLE


def test_duplicate_gate_name_raises():
    """A second gate under a taken name would shadow the first."""
    import pytest

    from codecdb_queryengine_spark.queries import tpch

    twin = Gate("q6", tpch.q1, "SELECT 1")
    with pytest.raises(ValueError, match="q6"):
        entry._by_name(tpch.GATES + [twin])


def test_nested_ensure_layout_closure_is_lifecycle_and_prebuilt():
    """The bench sets are read off the gate's code, closures included: a
    gate whose base build sits in a nested function still counts."""

    def synthetic(spark, sf_dir):
        def serve():
            return _ensure_layout("synthetic", sf_dir, "base", lambda path: None)

        return serve()

    def plain(spark, sf_dir):
        return spark.range(1)

    skip, lifecycle, prebuilt = entry._bench_sets(
        [Gate("synthetic", synthetic, "SELECT 1"), Gate("plain", plain, "SELECT 1", timed=False)]
    )
    assert skip == {"plain"}
    assert lifecycle == {"synthetic"}
    assert prebuilt == {"synthetic"}
