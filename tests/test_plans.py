"""Physical-plan assertions: pin the scale-critical plan shapes so a
refactor that silently degrades them (full sort instead of heap top-k,
nested loop instead of hash join, lost pushdown) fails CI, not a 100 TB
run. tools/explain.py captures the same plans as artifacts; these are the
load-bearing properties as executable checks."""

import io
import os
from contextlib import redirect_stdout

import pytest

from create_proposals_using_vector_db_public_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"

# every test that builds a plan reads the SF tables; the allowlist checks
# read only the committed tools/plans files and run without them
needs_sf = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata absent"
)


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, SF).explain("formatted")
    return buf.getvalue()


@needs_sf
def test_knn_is_heap_topk_not_global_sort(spark):
    """The flagship kNN must compile to TakeOrderedAndProject (per-partition
    heaps, O(k) driver merge) — a global Sort+Limit would shuffle every
    vector's distance at 100 TB."""
    import re

    p = plan_of(spark, "q_knn")
    assert "TakeOrderedAndProject" in p
    # no standalone Sort node anywhere (robust to the codegen '* ' marker;
    # TakeOrderedAndProject/SortMergeJoin don't match the word boundary)
    assert not re.search(r"\bSort \(", p)


@needs_sf
def test_scan_filter_pushdown_and_pruning(spark):
    """Q6-shaped scan: predicates reach the parquet reader and the read
    schema is pruned to referenced columns only."""
    p = plan_of(spark, "q_scan_filter")
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p or "GreaterThan" in p
    # l_tax is not referenced by the query — pruning must drop it
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema and all("l_tax" not in l for l in read_schema)


@needs_sf
def test_broadcast_join_for_small_dims(spark):
    p = plan_of(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


@needs_sf
def test_no_nested_loop_in_hash_joinable_queries(spark):
    """Queries with manufactured or natural equality keys must never fall
    to a nested-loop/cartesian plan — the scale-killer this engine's
    bucket-blocking rewrites exist to prevent. (Queries that intentionally
    cross-join a broadcast single-row aggregate are excluded, as is
    q_knn_join: brute-force batch kNN IS a broadcast cross product of the
    small query set by design — the IVF/LSH/PQ variants are the plans that
    avoid it.)"""
    for name in (
        "q_interval_overlap",
        "q_exists_corr",
        "q_avg_subquery",
        "q_nested_in",
        "q_asof_join",
        "q_range_join",
        "q_dedup_minhash",
        "q_fuzzy_match",
    ):
        p = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def aggregate_nodes(p: str) -> int:
    """Count physical aggregate NODES in a formatted plan. explain(
    'formatted') prints every node twice (once in the tree, once in the
    details section), so a raw substring count of N nodes is 2N — a
    partial+final assertion written as count >= 2 is vacuously true with
    a single aggregate. Count only the numbered detail headers."""
    import re

    return len(re.findall(r"^\(\d+\) HashAggregate", p, flags=re.M))


@needs_sf
def test_agg_is_partial_plus_final(spark):
    """TPC-H Q1 must show two HashAggregate levels (map-side combine) so
    the shuffle carries |groups|, not |rows|."""
    p = plan_of(spark, "q_agg_basic")
    assert aggregate_nodes(p) >= 2


@needs_sf
def test_semi_join_for_exists(spark):
    p = plan_of(spark, "q_exists_corr")
    assert "LeftSemi" in p


@needs_sf
def test_partitioned_sink_prunes_partitions_at_read(spark):
    """The hive-partitioned read-back must push the event_type filter into
    PartitionFilters (directory-level pruning) — not just a row filter."""
    p = plan_of(spark, "q_partitioned_sink")
    filt = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert filt and any("event_type" in l for l in filt), filt


@needs_sf
def test_market_share_star_broadcasts_all_dims(spark):
    """TPC-H Q8 shape: every dimension must broadcast — the only
    sort-merge-eligible edge is lineitem⋈orders, so at most one
    SortMergeJoin may appear in the plan."""
    import re

    p = plan_of(spark, "q_market_share")
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, flags=re.M)) >= 4
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, flags=re.M)) <= 1


@needs_sf
def test_top_revenue_aggregates_before_joins(spark):
    """Q15 shape: the date predicate reaches the scan and the revenue
    aggregate is partial+final (shuffle carries |suppliers| rows)."""
    p = plan_of(spark, "q_top_revenue")
    assert "PushedFilters: [" in p
    assert aggregate_nodes(p) >= 2
    assert "BroadcastHashJoin" in p
    # the global-max must NOT re-scan the fact table: exactly one
    # lineitem scan node (its Location prints once, in the details)
    assert p.count("lineitem.parquet") == 1, p.count("lineitem.parquet")


@needs_sf
def test_large_orders_having_prunes_before_join(spark):
    """Q18 shape: the quantity HAVING aggregate must be partial+final and
    no nested-loop join may appear."""
    p = plan_of(spark, "q_large_orders")
    assert aggregate_nodes(p) >= 2
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


@needs_sf
def test_kmv_topk_uses_window_group_limit(spark):
    """q_hll_merge's KMV arm: Spark must compile the rank<=k filters to
    WindowGroupLimit — a map-side per-partition top-k BEFORE the shuffle,
    so only <=k rows per (quarter, month) cross the wire. Losing this
    (e.g. by filtering on a derived column Catalyst can't see through)
    would shuffle every distinct hash at 100 TB."""
    p = plan_of(spark, "q_hll_merge")
    assert "WindowGroupLimit" in p


@needs_sf
def test_plan_signatures_unchanged(spark):
    """Registry-wide structural pin: the ordered physical-node sequence of
    EVERY query (captured by tools/explain.py into
    tools/plans/SIGNATURES.json at this same SF) must not drift. A
    broadcast that silently becomes a SortMergeJoin, a lost
    WindowGroupLimit, or an extra Exchange changes the sequence and fails
    here long before it meets 100 TB. Node ARGUMENTS are not pinned, so
    temp paths, plan-id renumbering, and partition counts don't trip it.

    On intentional plan changes: re-run `python tools/explain.py` and
    commit the refreshed SIGNATURES.json alongside the code change."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain import SIG_PATH, plan_text, signature

    if not os.path.isfile(SIG_PATH):
        pytest.skip("SIGNATURES.json not captured yet")
    pinned = json.load(open(SIG_PATH))["signatures"]
    drifted = {}
    for name, want in pinned.items():
        if name not in QUERIES:
            continue  # renamed/dropped query: explain.py recapture pending
        got = signature(plan_text(spark, name, SF))
        if got != want:
            drifted[name] = (want, got)
    assert not drifted, (
        f"{len(drifted)} plan(s) drifted: {sorted(drifted)}; first diff: "
        f"{next(iter(drifted.items()))}"
    )


def test_every_pinned_cross_join_is_allowlisted():
    """Every query whose pinned signature holds a BroadcastNestedLoopJoin
    or CartesianProduct node has a tools/plan_audit.py ALLOW entry for
    that flag, with a reason, and every ALLOW flag names a pinned
    signature that holds that node. test_plan_signatures_unchanged pins
    the signatures to the live plans, so this check needs no Spark
    session."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain import SIG_PATH
    from plan_audit import ALLOW, FLAGS

    pinned = json.load(open(SIG_PATH))["signatures"]
    held = {
        (name, flag)
        for name, nodes in pinned.items()
        for flag, rx in FLAGS.items()
        if any(rx.search(n) for n in nodes)
    }
    allowed = {(name, flag) for name, flags in ALLOW.items() for flag in flags}
    assert sorted(held - allowed) == [], "cross joins without an ALLOW entry"
    assert sorted(allowed - held) == [], "ALLOW entries with no such node"
    assert all(all(flags.values()) for flags in ALLOW.values())


def test_every_committed_unpartitioned_window_is_allowlisted():
    """tools/plan_audit.py's window rule over the committed plan dumps:
    every query with an unpartitioned window that is not over a
    TakeOrderedAndProject has a _WINDOW_OK reason, and every _WINDOW_OK
    entry still names such a query. Reads tools/plans/*.txt, so it needs
    no Spark session."""
    import glob
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain import OUT_DIR
    from plan_audit import _WINDOW_OK, unpartitioned_windows

    flagged = set()
    for path in glob.glob(os.path.join(OUT_DIR, "*.txt")):
        with open(path) as f:
            if unpartitioned_windows(f.read()):
                flagged.add(os.path.basename(path)[: -len(".txt")])
    assert sorted(flagged - set(_WINDOW_OK)) == []
    assert sorted(set(_WINDOW_OK) - flagged) == []
    assert all(_WINDOW_OK.values())


@needs_sf
@pytest.mark.parametrize("name", ["q_knn", "q_pagerank"])
def test_plan_text_is_canonical(spark, name):
    """tools/plans/*.txt change only when a plan changes: two captures of
    the same query in one session (fresh expression, plan and RDD IDs) are
    byte-identical, with no ID or absolute SF path left in them."""
    import re
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain import plan_text

    first, second = plan_text(spark, name, SF), plan_text(spark, name, SF)
    assert first == second
    assert not re.search(r"#\d", first)
    assert "plan_id=" not in first
    assert SF not in first and "<sf_dir>" in first


@needs_sf
def test_plan_text_is_the_same_in_every_process(tmp_path):
    """A fresh process captures the same text whether or not other
    captures came before it (as tools/explain.py's full and subset runs
    do). q_profile's multi-distinct Expand orders its projections by a
    hash of expression IDs; plan_text starts each query at a fixed
    position of the ID counter. q_dup_clusters prints its checkpoint
    RDD's call site, which the JVM reports differently after 16 earlier
    reflective calls of ``localCheckpoint``; plan_text names it
    ``<callsite>``."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        f"sys.path.insert(0, {os.path.join(os.path.dirname(__file__), '..', 'tools')!r})\n"
        "from explain import get_spark, plan_text\n"
        "spark = get_spark('plan_text', shuffle_partitions=8)\n"
        f"texts = [plan_text(spark, name, {SF!r}) for name in sys.argv[1:]]\n"
        "sys.stdout.write(texts[-1])\n"
    )
    for name, before, marker in (
        ("q_profile", ["q_knn"], "Expand"),
        ("q_dup_clusters", ["q_dup_clusters"] * 16,
         "localCheckpoint at <callsite>"),
    ):
        alone, after = (
            subprocess.run([sys.executable, "-c", code, *names], cwd=tmp_path,
                           capture_output=True, text=True, timeout=600,
                           check=True).stdout
            for names in ([name], [*before, name])
        )
        assert marker in alone, name
        assert alone == after, name


@needs_sf
def test_snapshot_as_of_read_is_plain_pruned_scan(spark):
    """q_snapshot_read: each as-of read must be an ordinary parquet scan
    of the immutable snapshot dir feeding a partial+final aggregate — no
    join back to source, no global sort; time travel costs a pointer
    lookup plus a scan."""
    import re

    p = plan_of(spark, "q_snapshot_read")
    assert "Scan parquet" in p
    assert not re.search(r"\bSort \(", p)
    assert "HashAggregate" in p
