"""Dump formatted physical plans for registry queries → tools/plans/.

Used to verify, per SURVEY §4 / the scale mandate:
- predicate pushdown + column pruning reach the parquet scan
  (PushedFilters / ReadSchema),
- small sides broadcast (BroadcastHashJoin / BroadcastExchange),
- aggregations are partial+final (HashAggregate x2),
- top-k compiles to TakeOrderedAndProject (no global sort),
- WholeStageCodegen spans cover the hot expressions.

Captures TWO artifact kinds:
- tools/plans/<name>.txt  — full `explain("formatted")` text (human/judge
  reading; default sf0.01) in canonical form: expression IDs, plan IDs and
  RDD IDs are dropped and the SF and temp directories are written as
  `<sf_dir>` and `<tmp>`, so regenerating on unchanged code gives an empty
  diff and a diff means a plan change;
- tools/plans/SIGNATURES.json — per-query normalized physical-node
  sequence captured at sf0.001 (the SF the test suite uses), pinned by
  tests/test_plans.py::test_plan_signatures_unchanged. A broadcast→SMJ
  flip, a lost WindowGroupLimit, or a new shuffle changes the node
  sequence and fails the pin even though the query stays correct.

Usage:
  python tools/explain.py                      # all queries: txt + signatures
  python tools/explain.py SF_DIR q_a q_b ...   # subset, txt only
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from create_proposals_using_vector_db_public_spark.plans import QUERIES
from create_proposals_using_vector_db_public_spark.session import get_spark

OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")
SIG_PATH = os.path.join(OUT_DIR, "SIGNATURES.json")
SIG_SF = "/root/testdata/sf0.001"

_NODE = re.compile(r"^\(\d+\) ([A-Za-z][\w .]*?)\s*(?:\[codegen id : \d+\])?$",
                   re.M)


def _reset_memo_state() -> None:
    """Signatures pin the canonical FIRST-invocation plan. q_pagerank
    memoizes its cached edge list across identical-plan invocations,
    and a REUSED handle renders with the materialized cache's
    runtime nodes (ShuffleQueryStage/AQEShuffleRead) instead of the
    fresh plan — so capture must start from a cold memo or the signature
    would depend on whatever ran earlier in the session (e.g. the graph
    tests in a full pytest run)."""
    from create_proposals_using_vector_db_public_spark.plans import (
        graph_queries as GQ,
    )

    prev = GQ._PR_CACHE.get("u")
    GQ._PR_CACHE.clear()  # ALL bookkeeping (u/session/mode/est/reused):
    # a half-reset memo would leave stale mode/est entries readable
    # before the next q_pagerank invocation overwrites them
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # stopped-session handle: blocks already gone


# Expression IDs come from one JVM-wide counter, and some rewrites order
# their output by a hash of those IDs (the Expand of a multi-distinct
# aggregate), so a plan's text depends on where the counter stood when the
# query was built. Before each capture the counter moves forward to a
# position fixed by the query's registry index: (2 * index + 1) * _ID_STEP,
# or the next multiple of _ID_STEP once it is past that (the signature
# capture that follows). In a fresh process that captures queries in
# registry order, each capture starts at the same position whatever else
# ran. IDs stay unique: the counter only ever moves forward.
_ID_STEP = 1 << 24


def _align_expr_ids(spark, index: int) -> None:
    # the counter is a private AtomicLong, and py4j would hand it to Python
    # as a plain int, so its get/set are composed into handles on the JVM
    jvm = spark._jvm
    mh, mt = jvm.java.lang.invoke.MethodHandles, jvm.java.lang.invoke.MethodType
    lookup, long_t = mh.publicLookup(), jvm.java.lang.Long.TYPE
    field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.NamedExpression$"
    ).getDeclaredField("curId")
    field.setAccessible(True)
    counter = lookup.unreflectGetter(field)
    atomic = jvm.java.lang.Class.forName("java.util.concurrent.atomic.AtomicLong")
    get = mh.filterReturnValue(
        counter, lookup.findVirtual(atomic, "get", mt.methodType(long_t)))
    set_ = mh.collectArguments(
        lookup.findVirtual(atomic, "set", mt.methodType(jvm.java.lang.Void.TYPE, long_t)),
        0, counter)
    now = get.invokeWithArguments([])
    set_.invokeWithArguments(
        [max(now // _ID_STEP + 1, 2 * index + 1) * _ID_STEP])


def canonical(plan: str, sf_dir: str) -> str:
    """The plan text with everything that differs between two captures of
    the same plan taken out: expression IDs (`x#123L` -> `x#L`), the
    counter suffix of lambda variable names (`lambda x_48#L` ->
    `lambda x#L`), exchange plan IDs, RDD IDs, the call site of a local
    checkpoint's RDD, the absolute SF directory and the names of the
    per-process temp directories queries write to.

    The call site is the first frame above Spark on the JVM stack. A
    JDK 17 JVM serves a method's first reflective calls (16 for
    `Dataset.localCheckpoint`) through `NativeMethodAccessorImpl` and
    later ones through a generated accessor with no source file, so the
    same plan prints `localCheckpoint at NativeMethodAccessorImpl.java:0`
    in a short run and `localCheckpoint at <unknown>:0` in a long one."""
    plan = re.sub(r"(lambda \w+)_\d+#", r"\1#", plan)
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r",? \[plan_id=\d+\]", "", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD", plan)
    plan = re.sub(r"(localCheckpoint at )[^,\s]+:\d+", r"\1<callsite>", plan)
    plan = plan.replace(os.path.abspath(sf_dir), "<sf_dir>")
    return re.sub(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]]+", "<tmp>", plan)


def plan_text(spark, name: str, sf_dir: str) -> str:
    """Canonical `explain("formatted")` text of one query's plan."""
    _reset_memo_state()
    _align_expr_ids(spark, list(QUERIES).index(name))
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    return canonical(buf.getvalue(), sf_dir)


def signature(plan: str) -> list[str]:
    """Ordered physical node names from the formatted plan's detail
    headers — one entry per node, arguments/paths/ids stripped, so the
    pin is structural (join strategy, shuffle count, agg levels) and not
    brittle against temp paths or plan-id renumbering."""
    return _NODE.findall(plan)


def main() -> None:
    txt_sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # registry order, which puts every capture at its fixed ID position
    names = sorted(sys.argv[2:], key=list(QUERIES).index) or list(QUERIES)
    full_capture = not sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("explain", shuffle_partitions=8)
    sigs: dict[str, list[str]] = {}
    for name in names:
        with open(os.path.join(OUT_DIR, f"{name}.txt"), "w") as f:
            f.write(plan_text(spark, name, txt_sf))
        if full_capture:
            sigs[name] = signature(plan_text(spark, name, SIG_SF))
        print(f"wrote {name}")
    if full_capture:
        with open(SIG_PATH, "w") as f:
            json.dump({"sf_dir": SIG_SF, "signatures": sigs}, f, indent=0,
                      sort_keys=True)
        print(f"wrote {len(sigs)} signatures -> {SIG_PATH}")
    spark.stop()


if __name__ == "__main__":
    main()
