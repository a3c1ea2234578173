"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark and its DuckDB oracle side-by-side,
compares row count, column names/types (loosely), and order-insensitive
values. Usage:

    python tools/parity.py [--exact] [--prefix N] [sf_dir] [name ...]

Defaults to /root/testdata/sf0.01 and all registered queries.

``--exact`` compares floats by repr() instead of a 1e-9 tolerance — the
driver value-HASHES results, so tolerance can mask a real failure (it hid
q_corr_stats in round 1). Run the exact mode before every round hand-off.

``--prefix N`` checks exactly the first N registry entries IN REGISTRY
ORDER — the driver's bounded window (50 in rounds 1-2). The round-1
lesson, institutionalized: a green full-registry run says nothing about
which queries the driver will actually reach; this mode replicates the
driver's exact slice.

``--conf key=value`` (repeatable) overlays adversarial planner settings
on the session — e.g. ``--conf spark.sql.adaptive.enabled=false`` (no
runtime re-plan) or ``--conf spark.sql.autoBroadcastJoinThreshold=-1``
(every non-hinted join becomes a shuffle join). Results must be
identical under any planner mode; this is the join-strategy/AQE
determinism axis the ``--partitions`` sweep doesn't cover.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

# the engine is imported from this checkout, not from wherever it runs
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from create_proposals_using_vector_db_public_spark.plans import ORACLES, QUERIES
from create_proposals_using_vector_db_public_spark.session import get_spark
from create_proposals_using_vector_db_public_spark.sources import TABLES


def _duck_mem_limit() -> str:
    """DuckDB memory budget: 40% of physical RAM (leaves room for the
    Spark JVM sharing the box), floor 2GiB, overridable via
    PARITY_DUCK_MEM. A hardcoded budget sized to one host OOMs on a
    smaller one BEFORE spilling — the opposite of the spill intent."""
    env = os.environ.get("PARITY_DUCK_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        return f"{max(2, int(total * 0.4 / (1 << 30)))}GiB"
    except (ValueError, OSError, AttributeError):
        return "8GiB"


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # let the heaviest oracles (semdedup's within-cluster pair join at
    # sf10 holds ~10^7 64-float lists) spill instead of OOM-ing: an
    # in-memory DuckDB only spills once a temp_directory is set, and the
    # memory budget is derived from THIS host's RAM (48GiB on the 125GiB
    # build box), not hardcoded to it
    con.sql("SET temp_directory='/tmp/duck_spill'")
    con.sql(
        f"SET max_temp_directory_size="
        f"'{os.environ.get('PARITY_DUCK_SPILL', '60GiB')}'"
    )
    con.sql(f"SET memory_limit='{_duck_mem_limit()}'")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(
    name: str,
    spark_pdf: pd.DataFrame,
    duck_pdf: pd.DataFrame,
    exact: bool = False,
) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            try:
                if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                    if exact:
                        # the driver hashes values exactly — repr-level
                        # equality catches what a tolerance hides (incl.
                        # -0.0 vs 0.0 and 6th-decimal drift)
                        ok = all(
                            repr(x) == repr(y)
                            for x, y in zip(av.tolist(), bv.tolist())
                        )
                    else:
                        ok = (
                            (av.isna() & bv.isna())
                            | ((av - bv).abs() < 1e-9)
                        ).all()
                else:
                    ok = (av.isna() & bv.isna() | (av == bv)).all()
            except Exception as e:  # dtype mismatch etc.
                ok = False
                problems.append(f"col {c}: compare error {e}")
                continue
            if not ok:
                bad = (~((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str)))).idxmax()
                problems.append(
                    f"col {c}: value mismatch e.g. row {bad}: spark={av[bad]!r} duck={bv[bad]!r}"
                )
    # dtype sanity (the driver also compares schema)
    for c in a.columns:
        sk, dk = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        if {sk, dk} not in ({sk}, {"i", "f"}) and sk != dk:
            if {sk, dk} == {"i", "f"} or {sk, dk} == {"O", "O"}:
                continue
            problems.append(f"col {c}: dtype spark={spark_pdf[c].dtype} duck={duck_pdf[c].dtype}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    exact = "--exact" in args
    if exact:
        args.remove("--exact")
    # --partitions N: run the whole registry under an adversarial shuffle
    # partition count — results must be bit-identical at ANY parallelism
    # (the determinism sweep that catches partition-order-dependent values)
    partitions = 8
    if "--partitions" in args:
        i = args.index("--partitions")
        try:
            partitions = int(args[i + 1])
        except (IndexError, ValueError):
            print(
                "usage: parity.py [--exact] [--partitions N] [sf_dir] "
                "[name ...]  (--partitions needs an integer)"
            )
            return 2
        del args[i : i + 2]
    prefix = None
    if "--prefix" in args:
        i = args.index("--prefix")
        try:
            prefix = int(args[i + 1])
        except (IndexError, ValueError):
            print(
                "usage: parity.py [--exact] [--partitions N] [--prefix N] "
                "[sf_dir] [name ...]  (--prefix needs an integer)"
            )
            return 2
        del args[i : i + 2]
    # --conf k=v (repeatable): run the sweep under an adversarial planner
    # configuration — e.g. spark.sql.adaptive.enabled=false (no runtime
    # re-plan) or spark.sql.autoBroadcastJoinThreshold=-1 (every
    # non-hinted join becomes a shuffle join). Results must be identical
    # under ANY planner mode; this is the join-strategy/AQE determinism
    # axis the --partitions sweep doesn't cover.
    extra_conf: dict[str, str] = {}
    while "--conf" in args:
        i = args.index("--conf")
        try:
            k, v = args[i + 1].split("=", 1)
            extra_conf[k] = v
        except (IndexError, ValueError):
            print("usage: parity.py [--conf key=value] ...  (needs key=value)")
            return 2
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:] or list(QUERIES)
    if prefix is not None:
        if args[1:]:
            print("--prefix replaces the name list; pass one or the other")
            return 2
        names = list(QUERIES)[:prefix]
        print(f"checking the driver's {prefix}-entry registry prefix")
    # the Spark JVM passes its PYTHONPATH on to the Python workers of UDF
    # and pickle queries, so the root must be on it before the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        "parity", shuffle_partitions=partitions, extra_conf=extra_conf or None
    )
    con = duck_connect(sf_dir)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        if name not in ORACLES:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            if len(spark_pdf) == 0:
                print(f"WARN {name}: 0 rows")
            continue
        try:
            duck_pdf = con.sql(ORACLES[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf, exact=exact)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(names)-len(failed)}/{len(names)} pass")
    if failed:
        print("failed:", " ".join(failed))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
