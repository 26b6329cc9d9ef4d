"""Physical-plan inspection helpers.

The engine's scale guarantees are properties of the PLAN, not the code:
small-dim joins must be BroadcastHashJoin, filters must reach the parquet
scan as PushedFilters, hot paths must stay inside WholeStageCodegen.
These helpers make those properties assertable in tests (SURVEY.md §4:
"assert via df.explain() in tests").
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain() text as a string (explain() only prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def assert_broadcast_join(df: DataFrame) -> None:
    """Assert the plan broadcasts at least one join side — the contract of
    add_group_count_feature and every dim join at 100 TB (a sort-merge
    join against a 25-row dim is a full shuffle of the fact table)."""
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join in plan:\n{plan}"
    )


def assert_no_shuffle(df: DataFrame) -> None:
    """Assert the plan contains no exchange — for map-only pipelines
    (per-row feature engineering must never shuffle)."""
    plan = explain_str(df, "simple")
    assert "Exchange" not in plan, f"unexpected shuffle in plan:\n{plan}"


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """Assert a predicate reached the parquet scan (PushedFilters: [...])."""
    plan = explain_str(df, "formatted")
    assert "PushedFilters" in plan and fragment in plan, (
        f"filter '{fragment}' not pushed to scan:\n{plan}"
    )


def observe_metrics(df: DataFrame, name: str, **aggs) -> tuple[DataFrame, "Observation"]:
    """Attach zero-extra-pass metrics to a plan via ``df.observe``: the
    aggregates are computed DURING the action that consumes ``df`` (no
    second scan, unlike calling .count() for logging — the reference's
    per-step count() anti-pattern re-executed the whole plan each time,
    SURVEY §4). Returns (instrumented_df, observation); read
    ``observation.get`` after the action completes. Works identically
    under batch and foreachBatch streaming."""
    from pyspark.sql import Observation  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    obs = Observation(name)
    exprs = [expr.alias(alias) for alias, expr in aggs.items()] or [
        F.count(F.lit(1)).alias("rows")
    ]
    return df.observe(obs, *exprs), obs


def _node_depth(line: str) -> int:
    """Depth of a node line in Spark's "simple" plan text: the length
    of its box-drawing prefix (spaces, ':', '+', '-'). Children sit at
    parent depth + 3."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


# Witnesses are matched against the build subtree's SPINE only (its
# first few node lines) — every declared-bounded shape in the catalog
# declares itself at the build root, and a fact-scale build whose
# depths merely CONTAIN an aggregate must not slip through.
_SPINE_LINES = 8
_SPINE_MARKERS = (
    "HashAggregate(",            # aggregate build: rows = group count
    "SortAggregate(",            # (the scalar keys=[] corpus-stats
    "ObjectHashAggregate(",      # cross and the collect_list-packed
                                 # blocked-BLAS block frames included)
    "GlobalLimit",               # explicit row bound
    "TakeOrderedAndProject(limit=",
    "LocalTableScan",            # driver-built literal frame
    "org.apache.spark.ml.recommendation",  # MLlib's own blocked
                                 # factor-matrix recommend-for-all
)
# NOT witnesses (r11 review): a closed-range Filter (a date-range-
# filtered FACT table would pass) and Scan ExistingRDD (a checkpointed
# fact frame would pass) — queries with genuinely bounded filtered
# builds declare themselves with an explicit .limit(n) instead.
# (r12, ADVICE r11): ReusedExchange is NOT a witness either — the
# origin exchange may feed an ordinary join and never itself be
# audited as a nested-loop build, so "audited at its origin" was a
# silent-pass hole; and a bare "Range (" marker accepted an
# arbitrarily large spark.range(1e12) literal. Range is now accepted
# only when its PARSED row count is small (see _bounded_range_rows).

# A literal Range build is bounded only when its parsed cardinality is
# at most this many rows — far above any declared literal build in the
# catalog (the largest is a handful of pseudo-centers), far below
# anything a nested-loop join could survive at scale.
_RANGE_ROWS_MAX = 1_000_000
_RANGE_RE = re.compile(r"Range \((-?\d+), (-?\d+), step=(-?\d+)")


def _bounded_range_rows(line: str) -> bool:
    """True iff a ``Range (start, end, step=s, ...)`` plan line denotes
    at most _RANGE_ROWS_MAX rows. Unparseable ranges fail closed."""
    m = _RANGE_RE.search(line)
    if not m:
        return False
    start, end, step = (int(g) for g in m.groups())
    if step == 0:
        return False
    rows = max(0, -(-(end - start) // step))
    return rows <= _RANGE_ROWS_MAX

_DIM_SCANS = ("region.parquet", "nation.parquet")


def nested_loop_audit(plan: str) -> list[dict]:
    """Walk a "simple" physical-plan string and classify EVERY
    nested-loop join's bounded-ness (r11, VERDICT r10 #8 — the "every
    BroadcastNestedLoopJoin is a declared scalar/dim build" claim was
    prose-adjudicated; this makes it a machine gate). For each
    BroadcastNestedLoopJoin the BUILD-side subtree (BuildRight → last
    child, BuildLeft → first) must carry a boundedness witness on its
    SPINE (first few node lines): an aggregate (scalar corpus stats,
    low-cardinality groups, or collect_list block packing — rows =
    group count), an explicit limit (a query with a genuinely bounded
    filtered build declares it with .limit(n) — a filter or a
    checkpoint barrier is NOT a witness, or a date-range-filtered or
    checkpointed FACT table would silently pass), a LocalTableScan, a
    literal Range whose PARSED cardinality is ≤ _RANGE_ROWS_MAX
    (r12, ADVICE r11: a bare Range marker accepted spark.range(1e12)),
    MLlib's blocked recommender, or
    file scans confined to the region/nation dims (dim×dim cross).
    ReusedExchange is NOT a witness (r12, ADVICE r11): its origin may
    feed an ordinary join and never be audited as a build side, so
    "audited at its origin" was a silent-pass hole — a reused build
    must carry its own witness on the reuse spine or the query
    declares a .limit. A
    CartesianProduct needs such a witness on EITHER side. Anything
    else — e.g. a new fact×fact cross join — is returned with
    bounded=False, which tools/plan_report.py treats as FATAL (modulo
    its short declared-superlinear allowlist: the brute-force
    certification twins) and test_plans locks in. Heuristic by
    design: the remaining soft spot is an aggregate witness whose
    group-key cardinality is data-dependent, but every other known
    failure mode is a false ALARM, not a silent pass."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        is_bnlj = "BroadcastNestedLoopJoin" in line
        if not (is_bnlj or "CartesianProduct" in line):
            continue
        d = _node_depth(line)
        children = []
        for j in range(i + 1, len(lines)):
            dj = _node_depth(lines[j])
            if dj <= d:
                break
            if dj == d + 3:
                children.append(j)
        subtrees = []
        for ci, cj in enumerate(children):
            end = len(lines)
            for j in range(cj + 1, len(lines)):
                if _node_depth(lines[j]) <= _node_depth(lines[cj]):
                    end = j
                    break
            subtrees.append("\n".join(lines[cj:end]))

        def bounded(sub: str) -> bool:
            sub_lines = sub.splitlines()
            spine = sub_lines[:_SPINE_LINES]
            if any(m in ln for ln in spine for m in _SPINE_MARKERS):
                return True
            if any(
                "Range (" in ln and _bounded_range_rows(ln)
                for ln in spine
            ):
                return True
            scans = [ln for ln in sub_lines if "FileScan parquet" in ln]
            return bool(scans) and all(
                any(dim in ln for dim in _DIM_SCANS) for ln in scans
            )

        if is_bnlj:
            if not subtrees:  # malformed/truncated plan: fail closed
                build = ""
            elif "BuildLeft" in line:
                build = subtrees[0]
            else:
                build = subtrees[-1]
            ok = bounded(build)
        else:
            ok = any(bounded(s) for s in subtrees)
        out.append(
            {
                "node": line.strip(),
                "bounded": ok,
            }
        )
    return out


def assert_bounded_nested_loops(df: DataFrame) -> None:
    """Assert every nested-loop/cartesian join in the plan has a
    bounded build side (see nested_loop_audit)."""
    plan = explain_str(df, "simple")
    bad = [a for a in nested_loop_audit(plan) if not a["bounded"]]
    assert not bad, f"unbounded nested-loop join(s) {bad} in plan:\n{plan}"


def assert_runtime_bloom_filter(df: DataFrame) -> None:
    """Assert Catalyst injected a runtime bloom filter into the plan:
    the probe side carries ``might_contain(...)`` fed by a
    ``bloom_filter_agg`` built from the selective build side. This is
    Spark's InjectRuntimeFilter at work — the idiomatic answer to
    "bloom-prune the fact scan before a shuffle join" (no hand-rolled
    bloom filter needed). At 100 TB it fires with stock thresholds
    (probe scan ≥ 10 GB); tests shrink
    spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold
    to 0 to exercise the same plan shape at test scale."""
    plan = explain_str(df, "simple")
    assert "might_contain" in plan and "bloom_filter_agg" in plan, (
        f"no runtime bloom filter in plan:\n{plan}"
    )
