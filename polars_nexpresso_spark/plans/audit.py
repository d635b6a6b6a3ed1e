"""Physical-plan antipattern audit — the pre-deploy checklist, executable.

Every scale rule this repo's operators follow ("no cartesian products",
"no row-at-a-time Python", "filters reach the scan") is a string you can
grep out of the executed plan. ``audit_plan`` does exactly that, so a
pipeline can assert its own plan hygiene in CI the same way
``tests/test_plan_shapes.py`` pins this repo's operators — catching the
regression BEFORE it ships to a 1000-executor cluster, where a
cartesian product is an outage, not a slow test.

Driver-side string inspection only: no jobs run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from polars_nexpresso_spark.plans.stats import plan_size_bytes

# (warning id, plan substring, why it matters at scale)
_ANTIPATTERNS: list[tuple[str, str, str]] = [
    (
        "cartesian-product",
        "CartesianProduct",
        "all-pairs join: O(n*m) rows; block/bucket the join instead",
    ),
    (
        "nested-loop-join",
        "BroadcastNestedLoopJoin",
        "non-equi join fell back to nested loops; bucketize the range "
        "predicate or add an equi-key",
    ),
    (
        "python-row-udf",
        "BatchEvalPython",
        "row-at-a-time Python UDF: ~10-100x slower than Arrow; use "
        "pandas_udf or built-in expressions",
    ),
    (
        "global-sort",
        "rangepartitioning",
        "global sort: full-data range exchange; prefer per-group "
        "in-agg ordering or TakeOrdered for top-k",
    ),
]


def _has_unpartitioned_window(plan: str) -> bool:
    """A WindowExec with no partition spec forces an ``Exchange
    SinglePartition`` — the whole input sorts in ONE task.

    Bracket-group shapes (partition and order specs are BOTH optional):
    ``Window [funcs]`` = neither; ``Window [funcs], [k#1L]`` = partition
    only (the group carries no sort tokens); ``Window [funcs], [o ASC
    NULLS FIRST]`` = order only; ``Window [funcs], [k#1L], [o ASC...]``
    = both. So two groups are unpartitioned ONLY when the trailing
    group is an order spec — naive group-counting false-positives on
    every order-less partitioned window (round-5 advice).
    """
    for ln in plan.splitlines():
        stripped = ln.lstrip(" +-:*")
        if not stripped.startswith("Window "):
            continue
        groups = stripped.count("], [") + 1
        if groups >= 3:
            continue  # funcs + partition + order
        if groups == 1:
            return True  # funcs only: no partition spec at all
        last = stripped.rsplit("], [", 1)[-1]
        if " ASC" in last or " DESC" in last:
            return True  # [funcs], [order] — unpartitioned sort
    return False


# Per-row-expensive function prints (analyzed-plan spelling): each is
# O(row-payload) work, so evaluating one inside a higher-order-function
# lambda body — where Spark re-evaluates every non-argument expression
# once PER ELEMENT — turns an O(n log n)-per-row plan into O(n²·log n).
# This is the exact rake char_entropy shipped with in round 10 (83 s for
# 1.5 MB of text; the sorted array must sit in its OWN projection, per
# lexical_diversity's comment) — the plan budget counted exchanges and
# waved it through, hence this tripwire.
_HOF_EXPENSIVE: tuple[str, ...] = (
    "array_sort(",
    "sort_array(",
    "split(",
    "regexp_replace(",
    "regexp_extract(",
    "regexp_extract_all(",
    "regexp_count(",
    "regexp_substr(",
    "sentences(",
    "array_distinct(",
    "aggregate(",
    "transform(",
    "filter(",
    "zip_with(",
    "arrays_zip(",
    "flatten(",
    "sequence(",
    "from_json(",
)

def _call_spans(
    plan: str, needle: str
) -> tuple[list[tuple[int, int]], bool]:
    """(spans, truncated): (start, end) of each balanced-paren
    ``needle...)`` call, plus whether any span was left UNCLOSED.

    Matches whole function names only (the char before the needle must
    not be an identifier char, so ``split(`` does not match inside
    ``regexp_split(``). An unclosed span means the plan print was
    truncated mid-call — the caller must surface that rather than
    report CLEAN on a plan it only partially inspected (r11 advice).
    """
    spans: list[tuple[int, int]] = []
    truncated = False
    start = 0
    while True:
        i = plan.find(needle, start)
        if i < 0:
            return spans, truncated
        start = i + 1
        if i > 0 and (plan[i - 1].isalnum() or plan[i - 1] == "_"):
            continue
        depth = 0
        closed = False
        for k in range(i + len(needle) - 1, len(plan)):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
                if depth == 0:
                    spans.append((i, k + 1))
                    closed = True
                    break
        if not closed:
            truncated = True


_TRUNCATED_WARNING = (
    "plan-truncated: an unclosed call span was found (truncated plan "
    "print) — the HOF re-evaluation sweep could not inspect the whole "
    "plan, so a CLEAN result here is NOT a clean verdict"
)


def _lambda_args(lambda_text: str) -> list[str]:
    """Declared variables of one printed ``lambdafunction(...)`` call.

    Analyzed plans print ``lambdafunction(<body>, lambda x_1#5[, lambda
    y_2#6...], false)`` — the args are the depth-0 comma components
    after the body that look like ``lambda <name>#<id>``.
    """
    inner = lambda_text[lambda_text.index("(") + 1 : -1]
    parts: list[str] = []
    depth, cur = 0, []
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    out = []
    for p in parts[1:]:
        name = p[len("lambda "):] if p.startswith("lambda ") else ""
        if name and "#" in name and "(" not in name and " " not in name:
            out.append(p)
    return out


def hof_reeval_risks(df: DataFrame) -> list[str]:
    """Flag per-row-expensive expressions evaluated INSIDE a
    higher-order-function lambda body — Spark re-evaluates every
    non-argument expression in a lambda once per element, so an
    ``array_sort(split(text, ''))`` referenced in a ``F.filter`` lambda
    re-splits and re-sorts the text once PER CHARACTER (O(len²·log len)
    per row). The fix is always the same: stage the expression as a
    real column in its own projection first.

    A call is legit (not flagged) when it references one of the
    enclosing lambda's OWN variables — splitting each element of an
    array is inherent work, not re-evaluation. Driver-side string
    inspection of the analyzed plan only: no jobs run.
    """
    plan = df._jdf.queryExecution().analyzed().toString()
    lam_spans, truncated = _call_spans(plan, "lambdafunction(")
    risks: list[str] = []
    if not lam_spans:
        if truncated:
            risks.append(_TRUNCATED_WARNING)
        return risks
    seen: set[str] = set()
    for needle in _HOF_EXPENSIVE:
        needle_spans, n_trunc = _call_spans(plan, needle)
        truncated = truncated or n_trunc
        for a, b in needle_spans:
            enclosing = [
                (la, lb) for la, lb in lam_spans if la < a and b <= lb
            ]
            if not enclosing:
                continue
            la, lb = min(enclosing, key=lambda t: t[1] - t[0])
            args = _lambda_args(plan[la:lb])
            call_text = plan[a:b]
            if any(arg in call_text for arg in args):
                continue
            if "#" not in call_text:
                # All-literal arguments (no attribute/lambda-var
                # references, which always print as ``name#id``):
                # ConstantFolding collapses the call to a single
                # Literal before execution — e.g. the r13
                # ``from_json('[[...]]')`` codebook literals — so
                # nothing re-evaluates per element. The auditor reads
                # the ANALYZED plan, which predates that folding.
                continue
            head = call_text if len(call_text) <= 80 else call_text[:77] + "..."
            # Dedupe by the FULL call text (not the display head): two
            # distinct sites sharing an 80-char prefix must both report
            # (r11 advice).
            key = needle + call_text
            if key in seen:
                continue
            seen.add(key)
            risks.append(
                f"hof-reevaluation: {head!r} is evaluated once PER "
                "ELEMENT inside a lambda body (it references none of the "
                "lambda's variables); stage it as a real column in its "
                "own projection before the lambda"
            )
    if truncated:
        risks.append(_TRUNCATED_WARNING)
    return risks


def audit_plan(
    df: DataFrame, *, max_exchanges: int | None = None
) -> list[str]:
    """Return human-readable warnings for scale antipatterns in ``df``'s
    executed plan (empty list = clean). ``max_exchanges`` additionally
    flags plans that shuffle more than the given number of times.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    warnings: list[str] = []
    for wid, needle, why in _ANTIPATTERNS:
        if needle.lower() in plan.lower():
            warnings.append(f"{wid}: {why}")
    warnings.extend(hof_reeval_risks(df))
    if _has_unpartitioned_window(plan):
        warnings.append(
            "window-without-partitionBy: single-partition sort of the "
            "whole input through one task; add a partition key, or keep "
            "such windows strictly on provably bounded (≤k-row) frames"
        )
    if max_exchanges is not None:
        n = plan.count("Exchange hashpartitioning")
        if n > max_exchanges:
            warnings.append(
                f"exchange-count: {n} hash exchanges > budget "
                f"{max_exchanges}; look for a reusable partitioning or a "
                "broadcastable side"
            )
    return warnings


def scale_report(df: DataFrame) -> dict:
    """One-call pre-deploy summary of a plan's scale posture — what a
    reviewer greps an ``explain`` for, as a dict a CI check can assert
    on. Driver-side only: no jobs run.

    Keys: ``warnings`` (the :func:`audit_plan` findings), ``exchanges``
    (hash-partitioned shuffle count), ``broadcasts`` (broadcast-exchange
    count), ``estimated_input_bytes`` (Catalyst's static estimate — an
    upper-bound-ish planning number, None when the size is unknown:
    on Connect or for a stat-less leaf), ``codegen_spans``
    (WholeStageCodegen regions: more/wider spans = more of the plan runs
    fused JVM code — under AQE this reads 0 until the plan has actually
    executed, since the adaptive plan finalizes at runtime), and
    ``python_stages`` (Arrow/pandas evaluation operators — expected for
    mapInPandas operators, a smell elsewhere).
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "warnings": audit_plan(df),
        "exchanges": plan.count("Exchange hashpartitioning"),
        "broadcasts": plan.count("BroadcastExchange"),
        "estimated_input_bytes": plan_size_bytes(df),
        "codegen_spans": plan.count("WholeStageCodegen"),
        "python_stages": sum(
            plan.count(t)
            for t in ("ArrowEvalPython", "BatchEvalPython",
                      "MapInPandas", "FlatMapGroupsInPandas")
        ),
    }
