"""Operations shared by the workloads.

An operation is ``(name, fn, check)``: ``fn`` makes the calls into the
program and returns what a user would get back, ``check`` raises
:class:`core.CheckFailed` when that output is wrong. Spans mark each
call into a layer; with tracing on, the physical plan is forced before
the action so that planning time is separated from execution time.
"""

from __future__ import annotations

from check import digest
from core import CheckFailed

#: ``planmetrics.METRICS`` keys that count Python-boundary plan nodes
PYTHON_NODE_METRICS = (
    "python_eval",
    "arrow_eval",
    "map_in_pandas",
    "map_in_arrow",
    "grouped_map_pandas",
    "grouped_agg_arrow",
)
PLAN_COUNTS = {
    "plans.exchanges": ("exchanges",),
    "plans.sort_merge_joins": ("sort_merge_joins",),
    "plans.python_nodes": PYTHON_NODE_METRICS,
}


def expect_digest(name: str, expected: tuple[int, str]):
    def check(pdf) -> None:
        got = digest(pdf)
        if got != expected:
            raise CheckFailed(
                f"{name}: {got[0]} rows, digest {got[1][:12]}; oracle {expected[0]} rows, digest {expected[1][:12]}"
            )

    return check


def collect(ctx, name: str, df):
    """The action of a query operation: plan (traced run), then collect."""
    rec = ctx.rec
    if rec.trace:
        from spotify_tags_etl_spark.plans.planmetrics import count_metrics

        with rec.span("plans", name):
            plan = df._jdf.queryExecution().executedPlan().toString()
        counts = count_metrics(plan)
        for key, parts in PLAN_COUNTS.items():
            rec.add_counter(key, sum(counts[p] for p in parts))
    with rec.span("operators.exec", name):
        pdf = df.toPandas()
    if rec.trace:
        rec.add_counter("operators.rows_out", len(pdf))
    return pdf


def query_op(ctx, name: str, build, expected: tuple[int, str]):
    """A registered or canned query: ``build()`` returns its DataFrame."""

    def fn():
        with ctx.rec.span("operators.build", name):
            df = build()
        return collect(ctx, name, df)

    return name, fn, expect_digest(name, expected)
