"""Operator census of the engine's physical plans, kept in PLANS.md.

Plans, without executing them, every ``queries()`` entry at sf0.01, the
flagship ``CheckReport`` outputs and the ``is_valid_col`` fast path, and
counts per plan the operators the design's claims rest on: exchanges by
partitioning, broadcasts, joins by type, Python evaluation nodes,
in-memory scans, generators and higher-order functions. Each plan is one
sorted line of class names and counts, so a change to a plan shows up as
a changed line in review.

    python tools/plan_census.py --write   # regenerate PLANS.md
    python tools/plan_census.py --check   # exit 1, naming each plan that
                                          # differs from PLANS.md

The census reads AQE's initial plan, never a final one, and walks into
the plan of every cached relation it scans. It runs under the
``spark.sql.*`` settings of ``recommended_conf(4)``, restored afterwards.
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from contextlib import contextmanager
from typing import Callable, Dict, Iterator, List

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from check_oracle import SF_DIR  # noqa: E402  the correctness gate's tables

PLANS_MD = os.path.join(REPO, "PLANS.md")

_HOF = "org.apache.spark.sql.catalyst.expressions.HigherOrderFunction"
_PYTHON_PACKAGE = "org.apache.spark.sql.execution.python."
_COUNTED = {
    "BroadcastExchangeExec",
    "CartesianProductExec",
    "GenerateExec",
    "InMemoryTableScanExec",
}


def physical_nodes(df) -> Iterator:
    """Every physical operator of ``df``'s plan, as py4j ``SparkPlan``
    objects: AQE's initial plan (so no runtime choice shows), the plans
    of the cached relations it scans and those of its subqueries."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        yield node
        if name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        stack += _seq(node.children()) + _seq(node.subqueries())


def _higher_order_functions(node, hof_class) -> Iterator[str]:
    exprs = list(_seq(node.expressions()))
    while exprs:
        e = exprs.pop()
        if hof_class.isInstance(e):
            yield e.getClass().getSimpleName()
        exprs.extend(_seq(e.children()))


def _seq(seq) -> List:
    return [seq.apply(i) for i in range(seq.size())]


def census(df) -> Counter:
    """Operator counts of ``df``'s physical plan, keyed by class name:
    ``Exchange[<partitioning>]``, ``<join>[<join type>]``, Python
    evaluation nodes, ``BroadcastExchange``, ``InMemoryTableScan``,
    ``Generate`` and ``hof:<class>`` per higher-order function."""
    jvm = df.sparkSession._jvm
    hof_class = jvm.java.lang.Class.forName(_HOF)
    counts: Counter = Counter()
    for node in physical_nodes(df):
        cls = node.getClass()
        name = cls.getSimpleName()
        short = name[: -len("Exec")] if name.endswith("Exec") else name
        if name == "ShuffleExchangeExec":
            part = node.outputPartitioning().getClass().getSimpleName()
            counts["Exchange[%s]" % part.rstrip("$")] += 1
        elif name.endswith("JoinExec"):
            counts["%s[%s]" % (short, node.joinType().toString())] += 1
        elif name in _COUNTED or cls.getName().startswith(_PYTHON_PACKAGE):
            counts[short] += 1
        for hof in _higher_order_functions(node, hof_class):
            counts["hof:" + hof] += 1
    return counts


def _line(counts: Counter) -> str:
    return " ".join("%s=%d" % kv for kv in sorted(counts.items())) or "-"


def engine_builders() -> Dict[str, Callable]:
    """The flagship report outputs and the ``is_valid_col`` fast path,
    each over a fresh report of the gate's synthetic docs."""
    from pyspark.sql import functions as F

    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.queries import FLAGSHIP_N_DOCS
    from valideer_spark.sources import synth_docs

    def report_output(spark, output):
        report = ValidationEngine(doc_schema()).check(synth_docs(spark, FLAGSHIP_N_DOCS))
        df = getattr(report, output)()
        # plan while the report holds its frame: a dropped report releases
        # the cache, and a plan made after that would not scan it
        df._jdf.queryExecution().executedPlan()
        return df

    def fast_path(spark):
        docs = synth_docs(spark, FLAGSHIP_N_DOCS)
        valid = ValidationEngine(doc_schema()).plan_for(docs).is_valid_col(docs)
        return docs.select(F.sum(valid.cast("long")))

    builders = {
        "report." + output: (lambda spark, output=output: report_output(spark, output))
        for output in ("verdicts", "violation_rows", "metrics", "partition_metrics", "adapted")
    }
    builders["plan.is_valid_col"] = fast_path
    return builders


def plan_builders() -> Dict[str, Callable]:
    """Every plan of the census: the ``queries()`` entries over the
    correctness gate's tables and :func:`engine_builders`."""
    import __spark_entry__

    builders = {
        name: (lambda spark, fn=fn: fn(spark, SF_DIR))
        for name, fn in __spark_entry__.queries().items()
    }
    builders.update(engine_builders())
    return builders


@contextmanager
def _recommended_sql_conf(spark):
    from valideer_spark.conf import recommended_conf

    conf = {k: v for k, v in recommended_conf(4).items() if k.startswith("spark.sql.")}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def census_lines(spark, builders: Dict[str, Callable]) -> Dict[str, str]:
    """Plan name -> census line of each built plan. The cache is cleared
    before each plan is built, so no plan reads another one's cached
    relation."""
    lines = {}
    with _recommended_sql_conf(spark):
        for name, build in sorted(builders.items()):
            spark.catalog.clearCache()
            lines[name] = _line(census(build(spark)))
        spark.catalog.clearCache()
    return lines


_HEADER = """\
# PLANS — operator census of the engine's physical plans

Generated by `python tools/plan_census.py --write`;
`tests/test_plan_census.py` and `python tools/plan_census.py --check`
fail when a plan no longer matches. One line per plan: its name, then
`operator=count` for the operators below, read from AQE's initial plan
(and the plans of the cached relations it scans) under
`recommended_conf(4)`, on `local[4]` over the correctness gate's `%s`
tables:

- `Exchange[<partitioning>]`: a shuffle;
- `BroadcastExchange`: a broadcast build side;
- `<join>[<join type>]`: a join;
- `ArrowEvalPython`, `BatchEvalPython`, `MapInPandas` and other Python
  evaluation nodes;
- `InMemoryTableScan`: a scan of a cached relation;
- `Generate`: an explode or inline;
- `hof:<class>`: a higher-order function expression, counted in every
  operator that holds it (a final aggregate repeats the functions of
  its partial one).

`report.*` are the outputs of a `CheckReport` of the flagship schema
over the gate's synthetic docs, and `plan.is_valid_col` is the predicate
fast path; every other line is a `queries()` entry.
"""


def render(lines: Dict[str, str]) -> str:
    width = max(map(len, lines))
    body = ["%-*s  %s" % (width, name, lines[name]) for name in sorted(lines)]
    header = _HEADER % os.path.basename(SF_DIR)
    return "\n".join([header, "```", *body, "```", ""])


def parse(text: str) -> Dict[str, str]:
    """Plan name -> census line of a rendered census."""
    body = text.split("```")[1].strip().splitlines()
    return dict(line.split(None, 1) for line in body)


def differing(committed: Dict[str, str], live: Dict[str, str]) -> List[str]:
    """Names of the plans whose census line differs, or that only one of
    the two censuses holds."""
    return sorted(n for n in committed.keys() | live.keys() if committed.get(n) != live.get(n))


def describe(names: List[str], committed: Dict[str, str], live: Dict[str, str]) -> str:
    return "\n".join(
        "%s\n  PLANS.md: %s\n  live:     %s" % (n, committed.get(n), live.get(n))
        for n in names
    )


def main(argv: List[str]) -> int:
    if argv not in (["--write"], ["--check"]):
        print(__doc__)
        return 2
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        live = census_lines(spark, plan_builders())
    finally:
        spark.stop()
    if argv == ["--write"]:
        with open(PLANS_MD, "w") as fh:
            fh.write(render(live))
        print("wrote %s: %d plans" % (PLANS_MD, len(live)))
        return 0
    with open(PLANS_MD) as fh:
        committed = parse(fh.read())
    names = differing(committed, live)
    if names:
        print(describe(names, committed, live))
    print("%d of %d plans differ from PLANS.md" % (len(names), len(live)))
    return 1 if names else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
