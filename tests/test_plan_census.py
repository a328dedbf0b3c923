"""The committed operator census (PLANS.md) is the live one: a change to
any plan that ``tools/plan_census.py`` walks fails here, naming the plan,
until ``python tools/plan_census.py --write`` records it."""

import os
import re
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import plan_census  # noqa: E402


def _committed():
    with open(plan_census.PLANS_MD) as fh:
        return plan_census.parse(fh.read())


def test_plans_md_is_the_live_census(spark):
    live = plan_census.census_lines(spark, plan_census.plan_builders())
    committed = _committed()
    names = plan_census.differing(committed, live)
    assert not names, plan_census.describe(names, committed, live)


def test_census_names_the_plan_of_a_planted_shuffle(spark, monkeypatch):
    from valideer_spark.engine import CheckReport

    verdicts = CheckReport.verdicts
    monkeypatch.setattr(CheckReport, "verdicts", lambda self: verdicts(self).repartition(3))
    live = plan_census.census_lines(spark, plan_census.engine_builders())
    committed = {name: line for name, line in _committed().items() if name in live}
    assert sorted(live) == sorted(committed)
    assert plan_census.differing(committed, live) == ["report.verdicts"]
    assert "Exchange[RoundRobinPartitioning]=1" in live["report.verdicts"]


def test_census_holds_class_names_and_counts_only():
    """No expression id, lambda variable or partition count: only
    ``Class=n``, ``Class[Kind]=n`` and ``hof:Class=n`` entries."""
    entry = re.compile(r"^(hof:)?[A-Z][A-Za-z]*(\[[A-Z][A-Za-z]*\])?=[1-9][0-9]*$")
    committed = _committed()
    assert len(committed) >= 56
    for name, line in committed.items():
        if line != "-":
            bad = [e for e in line.split() if not entry.match(e)]
            assert not bad, (name, bad)
