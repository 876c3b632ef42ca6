"""Plan-audit CLI: print the formatted physical plan of catalog faces.

This is the consumer of ``_registry.EAGER_FACES``: faces listed there
run Spark jobs / filesystem writes / streaming queries at CALL time, so
an explain-everything sweep must skip them ("explaining" one would
trigger its side effects).  Any other face has none: it builds a plan,
and a range-pass face also reads its border histogram.  PLANS.md's
excerpts come from runs of this tool.

Usage::

    python -m uw_mapreduce_spark.plans.explain [name ...]
    python -m uw_mapreduce_spark.plans.explain --all [--sf-dir DIR]

With no names, ``--all`` sweeps the whole catalog (minus EAGER_FACES,
each reported as skipped).  Explicitly-named eager faces still explain
— naming one is opting into its side effects.
"""

from __future__ import annotations

import sys


def explain_catalog(spark, sf_dir: str, names: list[str] | None = None) -> int:
    from .catalog import EAGER_FACES, QUERIES

    selected = names or sorted(QUERIES)
    explicit = names is not None
    failures = 0
    for name in selected:
        if name not in QUERIES:
            print(f"UNKNOWN {name}")
            failures += 1
            continue
        if not explicit and name in EAGER_FACES:
            print(f"SKIP    {name} (eager: runs jobs/writes at call time)")
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # surface, keep sweeping
            print(f"FAIL    {name}: {e}")
            failures += 1
            continue
        print(f"== {name} ==\n{plan}")
    return failures


def main(argv: list[str]) -> int:
    from ..session import get_spark

    args = [a for a in argv if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.001"
    for i, a in enumerate(argv):
        if a == "--sf-dir" and i + 1 < len(argv):
            sf_dir = argv[i + 1]
            args = [x for x in args if x != sf_dir]
    if not args and "--all" not in argv:
        print(__doc__)
        return 0
    spark = get_spark(app_name="explain", master="local[4]", shuffle_partitions=8)
    return 1 if explain_catalog(spark, sf_dir, args or None) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
