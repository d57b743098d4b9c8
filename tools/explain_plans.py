"""Print the physical plans of registry queries (PLANS.md evidence).

Usage: python tools/explain_plans.py [query ...]

With no names it prints every registry query. The ids that change from
run to run are stripped: expression ids (``#123``), plan ids, RDD ids
and the identity hashes of byte-array literals. The output of two
commits can then be compared with ``diff`` to show that a refactor left
every plan unchanged.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from opentelemetry_collector_contrib_spark.session import get_spark

_RUN_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+|(?<=\[B@)[0-9a-f]+")


def main() -> int:
    spark = get_spark(
        master="local[4]", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    qs = entrymod.queries()
    for name in sys.argv[1:] or sorted(qs):
        df = qs[name](spark, "/root/testdata/sf0.001")
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        print(f"\n{'=' * 70}\n## {name}\n{'=' * 70}")
        print(_RUN_IDS.sub("", plan))
    return 0


if __name__ == "__main__":
    sys.exit(main())
