"""Dump .explain('formatted') for named queries into plans/<round>/.

    python tools/dump_plans.py r19 before q_graph_cc q_graph_bfs ...
    python tools/dump_plans.py r19 after  q_graph_cc ...

Writes plans/<round>/<query>_<tag>.txt. Iterative queries' plan dumps
show the FINAL returned frame's plan (the tail over materialized
inputs); for those the per-phase shape has to be argued against the
code. Uses the sf0.01 fixtures committed under perfbench/data (plan
shape is scale-independent).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spring_and_kafka_spark import registry  # noqa: E402
from spring_and_kafka_spark.plans import formatted_plan  # noqa: E402
from spring_and_kafka_spark.session import get_spark  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SF = str(ROOT / "perfbench" / "data" / "sf0.01")
PLANS = ROOT / "plans"


def main() -> None:
    rnd, tag, *names = sys.argv[1:]
    out = PLANS / rnd
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump_plans")
    specs = registry.all_specs()
    for name in names:
        df = specs[name].fn(spark, SF)
        (out / f"{name}_{tag}.txt").write_text(formatted_plan(df))
        print(f"wrote {out.name}/{name}_{tag}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
