#!/usr/bin/env python3
"""Render formatted physical plans of registered queries, with every
pre-checkpoint frame.

    python3 tools/dump_plans.py                      # bench.py's HEADLINE -> PLANS.md
    python3 tools/dump_plans.py q1 q2 [--sf-dir DIR] [--out FILE]

With no query names it regenerates PLANS.md at sf0.001: the artifact
backing the engine's plan-quality claims (pushdown reaching scans,
broadcast dims, whole-stage codegen spans, no Python eval nodes in
relational paths). Named queries go to ``--out`` (default stdout), the
per-query before/after evidence of a plan change (plans/README.md).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from namegraph_collections_spark.queries import REGISTRY  # noqa: E402
from namegraph_collections_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def _ascii_safe(text: str) -> str:
    """Escape bytes grep would treat as binary (NULs from binary-literal
    plan nodes) and non-ASCII glyphs, so PLANS.md stays a greppable text
    artifact."""
    out = []
    for ch in text:
        o = ord(ch)
        if ch in "\n\t" or 0x20 <= o < 0x7F:
            out.append(ch)
        else:
            out.append(f"\\x{o:02x}" if o < 0x100 else f"\\u{o:04x}")
    return "".join(out)

HEADER = """# Physical plans (generated — do not edit)

`tools/dump_plans.py` renders `.explain("formatted")` for every bench
headline query at sf0.001. What to look for, per the engine's design
claims (SURVEY §4): `PushedFilters`/`ReadSchema` on the parquet scans
(pushdown + pruning), `BroadcastHashJoin` on dimension joins, wide
`WholeStageCodegen` spans, partial `HashAggregate` pairs, and no
`BatchEvalPython`/`ArrowEvalPython` in relational hot paths (pandas
UDFs appear only at genuine library boundaries: curation, multimodal).

A `localCheckpoint` truncates the visible plan to `Scan ExistingRDD`,
so queries that checkpoint shared subtrees additionally dump each
PRE-checkpoint frame (sections marked `pre-checkpoint frame N`) —
without them, any shape below a checkpoint would be invisible here
(round-11 verdict; the same capture feeds tests/test_plans.py's
registry-wide guard battery).
"""


def _capture_checkpoints() -> list:
    """Patch DataFrame.localCheckpoint so pre-checkpoint frames are
    captured (same mechanism as tests/test_plans.py:_capture_checkpoints
    — the concrete classic.DataFrame class, not the abstract base)."""
    from pyspark.sql.classic.dataframe import DataFrame

    captured: list = []
    orig = DataFrame.localCheckpoint

    def capturing(self, eager=True):
        captured.append(self)
        return orig(self, eager=eager)

    DataFrame.localCheckpoint = capturing
    return captured


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="registered query names (default: bench.py's HEADLINE into PLANS.md)")
    ap.add_argument("--sf-dir", default=SF)
    ap.add_argument("--out", help="output file (default: PLANS.md without query names, else stdout)")
    args = ap.parse_args()
    names = args.queries or HEADLINE
    spark = get_spark("plan-dump", cpus=8)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    captured = _capture_checkpoints()
    out = [] if args.queries else [HEADER]
    n_pre = 0
    for name in names:
        captured.clear()
        df = REGISTRY[name].fn(spark, args.sf_dir)
        plan = _ascii_safe(df._jdf.queryExecution().explainString(mode))
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
        for i, pre in enumerate(captured, 1):
            pre_plan = _ascii_safe(
                pre._jdf.queryExecution().explainString(mode)
            )
            out.append(
                f"\n### {name} — pre-checkpoint frame {i}\n\n"
                f"```\n{pre_plan}\n```\n"
            )
            n_pre += 1
    path = args.out or (None if args.queries else os.path.join(REPO, "PLANS.md"))
    if path is None:
        sys.stdout.write("".join(out))
        return
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path} with {len(names)} plans + {n_pre} pre-checkpoint frames", file=sys.stderr)


if __name__ == "__main__":
    main()
