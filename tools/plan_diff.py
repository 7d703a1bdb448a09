"""Physical-plan dump and diff across two trees.

    python tools/plan_diff.py dump OUT.json --sf-dir DIR [--shuffle-partitions N]
    python tools/plan_diff.py diff A.json B.json [--show N]

``dump`` builds every ``queries()`` entry against the tables in
``--sf-dir`` plus ``pipeline.build_enriched`` over a
``write_dataset`` table of 5,000 rows (seed 42), and writes each one's
``executedPlan().toString()`` with expression ids (``#123``),
``plan_id=`` values and the generated dataset's directory normalised.
Nothing is executed beyond what building a query runs itself. Run it
from the root of each tree to compare, with the same arguments.

``diff`` prints, per entry, whether two dumps are identical, differ
only in the names of lambda variables (``x_12`` from a Python lambda
against ``h`` from SQL text), or differ; with ``--show N`` it prints the
first N lines of each remaining difference. Exit status 1 if any entry
differs beyond lambda names or is missing from one dump.
"""

from __future__ import annotations

import argparse
import difflib
import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalise(plan: str, data_dir: str | None = None) -> str:
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    if data_dir:
        plan = plan.replace(data_dir, "<data>")
    return plan


def without_lambda_names(plan: str) -> str:
    """``plan`` with every lambda variable given the same name (a plan
    prints each use of one as ``lambda <name>#``), and the scan fields
    that a plan truncates to a fixed length (``DataFilters: [...``) cut
    at the truncation, whose place moves with the names' lengths."""
    plan = re.sub(r"lambda [A-Za-z_]\w*#", "lambda _#", plan)
    return re.sub(r"((?:Data|Pushed|Partition)Filters: \[).*?\.\.\.(?=, )", r"\1...", plan)


def dump(out: str, sf_dir: str, shuffle_partitions: int) -> None:
    import __spark_entry__ as entry
    from logstash_filter_elasticsearch_spark.data.gen import write_dataset
    from logstash_filter_elasticsearch_spark.pipeline import PipelineConfig, build_enriched
    from logstash_filter_elasticsearch_spark.session import get_spark

    spark = get_spark(app_name="plan-diff", cores=4, shuffle_partitions=shuffle_partitions)
    plans: dict[str, str] = {}

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    for name, fn in entry.queries().items():
        plans[name] = normalise(plan_of(fn(spark, sf_dir)))
        spark.catalog.clearCache()
    data_dir = tempfile.mkdtemp(prefix="plan-diff-")
    try:
        seq_dir, lookup_path = write_dataset(data_dir, n_rows=5000, seed=42)
        cfg = PipelineConfig(sequences_path=seq_dir, lookup_path=lookup_path, out_dir=os.path.join(data_dir, "out"))
        plans["build_enriched"] = normalise(plan_of(build_enriched(spark, cfg)), data_dir)
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    spark.stop()
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "shuffle_partitions": shuffle_partitions, "plans": plans}, f, indent=1)
    print(f"{len(plans)} plans -> {out}")


def diff(a_path: str, b_path: str, show: int) -> int:
    with open(a_path) as f:
        a = json.load(f)["plans"]
    with open(b_path) as f:
        b = json.load(f)["plans"]
    same, lambda_only, differ, missing = [], [], [], []
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            missing.append(name)
        elif a[name] == b[name]:
            same.append(name)
        elif without_lambda_names(a[name]) == without_lambda_names(b[name]):
            lambda_only.append(name)
        else:
            differ.append(name)
    total = len(set(a) | set(b))
    print(f"identical: {len(same)}/{total}")
    print(f"lambda names only: {len(lambda_only)} {lambda_only}")
    print(f"differ: {len(differ)} {differ}")
    if missing:
        print(f"in one dump only: {missing}")
    for name in differ if show else ():
        lines = list(difflib.unified_diff(
            a[name].splitlines(), b[name].splitlines(), a_path, b_path, lineterm="", n=0,
        ))
        print(f"--- {name}")
        print("\n".join(lines[:show]))
    return 1 if differ or missing else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump")
    d.add_argument("out")
    d.add_argument("--sf-dir", required=True)
    d.add_argument("--shuffle-partitions", type=int, default=4)
    c = sub.add_parser("diff")
    c.add_argument("a")
    c.add_argument("b")
    c.add_argument("--show", type=int, default=0)
    opts = ap.parse_args()
    if opts.cmd == "dump":
        dump(opts.out, opts.sf_dir, opts.shuffle_partitions)
        return 0
    return diff(opts.a, opts.b, opts.show)


if __name__ == "__main__":
    sys.exit(main())
