#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with tiny op counts.

Run from the repository root (takes a few minutes; it starts one Spark
session per run):

    python3 perfbench/selftest.py

It checks that
  * every workload, untraced and traced, prints the summary line with every
    metric of BENCHMARK.json, each with its unit, and a report with the
    workload's own metrics;
  * the spans of every traced run nest;
  * tracing adds no Spark job and leaves the executed plan of a sample
    statement and of a sample builder unchanged.
Exits non-zero and prints the problems when a check fails.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# workload -> report["workload_metrics"] keys that must be present
WORKLOAD_KEYS = {
    "sql_interactive": ["wall_s", "cpu_s", "peak_rss_mb", "fail_ratio", "read_p50_ms", "read_tail_ms"],
    "mutation_mix": [
        "wall_s", "cpu_s", "peak_rss_mb", "fail_ratio", "read_p50_ms", "read_tail_ms",
        "write_p50_ms", "write_tail_ms", "compact_s", "space_amp",
    ],
    "builders": ["wall_s", "cpu_s", "peak_rss_mb", "fail_ratio", "build_p50_ms"],
}


def _cli_runs(root: str, spec: dict) -> list[str]:
    problems = []
    for workload in WORKLOAD_KEYS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
            ]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
            where = f"{workload} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                problems.append(f"{where}: exit {p.returncode}: {p.stderr[-1500:]}")
                continue
            summary, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
            if set(summary) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: summary keys {sorted(summary)}")
            if summary["attempted"] < 1:
                problems.append(f"{where}: nothing attempted")
            want = spec["per_layer" if trace else "end_to_end"]
            got = summary["metrics"]
            if set(got) != {m["name"] for m in want}:
                problems.append(f"{where}: metrics {sorted(set(got) ^ {m['name'] for m in want})} differ")
            for m in want:
                v = got.get(m["name"], {})
                if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"]):
                    problems.append(f"{where}: {m['name']} = {v}")
            for key in WORKLOAD_KEYS[workload]:
                if key not in report["workload_metrics"]:
                    problems.append(f"{where}: report lacks {key}")
            if trace:
                problems += [f"{where}: {x}" for x in report["span_nesting_problems"]]
                # builders is off the contract; its queries.* layer is report-only
                for name in ("queries.build_ms", "queries.split_memo_hit_ratio"):
                    if name not in report["per_layer"]:
                        problems.append(f"{where}: report lacks {name}")
            print(f"ok? {not problems} {where}: attempted={summary['attempted']} failed={summary['failed']}", flush=True)
    return problems


def _tracing_is_transparent(root: str) -> list[str]:
    """Run a statement and a builder untraced, then traced, in one session;
    compare Spark job counts and executed-plan strings."""
    import datagen
    import tracing
    from sysprobe import StageProbe

    work = os.path.join(root, ".perfbench", f"selftest-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from phoenix_spark.engine import Engine
    from phoenix_spark.queries import all_queries
    from phoenix_spark.session import get_spark

    problems = []
    spark = get_spark(app_name="perfbench-selftest")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sf_dir = datagen.write_tables(7, 0.001, os.path.join(work, "data"))
        engine = Engine(spark, sf_dir, warehouse=os.path.join(work, "warehouse"))
        probe = StageProbe(spark)
        builder = all_queries()["dedup_minhash_lsh"]
        sql = (
            "SELECT o_orderkey, COUNT(*) AS n FROM orders JOIN lineitem "
            "ON l_orderkey = o_orderkey WHERE o_orderdate < TO_DATE(?) "
            "GROUP BY o_orderkey ORDER BY n DESC, o_orderkey LIMIT 5"
        )

        def plan_of(df) -> str:
            # expression ids (#123) and plan ids differ between analyses of
            # the same query
            text = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
            return re.sub(r"#\d+L?|plan_id=\d+", "#", text)

        def statement(tracer):
            df = engine.sql(sql, ["1997-01-01"])
            plan = plan_of(df)
            df.collect()
            if tracer is not None:
                df.inputFiles()
            return plan

        def build(tracer):
            spark.catalog.clearCache()
            df = builder(spark, sf_dir)
            plan = plan_of(df)
            df.write.format("noop").mode("overwrite").save()
            return plan

        for name, fn in (("statement", statement), ("builder", build)):
            fn(None)  # fill the program's caches before comparing
            j0 = probe.ids()[0]
            plain = fn(None)
            jobs_plain = probe.ids()[0] - j0
            tracer = tracing.Tracer()
            patches = tracing.install(tracer)
            try:
                tracer.op = "selftest:1"
                with tracer.span("op.sample"):
                    j0 = probe.ids()[0]
                    traced = fn(tracer)
                    jobs_traced = probe.ids()[0] - j0
            finally:
                patches.restore()
            if jobs_traced != jobs_plain:
                problems.append(f"{name}: {jobs_traced} jobs traced vs {jobs_plain} untraced")
            if traced != plain:
                problems.append(f"{name}: executed plan changed under tracing")
            if not tracer.spans or tracing.check_nesting(tracer.spans):
                problems.append(f"{name}: spans {tracing.check_nesting(tracer.spans)}")
            print(f"{name}: jobs {jobs_plain} untraced, {jobs_traced} traced; {len(tracer.spans)} spans", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return problems


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = _cli_runs(root, spec) + _tracing_is_transparent(root)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
