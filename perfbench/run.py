#!/usr/bin/env python3
"""Benchmark for Engine.sql, the builder registry and the change log.

Run from the repository root:

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 20 --trace 0

One process, one client, a closed loop of ops on ``local[nproc]``: a fixed
sequence of ops drawn from ``--seed``, as many rounds of it as ``--seconds``
holds at the workload's nominal round length.  Inputs are generated from
``--seed`` inside ``.perfbench/`` of the working directory, which is
removed at exit.  Correctness is checked outside the timed part.

Output: the second-to-last stdout line is ``{"report": {...}}`` with every
metric of the workload, the per-layer numbers when traced, and the run's
provenance (it is also appended to ``.perfbench/history.jsonl``).  The last
line is the summary the BENCHMARK.json contract asks for: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics.
See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import importlib.util
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from sysprobe import ProcTree, StageProbe, dir_bytes, host_cpu  # noqa: E402

# op kinds whose latency is the workload's op latency; DDL and compaction
# have metrics of their own
LATENCY_KINDS = ("read", "write", "build")


_UNIT_SUFFIXES = (
    ("ops_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_n", "count"),
    ("_pct", "percentile"), ("_ratio", "ratio"), ("space_amp", "ratio"),
    ("_bytes", "bytes"), ("_per_row", "bytes"), ("_calls", "count"),
    ("_per_read", "count"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
)


def unit_of(name: str) -> str:
    """The unit a report metric's name ends in."""
    return next(u for suffix, u in _UNIT_SUFFIXES if name.endswith(suffix))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]):
    """(percentile, value): the highest whole percentile with at least ten
    samples beyond it, or (None, None) when there are too few samples."""
    n = len(xs)
    if n <= 10:
        return None, None
    pct = 100 * (n - 10) // n
    return pct, sorted(xs)[max(0, math.ceil(n * pct / 100) - 1)]  # nearest rank


class Harness:
    """What a workload drives: the session, set-up steps, timed ops, checks."""

    def __init__(
        self, workload: str, seed: int, seconds: float, trace: bool, root: str,
        sf_override: float | None = None,
    ):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.sf_override = sf_override
        self.work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.ops: list[dict] = []
        self.setup: dict[str, dict] = {}
        self.extra: dict = {}
        self.datagen_s = 0.0
        self.sfs: list[float] = []
        self.warehouse: str | None = None
        self._checks: list = []
        self.standalone = {"attempted": 0, "failed": []}
        self._t_timed: float | None = None
        self.timed_wall = 0.0
        self.cpu: dict[str, float] = {}
        self.peak_rss = 0
        self.procs = ProcTree()
        self.host: dict[str, float] = {}
        self.tracer = self.patches = self.stages = self.spark = None
        self._stage_rows: list[dict] = []
        self._stage_range = (0, 0)
        self._input_files: list[str] | None = None

    def start(self) -> None:
        """Start the Spark session (timed as set-up); tracing first if on."""
        self._isolate()
        if self.trace:
            import tracing

            self.tracer = tracing.Tracer()
            self.patches = tracing.install(self.tracer)
        t = time.perf_counter()
        with self.span("session.start"):
            from phoenix_spark.session import get_spark

            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self._add_setup("session.start", [time.perf_counter() - t])
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.stages = StageProbe(self.spark)

    def _isolate(self) -> None:
        """Keep Spark's and the JVM's scratch files inside the run directory."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "{java_opts}" '
            f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'spark-warehouse')} "
            "pyspark-shell"
        )

    # -- set-up ------------------------------------------------------------

    def _add_setup(self, name: str, runs: list[float], median: bool = False) -> None:
        part = self.setup.setdefault(name, {"runs": [], "median": median})
        part["runs"] += runs

    def setup_s(self) -> float:
        return sum(
            _median(p["runs"]) if p["median"] else sum(p["runs"])
            for p in self.setup.values()
        )

    def setup_step(self, name: str, fn):
        """An untimed step that counts toward set-up time (summed per name)."""
        t = time.perf_counter()
        with self.span(name):
            out = fn()
        self._add_setup(name, [time.perf_counter() - t])
        return out

    def repeat_setup(self, name: str, fn, times: int):
        """Run a set-up step several times; set-up time takes its median.
        Returns the last result."""
        runs, out = [], None
        for _ in range(times):
            t = time.perf_counter()
            out = fn()
            runs.append(time.perf_counter() - t)
        self._add_setup(name, runs, median=True)
        return out

    def attach(self, engine_cls, sf_dir: str, warehouse: str):
        with self.span("catalog.attach"):
            return engine_cls(self.spark, sf_dir, warehouse=warehouse)

    def data(self, sf: float) -> str:
        import datagen

        sf = self.sf_override or sf
        t = time.perf_counter()
        sf_dir = datagen.write_tables(self.seed, sf, os.path.join(self.work, "data"))
        self.datagen_s += time.perf_counter() - t
        self.sfs.append(sf)
        return sf_dir

    def scratch(self, name: str, fresh: bool = False) -> str:
        path = os.path.join(self.work, name)
        if fresh:
            shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        if name == "warehouse":
            self.warehouse = path
        return path

    # -- the timed part ----------------------------------------------------

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    @contextlib.contextmanager
    def timed(self):
        cpu0, host0 = self.procs.cpu(), host_cpu()
        first_stage = self.stages.ids()[1] if self.stages else 0
        self.procs.start_sampling()
        self._t_timed = time.perf_counter()
        try:
            yield
        finally:
            self.timed_wall = time.perf_counter() - self._t_timed
            self.peak_rss = self.procs.stop_sampling()
            cpu1, host1 = self.procs.cpu(), host_cpu()
            self.cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
            self.host = {k: host1[k] - host0[k] for k in host1}
            if self.stages is not None:
                # a bounded wait for the status store; stages still ACTIVE
                # or PENDING after it are counted, not waited for
                self.stages.settle()
                self._stage_range = (first_stage, self.stages.ids()[1])
                self._stage_rows = [
                    s for s in self.stages.stages(first_stage)
                    if s["stage_id"] < self._stage_range[1]
                ]

    def rounds(self, round_s: float) -> int:
        """How many rounds of its fixed op sequence a workload times: one per
        ``round_s`` seconds of ``--seconds`` (the nominal length of a round),
        at least one.  The count depends on the arguments only, not on the
        clock, so two runs of one seed run, and fail, the same ops."""
        return max(1, round(self.seconds / round_s))

    def op(self, kind: str, label: str, fn, **attrs):
        """Run one timed op; returns (record, result or None if it raised)."""
        rec = {"id": len(self.ops) + 1, "kind": kind, "label": label, "ok": True, **attrs}
        tag = f"{self.workload}:{rec['id']}"
        sc = self.spark.sparkContext
        sc.setJobDescription(tag)
        traced = self.tracer is not None
        if traced:
            ids0 = self.stages.ids()
            self.tracer.op = tag
            wh0 = dir_bytes(self.warehouse) if kind == "write" and self.warehouse else 0
        self._input_files = None
        result = None
        cpu0 = self.procs.cpu()
        t = time.perf_counter()
        try:
            with self.span(f"op.{kind}", label=label):
                result = fn()
        except Exception as e:  # an op that raises is a failed op, not a crash
            rec["ok"] = False
            rec["error"] = _error_line(e)
        rec["ms"] = (time.perf_counter() - t) * 1000.0
        cpu1 = self.procs.cpu()
        rec["cpu_ms"] = 1000.0 * (_mutator(cpu1) - _mutator(cpu0))
        sc.setJobDescription(None)
        if traced:
            self.tracer.op = None
            ids1 = self.stages.ids()
            rec["tag"] = tag
            rec["job_window"] = (ids0[0], ids1[0])
            rec["stage_window"] = (ids0[1], ids1[1])
            if kind == "write" and self.warehouse:
                rec["bytes_written"] = dir_bytes(self.warehouse) - wh0
                rec["rows_written"] = result if isinstance(result, int) else 0
            if self._input_files is not None:
                rec["input_files"] = self._input_files
        self.ops.append(rec)
        return rec, result

    def _plan(self, df) -> None:
        if self.tracer is not None:
            with self.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001

    def select(self, engine, sql: str, binds: list):
        """Engine.sql, then collect every row: (columns, rows)."""
        df = engine.sql(sql, binds)
        self._plan(df)
        with self.span("exec.action"):
            rows = df.collect()
        if self.tracer is not None:
            self._input_files = list(df.inputFiles())
        return df.columns, rows

    def force(self, builder, sf_dir: str) -> None:
        """Build a registry query and run it whole with a noop write."""
        with self.span("queries.build"):
            df = builder(self.spark, sf_dir)
        self._plan(df)
        with self.span("exec.action"):
            df.write.format("noop").mode("overwrite").save()

    # -- correctness ---------------------------------------------------------

    def check(self, fn) -> None:
        """Queue a check; checks run after the timed part."""
        self._checks.append(fn)

    def wrong(self, rec: dict, problems: list[str]) -> None:
        rec.setdefault("wrong", []).extend(str(p)[:500] for p in problems)

    def verify(self, label: str, problems: list[str]) -> None:
        """A check of output that no single op returned (counted as attempted)."""
        self.standalone["attempted"] += 1
        if problems:
            self.standalone["failed"].append({"label": label, "problems": problems[:3]})

    def run_checks(self) -> float:
        t = time.perf_counter()
        for fn in self._checks:
            try:
                fn()
            except Exception as e:  # a check that cannot run is a failed check
                self.verify(getattr(fn, "__name__", "check"), [f"{type(e).__name__}: {e}"])
        return time.perf_counter() - t

    # -- teardown ------------------------------------------------------------

    def close(self) -> None:
        """Stop Spark and wait until every child process has ended."""
        pids = self.procs.pids()
        if self.patches is not None:
            self.patches.restore()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway  # noqa: SLF001
            proc = getattr(gateway, "proc", None)
            with contextlib.suppress(Exception):
                self.spark.stop()
            with contextlib.suppress(Exception):
                gateway.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.1)
        for p in pids:
            if _alive(p):
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        shutil.rmtree(self.work, ignore_errors=True)


def _mutator(cpu: dict[str, float]) -> float:
    """Process-tree CPU outside the JVM's JIT compiler and GC threads, whose
    bursts the few ops of a run cannot average out (both are reported)."""
    return cpu["total"] - cpu["jvm_jit"] - cpu["jvm_gc"]


def _error_line(e: Exception) -> str:
    """The exception's Spark error class line if it has one, else its first line."""
    text = str(e)
    m = re.search(r"\[[A-Z][A-Z0-9_.]+\][^\n]*", text)
    line = m.group(0) if m else (text.strip().splitlines() or [""])[0]
    return f"{type(e).__name__}: {line[:300]}"


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read().rsplit(b")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != b"Z"


# -- metrics -----------------------------------------------------------------


def op_p50(ops: list[dict], field: str = "ms") -> float:
    """Median over op labels of each label's median ``field``, so an op type
    that ran twice in a run weighs as much as one that ran once."""
    by_label: dict[str, list[float]] = {}
    for o in ops:
        if o["ok"] and o["kind"] in LATENCY_KINDS:
            by_label.setdefault(o["label"], []).append(o[field])
    return _median([_median(xs) for xs in by_label.values()])


def end_to_end(h: Harness) -> dict[str, float]:
    return {
        "setup_s": h.setup_s(),
        "op_p50_ms": op_p50(h.ops),
    }


def workload_metrics(h: Harness) -> dict:
    """The report's workload metrics (README) that apply to the run."""
    out: dict = {
        "wall_s": h.timed_wall,
        "op_cpu_p50_ms": op_p50(h.ops, "cpu_ms"),
        # a failed op is answered too: throughput counts every op attempted
        "ops_per_s": len(h.ops) / h.timed_wall if h.timed_wall else 0.0,
        "cpu_s": h.cpu.get("total", 0.0),
        "cpu_split_s": {k: v for k, v in h.cpu.items() if not k.startswith("total")},
        # the machine's CPU over the timed part, to tell a busy host from a
        # slow program
        "host_cpu_split_s": h.host,
        "peak_rss_mb": h.peak_rss / 1e6,
        "peak_rss_split_mb": {k: v / 1e6 for k, v in h.procs.peak_split.items() if k != "total"},
    }
    for kind in ("read", "write", "build", "ddl"):
        xs = [o["ms"] for o in h.ops if o["ok"] and o["kind"] == kind]
        if not xs:
            continue
        pct, val = tail(xs)
        out[f"{kind}_p50_ms"] = _median(xs)
        out[f"{kind}_tail_ms"] = val
        out[f"{kind}_tail_pct"] = pct
        out[f"{kind}_n"] = len(xs)
    compact = [o["ms"] / 1000.0 for o in h.ops if o["kind"] == "compact" and o["ok"]]
    if compact:
        out["compact_s"] = compact[0]
    out.update(h.extra)
    by_family: dict[str, list[float]] = {}
    for o in h.ops:
        if o["ok"] and "family" in o:
            by_family.setdefault(o["family"], []).append(o["ms"])
    for fam, xs in by_family.items():
        out[f"build_{fam}_p50_ms"] = _median(xs)
        out[f"build_{fam}_n"] = len(xs)
    return out


def per_layer(h: Harness) -> dict[str, float]:
    """Per-layer numbers from the spans and the stage list of a traced run."""
    from tracing import self_ms

    spans = h.tracer.spans
    ops = h.ops
    n_ops = max(1, len(ops))
    by_op: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(i)

    def dur(i):
        return (spans[i]["end"] - spans[i]["start"]) * 1000.0

    def has_ancestor(i, prefix):
        p = spans[i]["parent"]
        while p is not None:
            if spans[p]["name"].startswith(prefix):
                return True
            p = spans[p]["parent"]
        return False

    def named(op, name):
        return [i for i in by_op.get(op["tag"], []) if spans[i]["name"] == name]

    def per_op_total(name, kinds=None):
        sel = [o for o in ops if kinds is None or o["kind"] in kinds]
        if not sel:
            return 0.0
        return sum(sum(dur(i) for i in named(o, name)) for o in sel) / len(sel)

    index_tables = {o.get("index_eligible") for o in ops} - {None}
    stmt_ops = [o for o in ops if any(not has_ancestor(i, "engine.sql") for i in named(o, "engine.sql"))]
    top_sql = {
        o["id"]: [i for i in named(o, "engine.sql") if not has_ancestor(i, "engine.sql")]
        for o in stmt_ops
    }
    write_ops = [o for o in ops if o["kind"] == "write"]
    read_ops = [o for o in ops if o["kind"] == "read"]

    def mutation_write_ms(o, on_index):
        total = 0.0
        for name in ("mutations.upsert_df", "mutations.upsert_rows", "mutations.delete_where"):
            for i in named(o, name):
                if has_ancestor(i, "mutations."):
                    continue
                if (spans[i]["table"] in index_tables) == on_index:
                    total += dur(i)
        return total

    reads = [
        spans[i]
        for o in read_ops
        for i in named(o, "mutations.read")
        if spans[i]["table"] not in index_tables
    ]
    spread = [s for s in spans if s["name"] == "queries.spread" and s["op"] is not None]
    eligible = [o for o in ops if o.get("index_eligible") and o["ok"]]
    hits = [
        o for o in eligible
        if any(f"/{o['index_eligible']}/" in f for f in o.get("input_files", []))
    ]
    written = sum(o.get("rows_written", 0) for o in write_ops if o["ok"])

    # stage attribution: by the op's id window, checked against its tag;
    # every stage the timed part created should belong to exactly one op
    windows = [(o["stage_window"], o["tag"]) for o in ops]
    stage_op: dict[int, str | None] = {}
    for s in h._stage_rows:  # noqa: SLF001
        owner = next((tag for (a, b), tag in windows if a <= s["stage_id"] < b), None)
        if owner is not None and s["description"] not in (None, owner):
            owner = None  # description names another op
        stage_op[s["stage_id"]] = owner
    lo, hi = h._stage_range  # noqa: SLF001
    rows = [s for s in h._stage_rows if stage_op.get(s["stage_id"])]  # noqa: SLF001
    ran = [s for s in rows if s["status"] != "SKIPPED"]

    compact = [dur(i) / 1000.0 for o in ops for i in named(o, "mutations.compact")]
    return {
        "session.start_s": _median(h.setup["session.start"]["runs"]),
        "catalog.attach_s": _median(h.setup.get("catalog.attach", {}).get("runs", [])),
        "catalog.read_table_calls": sum(len(named(o, "catalog.read_table")) for o in ops) / n_ops,
        "catalog.read_table_ms": per_op_total("catalog.read_table"),
        "engine.sql_ms": _median([sum(dur(i) for i in top_sql[o["id"]]) for o in stmt_ops]),
        "engine.front_self_ms": _median(
            [sum(self_ms(spans, i) for i in top_sql[o["id"]]) for o in stmt_ops]
        ),
        "sqlfront.translate_ms": per_op_total("sqlfront.translate"),
        "sqlfront.classify_ms": per_op_total("sqlfront.classify"),
        "catalyst.analyze_ms": per_op_total("catalyst.analyze"),
        "catalyst.plan_ms": per_op_total("catalyst.plan"),
        "queries.build_ms": per_op_total("queries.build", ("build",)),
        "queries.split_memo_hit_ratio": (
            sum(bool(s.get("memo_hit")) for s in spread) / len(spread) if spread else 0.0
        ),
        "mutations.write_ms": (
            sum(mutation_write_ms(o, False) for o in write_ops) / len(write_ops)
            if write_ops else 0.0
        ),
        "mutations.bytes_written_per_row": (
            sum(o.get("bytes_written", 0) for o in write_ops) / written if written else 0.0
        ),
        "mutations.segments_per_read": (
            sum(s["segments"] for s in reads) / len(reads) if reads else 0.0
        ),
        "mutations.read_build_ms": per_op_total("mutations.read", ("read",)),
        "mutations.compact_s": compact[0] if compact else 0.0,
        "indexes.choose_ms": per_op_total("indexes.choose"),
        "indexes.hit_ratio": len(hits) / len(eligible) if eligible else 0.0,
        "indexes.maint_write_ms": (
            sum(mutation_write_ms(o, True) for o in write_ops) / len(write_ops)
            if write_ops else 0.0
        ),
        "exec.action_ms": per_op_total("exec.action"),
        "exec.jobs": sum(o["job_window"][1] - o["job_window"][0] for o in ops) / n_ops,
        "exec.stages": len(ran) / n_ops,
        "exec.tasks": sum(s["tasks"] for s in ran) / n_ops,
        "exec.executor_cpu_s": sum(s["executor_cpu_s"] for s in rows) / n_ops,
        "exec.python_worker_cpu_s": h.cpu.get("python_workers", 0.0) / n_ops,
        "exec.driver_cpu_s": h.cpu.get("driver", 0.0) / n_ops,
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in rows) / n_ops,
        "exec.input_bytes": sum(s["input_bytes"] for s in rows) / n_ops,
        # stage ids the scheduler handed out but the store does not list
        # (evicted, or events not yet seen) count as unattributed too
        "exec.unattributed_stage_ratio": (
            (hi - lo - sum(stage_op[s] is not None for s in stage_op)) / (hi - lo)
            if hi > lo else 0.0
        ),
        "exec.unsettled_stages": sum(
            s["status"] in ("ACTIVE", "PENDING") for s in h._stage_rows  # noqa: SLF001
        ),
        "trace.op_p50_ms": op_p50(ops),
    }


# -- provenance ----------------------------------------------------------------


def provenance(h: Harness, root: str) -> dict:
    import pyspark

    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "phoenix_spark", "**", "*.py"), recursive=True)):
        src.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            src.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        with contextlib.suppress(Exception):
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
    java = None
    with contextlib.suppress(Exception):
        java = h.spark._jvm.System.getProperty("java.version")  # noqa: SLF001
    return {
        "workload": h.workload,
        "seed": h.seed,
        "seconds": h.seconds,
        "trace": h.trace,
        "sf": h.sfs,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": commit,
        "source_sha256": src.hexdigest(),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": sys.version.split()[0],
    }


def tracing_overhead(history: str, prov: dict, traced_p50: float):
    """traced op_p50 / untraced op_p50 of the latest untraced run of the
    same workload, seed and program source, if one is in the history."""
    if not os.path.exists(history):
        return None
    base = None
    with open(history) as f:
        for line in f:
            with contextlib.suppress(ValueError, KeyError):
                row = json.loads(line)
                p = row["provenance"]
                if (
                    not p["trace"]
                    and p["workload"] == prov["workload"]
                    and p["seed"] == prov["seed"]
                    and p["source_sha256"] == prov["source_sha256"]
                ):
                    base = row["end_to_end"]["op_p50_ms"]
    if not base:
        return None
    return {"traced_op_p50_ms": traced_p50, "untraced_op_p50_ms": base,
            "ratio": traced_p50 / base}


# -- entry point ---------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="self-test only: shrink every input to this scale factor")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so Spark is stopped and scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("phoenix_spark") is None or not os.path.isfile(
        os.path.join(root, "tests", "parity.py")
    ):
        print(f"perfbench: no phoenix_spark package or tests/parity.py under {root}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)  # the metric names and units the summary prints
    sys.path.insert(0, os.path.join(root, "tests"))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), root, args.sf)
    try:
        h.start()
        WORKLOADS[args.workload](h)
        check_s = h.run_checks()
        e2e = end_to_end(h)
        layers = per_layer(h) if h.trace else None
        prov = provenance(h, root)
        nesting = []
        if h.tracer is not None:
            from tracing import check_nesting

            nesting = check_nesting(h.tracer.spans)
    finally:
        h.close()

    wrong = [o for o in h.ops if o.get("wrong")]
    raised = [o for o in h.ops if not o["ok"]]
    attempted = len(h.ops) + h.standalone["attempted"]
    failed = len(wrong) + len(raised) + len(h.standalone["failed"])
    metrics = workload_metrics(h)
    metrics["fail_ratio"] = failed / max(1, attempted)
    report = {
        "provenance": prov,
        "end_to_end": e2e,
        "workload_metrics": metrics,
        "setup_parts_s": {k: v["runs"] for k, v in h.setup.items()},
        "datagen_s": h.datagen_s,
        "check_s": check_s,
        "failures": [
            {k: o.get(k) for k in ("id", "label", "error", "wrong")} for o in raised + wrong
        ] + h.standalone["failed"],
        "ops": [{k: o[k] for k in ("id", "kind", "label", "ms", "cpu_ms", "ok")} for o in h.ops],
        "process_s": time.perf_counter() - T_PROCESS,
    }
    history = os.path.join(root, ".perfbench", "history.jsonl")
    report["units"] = {
        k: unit_of(k) for part in (e2e, metrics, layers or {}) for k in part
    }
    if layers is not None:
        report["per_layer"] = layers
        report["span_nesting_problems"] = nesting
        report["tracing_overhead"] = tracing_overhead(history, prov, layers["trace.op_p50_ms"])
    with open(history, "a") as f:
        f.write(json.dumps(report) + "\n")

    units = {m["name"]: m["unit"] for m in spec["per_layer" if layers is not None else "end_to_end"]}
    values = layers if layers is not None else e2e
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": not wrong and not h.standalone["failed"],
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
