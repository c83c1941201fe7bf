"""Benchmark: seeded inputs, timed passes over one workload, oracle check.

Usage (from the repository root):

    python3 perfbench/run.py --workload llm_curation --seed 1 \
        --seconds 10 --trace 0

One run is one driver process on ``local[<usable cores>]``:

1. generate the workload's tables from ``--seed`` (not timed);
2. set up: start the session and warm the workload's tables
   (``setup_s``: process start to here, generation excluded);
3. one cold pass over the workload's queries (``cold_pass_s``);
4. ``WARMUP_PASSES`` untimed warm passes, then timed warm passes until
   ``--seconds`` have been spent and at least ``MIN_TIMED_PASSES`` have
   run (``pass_s``: their median);
5. untimed: compare every query's result in the last pass with its
   DuckDB oracle.

With ``--trace 1`` the whole run writes a Spark event log, and traced
warm passes (spans around every layer) alternate with untraced ones.
The run then prints the per-layer totals of a traced pass (median over
the traced passes) instead of the end-to-end metrics; the tracing
overhead is traced minus untraced pass time, so it covers the spans
and job groups but not the event log, which both kinds of pass share.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
A full report (per-query oracle results, per-pass job/stage/task counts
and the counts that moved between passes) goes to
``.bench_work/reports/``.
"""

from __future__ import annotations

import time

_PROCESS_T0 = time.monotonic()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import SF, WORKLOADS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# Untimed warm passes before the timed ones: after the cold pass the
# driver JVM's JIT keeps speeding passes up for a few more. One is
# taken here and the median sets aside the slower early timed passes;
# more would not fit the benchmark's time budget for all its runs.
WARMUP_PASSES = 1
# Timed warm passes per run, at least: pass_s is their median.
MIN_TIMED_PASSES = 5


def declared_units(kind: str) -> dict[str, str]:
    """``{metric: unit}`` of BENCHMARK.json's ``end_to_end`` or
    ``per_layer`` list: the metrics a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _load_oracle_utils():
    """The repository's oracle comparison rules, imported from
    ``tests/oracle_utils.py`` (the tests directory is not a package)."""
    path = os.path.join(ROOT, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus its JVM (spark-submit execs
    down to java, so the gateway's process is the JVM)."""
    total_kb = 0
    for pid in ("self", spark.sparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh
                             if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def _isolate_temp_dirs(work: str) -> dict[str, str]:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``work`` so a run writes nothing outside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit's launcher JVM reads only this variable.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    return {"spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (its signal to exit)
    and wait for it, so a run leaves no process behind."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Run:
    """One benchmark run: a session over one generated data directory."""

    def __init__(self, spark, entry, names, data_dir):
        self.spark = spark
        self.queries = entry.queries()
        self.oracle = entry.oracle_sql()
        self.names = names
        self.data_dir = data_dir
        self.rec = spans.Recorder(spark.sparkContext)
        self.errors: list[dict] = []
        self.attempted = 0
        self.frames: dict = {}  # query -> its DataFrame in the last pass

    def one_pass(self, tag: str) -> float:
        """Every query in order, each forced with the noop sink; returns
        the pass wall time in seconds."""
        rec = self.rec
        rec.tag = tag
        self.frames = {}
        t0 = time.perf_counter()
        for name in self.names:
            rec.query = name
            self.attempted += 1
            try:
                with rec.span("plans", name):
                    df = self.queries[name](self.spark, self.data_dir)
                with rec.span("engine", name):
                    df.write.format("noop").mode("overwrite").save()
                self.frames[name] = df
            except Exception as exc:  # noqa: BLE001 — one query must not end the run
                self.errors.append({"pass": tag, "query": name,
                                    "error": f"{type(exc).__name__}: {exc}"[:400]})
            finally:
                self.spark.catalog.clearCache()
        return time.perf_counter() - t0

    def check(self, oracle_utils) -> dict[str, str]:
        """Compare each query's DataFrame from the last pass with DuckDB
        running its oracle SQL over the same files; returns
        ``{query: "ok" | reason}``. Collecting a frame runs its plan
        again but not the query function, so eager fits are not
        repeated."""
        con = oracle_utils.duck_connection(self.data_dir)
        result = {}
        try:
            for name in self.names:
                self.attempted += 1
                try:
                    if name not in self.frames:
                        raise RuntimeError("failed in the last pass")
                    oracle_utils.compare_to_oracle(self.frames[name], con,
                                                   self.oracle[name])
                    result[name] = "ok"
                except Exception as exc:  # noqa: BLE001 — recorded as a failure
                    result[name] = f"{type(exc).__name__}: {exc}"[:400]
                    self.errors.append({"pass": "check", "query": name,
                                        "error": result[name]})
                finally:
                    self.spark.catalog.clearCache()
        finally:
            con.close()
        return result

    def query_seconds(self) -> dict[str, dict[str, float]]:
        """``{query: {tag: seconds}}``: plan build plus action."""
        out: dict = {}
        for s in self.rec.spans:
            if s.parent is None:
                per_tag = out.setdefault(s.query, {})
                per_tag[s.tag] = per_tag.get(s.tag, 0.0) + s.end - s.start
        return out

    def pass_counts(self, by_group) -> dict[str, dict[str, dict[str, int]]]:
        """``{query: {tag: {"jobs", "stages", "tasks"}}}``: every span of
        a pass carries its query and pass tag, so summing over spans
        attributes each job to the query that launched it."""
        out: dict = {}
        for s in self.rec.spans:
            c = out.setdefault(s.query, {}).setdefault(
                s.tag, {"jobs": 0, "stages": 0, "tasks": 0})
            jobs, stages, tasks = by_group.get(s.group, (0, 0, 0))
            c["jobs"] += jobs
            c["stages"] += stages
            c["tasks"] += tasks
        return out


def count_drift(counts) -> list[dict]:
    """Counts that differ between warm passes (every pass but the cold
    one) of this run, and counts whose cold-pass value differs from
    every warm pass."""
    flags = []
    for query, per_tag in counts.items():
        for kind in ("jobs", "stages", "tasks"):
            warm = [c[kind] for t, c in per_tag.items() if t != "cold"]
            if len(set(warm)) > 1:
                flags.append({"query": query, "count": kind,
                              "kind": "warm_drift", "values": warm})
            cold = per_tag.get("cold", {}).get(kind)
            if warm and cold is not None and cold not in warm:
                flags.append({"query": query, "count": kind,
                              "kind": "cold_differs", "cold": cold,
                              "warm": warm})
    return flags


def _layer_metrics(run: Run, tag: str, counts_by_group, log_totals,
                   pass_s: float, names) -> dict[str, float]:
    pass_spans = [s for s in run.rec.spans if s.tag == tag]
    lt = spans.layer_totals(pass_spans, counts_by_group)
    ev = log_totals.get(tag, {})
    m = {
        "sources.read_calls": lt.get("sources.calls", 0),
        "sources.read_s": lt.get("sources.incl_s", 0.0),
        "sources.read_jobs": lt.get("sources.jobs", 0),
        "plans.build_s": lt.get("plans.incl_s", 0.0),
        "plans.self_s": lt.get("plans.self_s", 0.0),
        "plans.build_jobs": lt.get("build.jobs", 0),
        "operators.calls": lt.get("operators.calls", 0),
        "operators.self_s": lt.get("operators.self_s", 0.0),
        "operators.jobs": lt.get("operators.jobs", 0),
        "llm.calls": lt.get("llm.calls", 0),
        "llm.self_s": lt.get("llm.self_s", 0.0),
        "llm.jobs": lt.get("llm.jobs", 0),
        "engine.exec_s": lt.get("engine.incl_s", 0.0),
        "trace.pass_s": pass_s,
    }
    for name in names:
        if name.startswith(("engine.", "python.")) and name not in m:
            m[name] = ev.get(name, 0.0)
    run_ms = m["engine.run_ms"]
    m["engine.cpu_ratio"] = m["engine.cpu_ms"] / run_ms if run_ms else 0.0
    return m


def measure(workload, seed: int, seconds: float, trace: bool,
            work: str) -> tuple[dict, dict]:
    data_dir = os.path.join(work, "data")
    t = time.monotonic()
    gen.write_tables(data_dir, seed, SF)
    gen_s = time.monotonic() - t

    conf = _isolate_temp_dirs(work)
    sys.path.insert(0, ROOT)
    # Python workers are started by the JVM and must import the library.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import __spark_entry__ as entry
    from spark_ext_spark.session import get_spark
    oracle_utils = _load_oracle_utils()

    conf.update({"spark.ui.showConsoleProgress": "false",
                 "spark.ui.retainedJobs": "100000",
                 "spark.ui.retainedStages": "100000"})
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t = time.monotonic()
    spark = get_spark("perfbench", master=f"local[{_usable_cores()}]",
                      extra_conf=conf)
    session_s = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    for table in workload.tables:
        spark.read.parquet(os.path.join(data_dir, f"{table}.parquet")).limit(1).collect()
    setup_s = time.monotonic() - _PROCESS_T0 - gen_s

    run = Run(spark, entry, workload.queries, data_dir)
    try:
        cold_s = run.one_pass("cold")
        warm: dict[str, float] = {}
        traced: dict[str, float] = {}

        def untraced_pass():
            tag = f"w{len(warm) + 1}"
            warm[tag] = run.one_pass(tag)

        def traced_pass():
            undo = spans.install_layer_spans(run.rec)
            try:
                tag = f"t{len(traced) + 1}"
                traced[tag] = run.one_pass(tag)
            finally:
                undo()

        for i in range(WARMUP_PASSES):
            run.one_pass(f"u{i + 1}")
        t_start = time.monotonic()
        untraced_pass()
        if trace:
            # Traced passes sit between untraced ones, so pass order
            # (later passes run on a warmer JIT) does not bias the
            # tracing overhead.
            traced_pass()
            untraced_pass()
        while (time.monotonic() - t_start < seconds
               or len(warm) + len(traced) < MIN_TIMED_PASSES):
            if trace:
                traced_pass()
            untraced_pass()
        t = time.monotonic()
        oracle = run.check(oracle_utils)
        check_s = time.monotonic() - t
        run.rec.wait_for_jobs()
        counts_by_group = run.rec.group_counts()
        counts = run.pass_counts(counts_by_group)
        peak_mb = _peak_rss_mb(spark)
    finally:
        _stop_spark(spark)

    report = {
        "workload": workload.name, "seed": seed, "sf": SF,
        "cores": _usable_cores(), "queries": list(workload.queries),
        "gen_s": gen_s, "session_s": session_s, "setup_s": setup_s,
        "cold_pass_s": cold_s, "warm_pass_s": warm, "traced_pass_s": traced,
        "check_s": check_s,
        "peak_rss_mb": peak_mb, "oracle": oracle, "errors": run.errors,
        "attempted": run.attempted, "counts": counts,
        "count_drift": count_drift(counts),
        "query_s": run.query_seconds(),
    }
    if not trace:
        metrics = {"setup_s": setup_s,
                   "pass_s": statistics.median(warm.values()),
                   "cold_pass_s": cold_s}
        report["samples"] = {"setup_s": 1, "pass_s": len(warm),
                             "cold_pass_s": 1}
        return metrics, report

    log_totals = spans.event_log_totals(spans.find_event_log(log_dir))
    names = declared_units("per_layer")
    per_pass = [_layer_metrics(run, tag, counts_by_group, log_totals, s,
                               names)
                for tag, s in traced.items()]
    metrics = {name: statistics.median(p[name] for p in per_pass)
               for name in per_pass[0]}
    metrics["session.start_s"] = session_s
    metrics["trace.untraced_pass_s"] = statistics.median(warm.values())
    metrics["trace.overhead_s"] = (metrics["trace.pass_s"]
                                   - metrics["trace.untraced_pass_s"])
    report["layers_per_pass"] = per_pass
    report["samples"] = {"per_layer": len(per_pass),
                         "trace.untraced_pass_s": len(warm)}
    return metrics, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark_ext_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no __spark_entry__.py under {ROOT}: nothing to measure",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    name = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    try:
        metrics, report = measure(workload, args.seed, args.seconds,
                                  bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = declared_units("per_layer" if args.trace else "end_to_end")
    failed = len(report["errors"])
    report["error_rate"] = failed / report["attempted"]
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{name}.json"), "w") as fh:
        json.dump({"metrics": metrics, **report}, fh, indent=1)
    _print_report(report, metrics, units)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": report["attempted"],
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


def _print_report(report, metrics, units) -> None:
    samples = report["samples"]
    for k, u in units.items():
        n = samples.get(k, samples.get("per_layer", 1))
        print(f"{k:28s} {metrics[k]:14.4f} {u:6s} n={n}")
    # Printed, but not BENCHMARK.json metrics: peak RSS follows when the
    # JVM grows its heap, and moved by up to 0.24 (IQR/median) over ten
    # seeds on a 4-core host, too close to the largest bound allowed;
    # error_rate is 0 on a correct run.
    print(f"{'peak_rss_mb':28s} {report['peak_rss_mb']:14.4f} MB     n=1")
    print(f"{'error_rate':28s} {report['error_rate']:14.4f} ratio  "
          f"n={report['attempted']}")
    for q, res in report["oracle"].items():
        print(f"oracle {q}: {res}")
    for f in report["count_drift"]:
        print("count moved:", json.dumps(f))


if __name__ == "__main__":
    sys.exit(main())
