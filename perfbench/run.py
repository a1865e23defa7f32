"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the repository root. Every input is generated from ``--seed``
under a temporary directory inside the checkout, which is removed at
exit. Output: one human-readable line per metric (name, value, unit,
sample count), then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the run measures an untraced part, then a traced
one, and the metrics are BENCHMARK.json's per-layer ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "page_sync"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input sizes; the defaults are the benchmark, smaller ones are for tests
    p.add_argument("--sf", type=float, default=0.1, help="dashboard scale factor")
    p.add_argument("--base-rows", type=int, default=600_000, help="page_sync base table rows")
    p.add_argument("--spans", help="also write the traced run's spans to this JSON file")
    return p.parse_args(argv)


def _configure_env(tmp: str) -> None:
    """Keep Spark's scratch, warehouse and JVM temp files under ``tmp``."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        # keep every job and stage of a run in the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--driver-java-options -Djava.io.tmpdir={jtmp}",
        "pyspark-shell",
    ])


def _close_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this driver plus the JVM and every other
    process below it, from /proc (VmHWM)."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me] + _descendants(me)) / 1024.0


def _du_mb(paths: list[str]) -> float:
    total = 0
    for top in paths:
        for root, _dirs, files in os.walk(top):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def tail(values: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it
    (the median when there are fewer than twenty samples)."""
    n = len(values)
    if n < 20:
        return statistics.median(values), 50
    return sorted(values)[n - 11], (100 * (n - 10)) // n


def calibration_s() -> float:
    """A fixed pure-Python loop, timed (host speed, for reading numbers
    across hosts)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


class Report:
    """Human-readable metric lines plus the final JSON's metric dict."""

    def __init__(self, workload: str):
        self.workload = workload
        self.metrics: dict[str, dict] = {}

    def add(self, name: str, value: float, unit: str, n: int, note: str = "") -> None:
        print(f"{self.workload} {name} = {value:.6g} {unit} (n={n}{', ' + note if note else ''})",
              flush=True)
        self.metrics[name] = {"value": float(value), "unit": unit}

    def select(self, spec: list[dict]) -> dict[str, dict]:
        """The metrics ``BENCHMARK.json`` lists, in its order and units."""
        out = {}
        for m in spec:
            got = self.metrics[m["name"]]
            if got["unit"] != m["unit"]:
                raise ValueError(f"{m['name']}: unit {got['unit']} != {m['unit']}")
            out[m["name"]] = got
        return out


def kind_medians(m) -> dict[str, float]:
    """Median latency of each kind of operation: a query, or a page's
    place in its pass."""
    groups: dict[str, list[float]] = {}
    for kind, dt in zip(m.kinds, m.ops):
        groups.setdefault(kind, []).append(dt)
    return {k: statistics.median(v) for k, v in groups.items()}


def end_to_end(rep: Report, wl, m, setup: dict, runs: list) -> None:
    t, pct = tail(m.ops)
    kinds = kind_medians(m)
    rep.add("setup_s", setup["total"], "s", 1,
            f"session {setup['session']:.3f} s + input generation {setup['inputs']:.3f} s"
            f" + base commit {setup['prepare']:.3f} s + warm-up {setup['warmup']:.3f} s")
    rep.add("wall_s", m.wall_s, "s", len(m.ops), "timed phase")
    rep.add("pass_s", sum(kinds.values()), "s", len(m.ops),
            f"sum of the median latency of each of the {len(kinds)} operation kinds")
    rep.add("op_p50_s", statistics.median(m.ops), "s", len(m.ops))
    rep.add("op_tail_s", t, "s", len(m.ops),
            f"p{pct}" + (" (the median: fewer than 20 samples)" if len(m.ops) < 20 else ""))
    if wl.name == "page_sync":
        rep.add("rows_per_s", sum(m.extra["records"]) / sum(m.extra["sync_s"]), "1/s",
                m.passes, "records merged per second of sync")
        rep.add("read_s", statistics.median(m.extra["read_s"]), "s", m.passes,
                "audit + aggregate after the sync")
    rep.add("store_mb", _du_mb(wl.store_dirs()), "MB", 1)
    rep.add("peak_rss_mb", peak_rss_mb(), "MB", 1, "driver + JVM")
    attempted = sum(r.attempted for r in runs)
    rep.add("fail_ratio", sum(r.failed for r in runs) / attempted, "ratio", attempted,
            "failed or wrong operations, output checks included")


def per_layer(rep: Report, wl, tracer, traced, untraced, setup: dict) -> None:
    """Per-layer metrics of the traced part, per operation."""
    tracer.attribute_jobs()
    layers = tracer.by_layer()
    n_ops = max(len(traced.ops), 1)
    names: dict[str, float] = {}
    for r in tracer.spans:
        names[r["name"]] = names.get(r["name"], 0.0) + r["end"] - r["start"]

    def lay(layer, key):
        return layers.get(layer, {}).get(key, 0.0)

    all_jobs = sum(d["jobs"] for d in layers.values())
    c = tracer.counts
    merged = sum(traced.extra.get("records", [0]))
    sync_spans = [r for r in tracer.spans if r["name"] == "pipeline.run_entity_sync"]
    sync_jobs = sum(r.get("jobs", 0) for r in tracer.spans
                    if any(_inside(tracer.spans, r, s) for s in sync_spans))
    pages = len(traced.ops) if wl.name == "page_sync" else 0

    rep.add("session.start_s", setup["session"], "s", 1)
    rep.add("plans.build_s", lay("plans", "s") / n_ops, "s", n_ops, "per op")
    rep.add("plans.build_jobs", lay("plans", "jobs") / n_ops, "count", n_ops, "per op")
    rep.add("plans.build_job_share", lay("plans", "jobs") / max(all_jobs, 1), "ratio",
            int(all_jobs))
    rep.add("spark.action_s", lay("spark", "s") / n_ops, "s", n_ops, "per op")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("shuffle_write_bytes", "bytes"),
                      ("input_bytes", "bytes"), ("spill_bytes", "bytes")):
        total = sum(d[key] for d in layers.values())
        rep.add(f"spark.{key}", total / n_ops, unit, n_ops, "per op, all layers")
    for name in ("commit", "commit_append", "compact", "read"):
        rep.add(f"table_store.{name}_s", names.get(f"table_store.{name}", 0.0) / n_ops, "s",
                n_ops, "per op")
    for key in ("commits", "version_probes", "bytes_written", "files_written"):
        rep.add(f"table_store.{key}", c.get(f"table_store.{key}", 0.0) / n_ops,
                "bytes" if key == "bytes_written" else "count", n_ops, "per op")
    rep.add("table_store.rows_written_per_row_merged",
            c.get("table_store.rows_written", 0.0) / merged if merged else 0.0, "ratio",
            int(merged), "write amplification")
    rep.add("pipeline.step_s", lay("pipeline", "s") / n_ops, "s", n_ops, "per op")
    rep.add("pipeline.self_s", lay("pipeline", "self_s") / n_ops, "s", n_ops,
            "per op, includes page_df.count()")
    rep.add("pipeline.jobs_per_page", sync_jobs / pages if pages else 0.0, "count", pages)
    for layer in ("checkpoint", "watermark"):
        rep.add(f"{layer}.s", lay(layer, "s") / n_ops, "s", n_ops, "per op")
        rep.add(f"{layer}.jobs", lay(layer, "jobs") / n_ops, "count", n_ops, "per op")
    rep.add("sources.page_read_s", lay("sources", "s") / n_ops, "s", n_ops, "per op")
    rep.add("sources.page_rows",
            sum(wl.inputs.page_rows) / wl.inputs.n_pages if pages else 0.0, "rows", pages,
            "records per page")
    # self time per layer; they add up to the traced timed phase
    for layer in sorted(layers):
        rep.add(f"self.{layer}_s", layers[layer]["self_s"] / n_ops, "s", n_ops, "per op")
    traced_op = traced.wall_s / n_ops
    rep.add("trace.wall_op_s", traced_op, "s", n_ops, "traced timed phase per op")
    t_kinds, u_kinds = kind_medians(traced), kind_medians(untraced)
    common = sorted(set(t_kinds) & set(u_kinds))
    rep.add("trace.overhead_s",
            statistics.mean(t_kinds[k] - u_kinds[k] for k in common) if common else 0.0,
            "s", len(common), "traced minus untraced median, per operation kind run in both")
    covered = sum(d["self_s"] for d in layers.values())
    rep.add("trace.unattributed_s", traced_op - covered / n_ops, "s", n_ops,
            "traced wall not covered by any span, per op")


def _inside(spans, r, outer) -> bool:
    while r is not None:
        if r is outer:
            return True
        r = spans[r["parent"]] if r["parent"] is not None else None
    return False


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    import pyspark  # noqa: F401  (fail before making any file)
    import tinyerp_etl_spark  # noqa: F401

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=scratch)
    spark = None
    try:
        _configure_env(tmp)
        from perfbench.trace import Tracer
        from perfbench.workloads import Dashboard, Measured, PageSync
        from tinyerp_etl_spark.session import get_spark

        print(f"host nproc={os.environ['SPARK_GRAFT_CPUS']} spark={pyspark.__version__} "
              f"python_calibration_s={calibration_s():.4f}", flush=True)
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup = {"session": time.perf_counter() - t0}
        tracer = Tracer(spark)
        if args.workload == "dashboard":
            wl = Dashboard(spark, tracer, tmp, args.seed, sf=args.sf)
        else:
            wl = PageSync(spark, tracer, tmp, args.seed, base_rows=args.base_rows)
        for step, fn in (("inputs", wl.generate), ("prepare", wl.prepare)):
            t0 = time.perf_counter()
            fn()
            setup[step] = time.perf_counter() - t0
        checks = Measured()
        t0 = time.perf_counter()
        wl.warm_up(checks)
        setup["warmup"] = time.perf_counter() - t0
        setup["total"] = sum(setup.values())

        report = Report(wl.name)
        runs = [checks]
        if args.trace:
            # one untraced and one traced part of at least a pass each, so
            # both cover every kind of operation and counts per operation
            # repeat from run to run
            untraced, traced = Measured(), Measured()
            wl.measure(untraced, args.seconds / 2, min_ops=wl.pass_ops)
            tracer.install()
            tracer.enabled = True
            try:
                wl.measure(traced, args.seconds / 2, min_ops=wl.pass_ops)
            finally:
                tracer.enabled = False
                tracer.uninstall()
            runs += [untraced, traced]
            wl.final_check(traced)
            per_layer(report, wl, tracer, traced, untraced, setup)
            if args.spans:
                tracer.write(args.spans)
        else:
            m = Measured()
            wl.measure(m, args.seconds, min_ops=wl.min_passes * wl.pass_ops)
            wl.final_check(m)
            runs.append(m)
            end_to_end(report, wl, m, setup, runs)
        attempted = sum(r.attempted for r in runs)
        failed = sum(r.failed for r in runs)
        for r in runs:
            for p in r.problems:
                print(f"{wl.name} FAILED {p}", flush=True)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": report.select(spec)}
    finally:
        if spark is not None:
            _close_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
