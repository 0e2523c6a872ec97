"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload weekly_load --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all            # every workload, one after another

Run from the repository root.  One process runs one workload on one
SparkSession (``local[nproc]``), generates its inputs from ``--seed``,
times the workload, checks every answer outside the timed region and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything it
writes (lake, Spark scratch, Spark log, traces) lands under
``.perfbench_work/`` in the repository root; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("weekly_load", "portal_serving")

# rows per generated cut: small enough that a run stays inside the
# budget, large enough that every planted defect reason appears
SIZES = {
    "weekly_load": dict(n_daily=1, viajes_rows=4000, etapas_rows=4000, subidas_rows=1500),
    "portal_serving": dict(n_daily=1, viajes_rows=4000, etapas_rows=12000, subidas_rows=3000),
}
GEN_REPEATS = 3  # set-up repetitions of data generation (median reported)


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


# ── run environment ────────────────────────────────────────────────


def _other_spark_jvms() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            cmd = Path(f"/proc/{name}/cmdline").read_bytes()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            out.append(int(name))
    return out


def _heap() -> str:
    """A quarter of the box's memory, at most 6 GB, at least 1 GB."""
    kb = 16 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{max(1, min(6, kb // (4 << 20)))}g"


def pin_environment(run_dir: Path) -> None:
    """Pin cores, heap, scratch and log destinations before the JVM
    starts."""
    nproc = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    for d in (run_dir / "spark-local", tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=_heap(),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]),
    )
    os.chdir(run_dir)  # spark-warehouse/, derby.log, metastore_db/
    # Spark (and its Python workers) inherit fds 1 and 2: both go to
    # the log, Python's own print() keeps a private copy of stdout
    sys.stdout.flush()
    out_fd = os.dup(1)
    log = os.open(run_dir / "spark.log", os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log, 1)
    os.dup2(log, 2)
    os.close(log)
    sys.stdout = os.fdopen(out_fd, "w", buffering=1)


def spark_conf(tmp: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back from the store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    from tracing import live_descendants

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while live_descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in live_descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while live_descendants():
        time.sleep(0.1)


# ── one workload ───────────────────────────────────────────────────


def _sizes_metric(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, list[str]]:
    run_dir = WORK / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir)
    return _run(workload, seed, seconds, trace, run_dir)


def _run(workload, seed, seconds, trace, run_dir: Path) -> tuple[dict, list[str]]:
    sys.path.insert(0, str(HERE))
    import checks
    import lakegen
    import workloads as W
    from tracing import Tracer, process_tree_usage

    from data_lakehouse_movilidad_publica_santiago_spark.session import get_spark

    tracer = Tracer(enabled=trace)
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])

    # ── set-up: session, data (repeated), lake build for reads ──
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(extra_conf=spark_conf(run_dir / "tmp"))
    session_s = time.perf_counter() - t0
    gen_s, digests = [], set()
    for k in range(GEN_REPEATS):
        g0 = time.perf_counter()
        batch = lakegen.generate(run_dir / f"lake{k}", seed, **SIZES[workload])
        gen_s.append(time.perf_counter() - g0)
        digests.add(batch.digest())
    for k in range(GEN_REPEATS - 1):
        shutil.rmtree(run_dir / f"lake{k}")
    setup_s = session_s + statistics.median(gen_s)
    errors: list[str] = []
    if len(digests) != 1:
        errors.append("generator is not deterministic for one seed")

    phases = {"session_s": session_s, "gen_s": statistics.median(gen_s)}
    try:
        t_run = time.perf_counter()
        if workload == "weekly_load":
            res = W.weekly_load(spark, tracer, batch, nproc, analytics=trace)
        else:
            build = W.Result()
            b0 = time.perf_counter()
            W.build_silver(spark, tracer, batch, build)
            phases["silver_build_s"] = time.perf_counter() - b0
            W.warm_up(spark, tracer, W.SilverLake(spark, batch.root), build)
            phases["warm_pass_s"] = build.samples["warm_ms"][0] / 1000
            setup_s += time.perf_counter() - b0
            res = W.portal_serving(spark, tracer, batch.root, seed, seconds, nproc)
            for k, v in build.samples.items():
                res.samples.setdefault(k, v)
        phases["workload_s"] = time.perf_counter() - t_run
        usage = process_tree_usage()
        t_chk = time.perf_counter()
        tracer.attribute_counters(spark)
        phases["attribute_s"] = time.perf_counter() - t_chk

        # ── checks, outside the timed region ──
        a = res.answers
        try:
            if workload == "weekly_load":
                errors += checks.check_load(
                    batch, batch.root, batch.root / "gold", a.get("rerun_status", "")
                )
            if workload == "weekly_load" and trace:
                con = checks.analytics_twin(batch.root / "gold", W.business.GOLD_TABLES)
                got = a.get("analytics", {})
                for name, sql in W.business.BUSINESS_QUERIES.items():
                    if name not in got:
                        errors.append(f"{name}: no answer")
                        continue
                    sql = sql.format(**W.ANALYTICS_PARAMS) if "{" in sql else sql
                    errors += [f"{name}: {e}" for e in checks.check_query(con, name, sql, got[name])]
            if workload == "portal_serving":
                con = checks.serving_twin(batch.root)
                for req, rows in a.get("requests", []):
                    errors += [f"{req}: {e}" for e in checks.check_request(con, req, rows)]
        except Exception as exc:  # noqa: BLE001 - a broken check is a failed check
            errors.append(f"check raised {type(exc).__name__}: {exc}")
        phases["checks_s"] = time.perf_counter() - t_chk
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t_stop

    raw = batch.raw_bytes
    s = res.samples
    if workload == "weekly_load":
        lake_bytes = _sizes_metric(batch.root / "processed") + _sizes_metric(batch.root / "gold")
        e2e = {
            "setup_s": setup_s,
            "throughput": batch.raw_rows / sum(s["cut_s"]),
            "p50_ms": 1000 * statistics.median(s["daily_cut_s"]),
            "lake_bytes_per_raw_byte": lake_bytes / raw,
        }
    else:
        e2e = {
            "setup_s": setup_s,
            "throughput": sum(s["client_rps"]),
            "p50_ms": statistics.median(s["latency_ms"]),
            "lake_bytes_per_raw_byte": _sizes_metric(batch.root / "processed") / raw,
        }

    layer = per_layer(workload, res, tracer, usage, session_s, batch.root)
    detail = {
        "workload": workload, "seed": seed, "trace": trace,
        "samples": {k: len(v) for k, v in s.items()},
        "phases": phases,
        "end_to_end": e2e, "per_layer": layer,
        "errors": errors + res.errors,
    }  # fmt: skip
    if trace:
        tracer.write(
            WORK / "traces" / f"{workload}-s{seed}-{int(time.time())}.json",
            {"per_layer": layer, "end_to_end": e2e},
        )
        detail["self_times_s"] = tracer.self_times()
    _save_result(detail)
    print(json.dumps(detail, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    values = layer if trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in want}
    correct = not errors and res.failed == 0
    return {
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }, errors + res.errors


def _save_result(detail: dict) -> None:
    d = WORK / "results"
    d.mkdir(parents=True, exist_ok=True)
    name = f"{detail['workload']}-s{detail['seed']}-t{int(detail['trace'])}-{time.time_ns()}.json"
    (d / name).write_text(json.dumps(detail, default=str))


def per_layer(workload, res, tracer, usage, session_s, lake_root: Path) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    s = res.samples
    med = lambda k: statistics.median(s[k]) if s.get(k) else 0.0  # noqa: E731
    m: dict[str, float] = {"session.start_s": session_s}

    def layer_counts(prefix: str, span_name: str) -> None:
        spans = [sp for sp in tracer.spans if sp.name == span_name]
        m[f"{prefix}.shuffle_bytes"] = float(sum(sp.shuffle_bytes for sp in spans))
        m[f"{prefix}.spark_jobs"] = float(sum(sp.jobs for sp in spans))

    for ds in ("viajes", "etapas", "subidas"):
        m[f"silver.{ds}_s"] = med(f"silver.{ds}_s")
    silver = [p for p in (lake_root / "processed").rglob("*") if p.is_file()] \
        if (lake_root / "processed").exists() else []
    m["silver.bytes_written"] = float(sum(p.stat().st_size for p in silver))
    m["silver.files_written"] = float(sum(p.suffix == ".parquet" for p in silver))
    layer_counts("silver", "silver.run_silver")

    for ds in ("viajes", "etapas", "subidas"):
        m[f"gold.{ds}_s"] = med(f"gold.{ds}_s")
    m["gold.skip_s"] = med("gold.skip_s")
    gold = [p for p in (lake_root / "gold").rglob("*") if p.is_file()] \
        if (lake_root / "gold").exists() else []
    m["gold.bytes_written"] = float(sum(p.stat().st_size for p in gold))
    m["gold.files_written"] = float(sum(p.suffix == ".parquet" for p in gold))
    layer_counts("gold", "gold.GoldLoader.run")

    from workloads import QUERY_TYPES
    from data_lakehouse_movilidad_publica_santiago_spark.analytics.business import (
        BUSINESS_QUERIES,
    )

    for qt in QUERY_TYPES:
        m[f"serving.{qt}_p50_ms"] = med(f"serving.{qt}_ms")
    lat = s.get("latency_ms")
    m["serving.p95_ms"] = percentile(lat, 95) if lat else 0.0
    m["serving.requests"] = float(len(lat or []))
    reqs = [sp for sp in tracer.spans if sp.name.startswith("serving.")]
    m["serving.input_bytes_per_request"] = (
        sum(sp.input_bytes for sp in reqs) / len(reqs) if reqs else 0.0
    )
    m["serving.spark_jobs_per_request"] = (
        sum(sp.jobs for sp in reqs) / len(reqs) if reqs else 0.0
    )

    for name in BUSINESS_QUERIES:
        m[f"analytics.{name}_ms"] = med(f"analytics.{name}_ms")
    m["analytics.pass_ms"] = med("pass_ms")
    qspans = [sp for sp in tracer.spans if sp.name.startswith("analytics.q")]
    m["analytics.input_bytes"] = float(sum(sp.input_bytes for sp in qspans))
    m["analytics.shuffle_bytes"] = float(sum(sp.shuffle_bytes for sp in qspans))

    m["process.cpu_s"] = usage["cpu_s"]
    m["process.peak_rss_mb"] = usage["peak_rss_mb"]
    wall = sum(sp.duration for sp in tracer.spans if sp.parent is None) or 1.0
    m["trace.overhead_pct"] = 100.0 * tracer.overhead_s / wall
    return m


# ── CLI ────────────────────────────────────────────────────────────


def run_all(seed: int, seconds: int) -> int:
    """Every workload in its own process, one after another; prints
    each end-to-end metric with its unit and the correctness verdict."""
    spec = _spec()
    status = 0
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__)), "--workload", wl, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True,
        )  # fmt: skip
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{wl}: FAILED (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            status = 1
            continue
        result = json.loads(lines[-1])
        verdict = "correct" if result["correct"] else "INCORRECT"
        print(f"{wl}: {verdict}  attempted={result['attempted']} failed={result['failed']}")
        for m in spec["end_to_end"]:
            v = result["metrics"][m["name"]]
            print(f"  {m['name']:<26} {v['value']:>14.4f} {v['unit']}")
        status |= 0 if result["correct"] else 1
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload")
    args = ap.parse_args(argv)
    seconds = args.seconds or _spec()["run_seconds"]
    if args.all:
        return run_all(args.seed, seconds)
    if not args.workload:
        ap.error("--workload or --all is required")
    sys.path.insert(0, str(ROOT))
    try:
        import data_lakehouse_movilidad_publica_santiago_spark  # noqa: F401
    except ImportError as exc:
        print(f"the program is not in this checkout: {exc}", file=sys.stderr)
        return 2
    others = _other_spark_jvms()
    if others:
        print(f"another Spark JVM is running (pids {others}); refusing to measure",
              file=sys.stderr)  # fmt: skip
        return 3
    result, errors = run_one(args.workload, args.seed, seconds, bool(args.trace))
    for e in errors[:20]:
        print(f"error: {e}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
