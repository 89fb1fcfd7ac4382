"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run stages seeded inputs, starts a
``local[nproc]`` session, warms up, then runs the workload as a closed loop
with one client for ``--seconds`` in whole units (at least what a median
needs), checks every output, and prints one JSON object as its last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``. It exits 1 when any output is wrong.

Everything the run writes lives in ``perfbench/out/``: a scratch directory
per run (TMPDIR, Spark local dirs, warehouse, stores, inputs), deleted at
exit, and a report per run (environment stamp, samples, metrics; for
traced runs also spans, self times per layer, per-job-group Spark numbers
and the tracing overhead against the untraced runs with the same settings).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DRIVER_MEM = "2g"

E2E_UNITS = {"setup_s": "s", "work_s": "s", "short_s": "s"}


def declared(kind: str) -> list[str]:
    """The metric names ``BENCHMARK.json`` lists under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def stamp(args) -> dict:
    """Environment of the run; results are comparable only with equal
    ``nproc`` (the core count changes store layouts)."""
    import pyspark
    import workloads

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    for pat in ("basis_devkit_spark/**/*.py", "examples/**/*"):
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p) and "__pycache__" not in p:
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "sf": args.sf or workloads.WORKLOADS[args.workload].sf,
        "trace": args.trace,
        "nproc": nproc(),
        "inputs": f"generated from seed {args.seed} (perfbench/datagen.py)",
        "spark": pyspark.__version__,
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_steal_s() -> float:
    """Time this machine's CPUs were taken by other guests (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n))
        for r, _d, names in os.walk(path)
        for n in names
        if os.path.isfile(os.path.join(r, n))
    )


def start_spark(run_dir: str, traced: bool):
    from basis_devkit_spark import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        from tracing import EVENT_LOG_CONF

        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def untraced_work(mine: dict) -> tuple[int, float] | None:
    """Count and median ``work_s`` of the passing untraced reports with the
    same workload and settings as the stamp ``mine``."""
    walls = []
    for path in glob.glob(os.path.join(OUT, f"{mine['workload']}-seed*-trace0-*[0-9].json")):
        with open(path) as f:
            rep = json.load(f)
        st, work = rep["stamp"], rep["end_to_end"]["work_s"]
        if rep["failed"] == 0 and work is not None and all(
            st[k] == mine[k] for k in ("nproc", "sf", "seconds")
        ):
            walls.append(work)
    return (len(walls), statistics.median(walls)) if walls else None


def run(args, run_dir: str) -> tuple[dict, dict]:
    import tracing as tr
    import workloads

    for sub in ("tmp", "spark-local", "warehouse", "store", "data", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SF_DIR=os.path.join(run_dir, "data"),
        SPARK_GRAFT_ORACLE_SF_DIR=os.path.join(run_dir, "data"),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    traced = bool(args.trace)
    spark = start_spark(run_dir, traced)
    tracer = tr.Tracer(traced)
    groups = tr.JobGroups(spark.sparkContext)
    if traced:
        tr.instrument(tracer, groups)
    ctx = SimpleNamespace(
        root=ROOT,
        spark=spark,
        tracer=tracer,
        groups=groups,
        seed=args.seed,
        sf=args.sf,
        corrupt=args.corrupt_expected,
        data_dir=os.path.join(run_dir, "data"),
        store_dir=os.path.join(run_dir, "store"),
    )
    wl = workloads.WORKLOADS[args.workload](ctx)
    attempted = failed = 0
    steal0 = cpu_steal_s()
    try:
        wl.setup()
        setup_s = time.time() - T_START
        # The window holds whole units (a pass for query_mix, a batch for
        # stream_ingest): once the medians have their samples, the next unit
        # starts only if, at the pace of the last one, it ends within
        # --seconds.
        t0 = last = time.perf_counter()
        broken = False
        while not broken:
            now = time.perf_counter()
            if attempted and wl.at_boundary():
                unit, last = now - last, now
                if wl.enough() and now - t0 + unit > args.seconds:
                    break
            attempted += 1
            try:
                failed += not wl.op(attempted)
            except Exception:  # noqa: BLE001 - counted, then reported
                failed += 1
                broken = True
                wl.errors.append(f"op {attempted}: {traceback.format_exc()[-2000:]}")
        tracer.op = attempted + 1
        failed += wl.finish()
        rss = {
            "python": vm_hwm_mb(os.getpid()),
            "jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
        }
    finally:
        stop_spark(spark)
    e2e = {
        "setup_s": setup_s,
        "work_s": wl.work_wall(),
        "short_s": wl.short_wall(),
    }
    report = {
        "stamp": stamp(args),
        "attempted": attempted,
        "failed": failed,
        "errors": wl.errors,
        "samples": wl.samples,
        "end_to_end": e2e,
        "peak_rss_mb": {**rss, "total": sum(rss.values())},
        "tmp_bytes_left": dir_bytes(os.path.join(run_dir, "tmp")),
        "cpu_steal_s": cpu_steal_s() - steal0,
    }
    if not traced:
        return report, {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in declared("end_to_end")}
    elog = tr.read_event_log(os.path.join(run_dir, "eventlog"))
    layers, per_group = tr.layer_metrics(
        tracer, elog, wl.input_bytes, workloads.SHORT + workloads.HEAVY, workloads.STREAM_NODES
    )
    layers["queries.tmp_bytes_left"] = (report["tmp_bytes_left"], "bytes")
    layers["process.peak_rss_mb"] = (sum(rss.values()), "MB")
    report["per_layer"] = {k: v for k, (v, _u) in layers.items()}
    report["spark_groups"] = per_group
    report["self_times"] = tr.self_time_table(tracer.spans)
    base = untraced_work(report["stamp"])
    report["tracing_overhead"] = (
        {
            "untraced_runs": base[0],
            "untraced_work_s": base[1],
            "traced_work_s": e2e["work_s"],
            "overhead_s": e2e["work_s"] - base[1],
        }
        if base and e2e["work_s"] is not None
        else None
    )
    report["unresolved_parents"] = tr.unresolved_parents(tracer.spans)
    report["spans_file"] = os.path.basename(report_path(args, "spans"))
    tracer.dump(report_path(args, "spans"))
    return report, {k: {"value": v, "unit": u} for k in declared("per_layer") for v, u in [layers[k]]}


def report_path(args, kind: str = "report") -> str:
    suffix = "" if kind == "report" else f".{kind}"
    return os.path.join(
        OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}{suffix}.json"
    )


def main() -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="input scale override (self-check)")
    p.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="feed the correctness gate a wrong expected value (self-check)",
    )
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "basis_devkit_spark", "__init__.py")):
        print(f"perfbench: no basis_devkit_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(OUT, exist_ok=True)
    try:
        report, metrics = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    path = report_path(args)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    for err in report["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    correct = report["failed"] == 0
    print(f"perfbench: {json.dumps(report['stamp'])}")
    print(f"perfbench: report {path}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
