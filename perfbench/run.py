"""Closed-loop benchmark of the engine's public API, one workload per run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sql_views --seed 1 --seconds 12 --trace 0

One client runs the workload's operations in sequence against a
``local[nproc]`` Spark session, rotating their order on every pass.  Passes
start until ``--seconds`` seconds have elapsed, and at least two complete.
Set-up comes first: input generation from ``--seed``, ``session.get_spark``
and two warm-up passes.
Every output is checked after the timed region.  The last line of standard
output is one JSON object; with ``--trace 0`` it carries the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of the traced passes (see
``perfbench/README.md``).  Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aws_cli_data_pipeline_tools_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")
#: Driver heap for this benchmark's sf0.01 inputs; the session default
#: (16g) is more than a small host has.
DRIVER_MEM = "1g"
#: No perf-data file: the JVM would write it under /tmp, outside the
#: checkout.  Heap sizing is left at the JVM's defaults.
JVM_OPTS = "-XX:-UsePerfData"
#: The first warm-up pass runs cold; the JIT is still compiling through
#: the second, which took 10-20% longer than the passes after it.
WARM_PASSES = 2
MIN_PASSES = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_fit_env(run_dir: str) -> dict[str, str]:
    """Host-fit settings, set through the environment before Spark starts
    and recorded in the output.  Temporary files of Python, the JVM and
    Spark all land under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARKGRAFT_DRIVER_MEM": DRIVER_MEM,
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        # spark-submit's launcher JVM, which starts before any Spark conf
        # applies: no perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    time.tzset()
    return env


def read_host() -> dict[str, float]:
    """Load average and cumulative CPU/steal ticks: recorded, never used
    to select, retry or drop a run."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "ticks": sum(ticks), "steal": ticks[7]}


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest pooled percentile with at least ten samples beyond it:
    ``(value, percentile, sample count)``."""
    s = sorted(samples)
    n = len(s)
    i = max(0, n - 11)
    return s[i], 100.0 * (i + 1) / n, n


def rotated(ops: list, offset: int) -> list:
    k = offset % len(ops)
    return ops[k:] + ops[:k]


def run_op(op, ctx, tracer, op_id: int, pass_idx: int | None):
    """Build then sink one operation; returns (latency, output, error)."""
    t0 = time.perf_counter()
    try:
        with tracer.span(op.name, op.layer, "op", op_id, pass_idx):
            with tracer.span(op.name, op.layer, op.build_phase, op_id, pass_idx):
                value = op.build(ctx)
            with tracer.span(op.name, op.sink_layer, op.sink_phase, op_id,
                             pass_idx):
                out = op.sink(ctx, value)
        return time.perf_counter() - t0, out, None
    except Exception:  # one failed operation must not end the run
        return time.perf_counter() - t0, None, traceback.format_exc()


def temp_views(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(OUT_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    # before the engine is imported: it reads the temp dir at import time
    env = host_fit_env(run_dir)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result, summary, failures = measure(args, env, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p, name, err in failures:
        print(f"FAILED pass {p} {name}:\n{err}", file=sys.stderr)
    print("perfbench " + json.dumps(summary))
    print(json.dumps(result))
    return 0


def measure(args, env: dict[str, str], run_dir: str):
    from aws_cli_data_pipeline_tools_spark.session import get_spark
    from aws_cli_data_pipeline_tools_spark.sources import load_table, register_views
    from perfbench import inputs, workloads
    from perfbench.trace import Tracer, layer_metrics, pass_totals

    t_imports = time.perf_counter() - T_START
    spec = workloads.WORKLOADS[args.workload]
    ops = spec["ops"]
    host0 = read_host()

    # ---- set-up: inputs, session, warm-up pass
    t0 = time.perf_counter()
    sf_dir = inputs.write_tables(os.path.join(run_dir, "inputs"), args.seed,
                                 spec["sf"])
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={env['TMPDIR']} {JVM_OPTS}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    get_spark_s = time.perf_counter() - t0
    try:
        ctx = workloads.Ctx(spark, sf_dir, run_dir)
        tracer = Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        spec["prepare"](ctx)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # in definition order, so that build_ivf_index precedes the
        # ivf_index_topk that reads its index
        for w in range(WARM_PASSES):
            for i, op in enumerate(ops):
                run_op(op, ctx, tracer, -1 - w * len(ops) - i, None)
        warm_pass_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        # ---- timed region: closed loop, one client
        records = []  # (pass, op, latency, output, error)
        pass_s: dict[int, float] = {}
        views_left: list[int] = []
        traced_passes: list[int] = []
        start = time.perf_counter()
        p = 0
        while len(pass_s) < MIN_PASSES or \
                time.perf_counter() - start < args.seconds:
            tracer.enabled = bool(args.trace) and p % 2 == 1
            views0 = temp_views(spark) if tracer.enabled else 0
            t_pass = time.perf_counter()
            for op in rotated(ops, args.seed + p + 1):
                lat, out, err = run_op(op, ctx, tracer, len(records), p)
                records.append((p, op, lat, out, err))
            pass_s[p] = time.perf_counter() - t_pass
            if tracer.enabled:
                traced_passes.append(p)
                views_left.append(temp_views(spark) - views0)
                with tracer.span("register_views", "sources", "register_views",
                                 pass_idx=p):
                    register_views(spark, sf_dir)
                with tracer.span("load_table", "sources", "load_table",
                                 pass_idx=p):
                    load_table(spark, spec["probe_table"], sf_dir)
            p += 1
        tracer.enabled = False
        host1 = read_host()
        rss_mb = {"python": vm_hwm_kb("self") / 1024.0,
                  "jvm": vm_hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024.0}

        # ---- verification, outside the timed region
        verifier = workloads.Verifier(ctx)
        failures = []
        for p_idx, op, _lat, out, err in records:
            if err is None:
                try:
                    op.verify(verifier, out)
                except Exception:  # a wrong output is a failed operation
                    err = traceback.format_exc()
            if err is not None:
                failures.append((p_idx, op.name, err))
    finally:
        stop_spark(spark)

    lat = [r[2] for r in records]
    tail_v, tail_q, n = tail(lat)
    untraced = [v for k, v in pass_s.items() if k not in traced_passes]
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(untraced), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (rss_mb["python"] + rss_mb["jvm"], "MB"),
    }
    ticks = max(1, host1["ticks"] - host0["ticks"])
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host_fit_env": {k: env[k] for k in ("SPARK_GRAFT_CPUS",
                                             "SPARKGRAFT_DRIVER_MEM")},
        "jvm_opts": JVM_OPTS,
        "load1_start": host0["load1"],
        "load1_end": host1["load1"],
        "steal_share": round((host1["steal"] - host0["steal"]) / ticks, 6),
        "setup_split_s": {"imports": round(t_imports, 3),
                          "inputs": round(inputs_s, 3),
                          "get_spark": round(get_spark_s, 3),
                          "prepare": round(prepare_s, 3),
                          "warm_pass": round(warm_pass_s, 3)},
        "passes": len(pass_s),
        "pass_times_s": [round(v, 3) for v in pass_s.values()],
        **{k: f"{v:.6g} {u}" for k, (v, u) in e2e.items()},
        "peak_rss_split_mb": {k: round(v, 1) for k, v in rss_mb.items()},
        # not a BENCHMARK.json metric: at this pass count the highest
        # percentile with ten samples beyond it is a low order statistic
        "op_tail_s": f"{tail_v:.6g} s",
        "op_tail_percentile": round(tail_q, 2),
        "op_samples": n,
        "fail_ratio": f"{len(failures) / len(records):.6g} ratio",
        "failures": [f"pass {p}: {name}: {err.strip().splitlines()[-1]}"
                     for p, name, err in failures],
    }
    if args.trace:
        traced = [pass_s[k] for k in traced_passes]
        metrics = workloads.per_layer_metrics(
            layer_metrics(tracer.spans, traced_passes),
            pass_totals(tracer.spans, traced_passes),
            session={"get_spark_s": get_spark_s, "warm_pass_s": warm_pass_s},
            views_left=statistics.median(views_left),
            overhead_s=statistics.median(traced) - statistics.median(untraced),
        )
        tracer.write(os.path.join(
            OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {
        "correct": not failures,
        "attempted": len(records),
        "failed": len(failures),
        "metrics": metrics,
    }
    return result, summary, failures


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
