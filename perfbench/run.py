"""icelite benchmark: one closed-loop client per run, Spark at local[<cores>].

    python3 perfbench/run.py --workload {maintain,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. A run starts Spark, sets the workload's table
up SETUP_REPS times (``setup_s`` = Spark start + the median set-up), runs
untimed warm-up cycles until two consecutive cycle walls agree, then timed
cycles until ``--seconds`` have passed, then the untimed correctness checks.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` alternates untraced and traced timed cycles and reports the
per-layer metrics: layer numbers from the spans of the traced cycles,
workload numbers from the untraced ones, and the tracing overhead. It also
writes the span file and the layer table to ``.perfbench_work/out/``.

Human-readable lines come first; the last stdout line is one JSON object.
A correctness mismatch prints ``"correct": false`` and exits 1. Everything
the run writes stays under ``.perfbench_work/`` in the repository root
(no fsync: files land in the page cache of the filesystem holding the
checkout); the tables are deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
WARM_AGREE = 0.15  # warm-up ends when two consecutive cycle walls agree this well
TRACE_MIN = 2  # a traced run times at least this many traced and untraced cycles each


def declared_metrics(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def spark_session(work: str, cores: int):
    """Every Spark setting the numbers depend on is pinned here or in
    ``session.get_spark`` (AQE, Arrow, FAIR scheduler, broadcast threshold)."""
    from lakehouse_benchmark_ingestion_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            continue
    return total / 1024


def main() -> int:
    ap = argparse.ArgumentParser(description="icelite benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", choices=("maintain", "query"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    declared = declared_metrics(args.trace)

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for d in (run_dir, os.path.join(work, "out"), os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    # every scratch path Spark, py4j or Python may pick stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short launcher JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    sys.path.insert(0, ROOT)

    from perfbench import workloads

    cores = len(os.sched_getaffinity(0))
    t0 = time.monotonic()
    spark = spark_session(work, cores)
    start_s = time.monotonic() - t0
    try:
        client = workloads.Client(spark, run_dir, args.seed, args.workload)
        metrics, correct = run(args, client, start_s, os.path.join(work, "out"), declared)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    missing, extra = set(declared) - set(metrics), set(metrics) - set(declared)
    if missing or extra:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing {sorted(missing)}, extra {sorted(extra)}")
    for k, unit in declared.items():
        print(f"{args.workload}/{k} = {metrics[k]:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": client.attempted,
                "failed": client.failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in declared.items()},
            }
        )
    )
    return 0 if correct else 1


def run(args, c, start_s: float, out_dir: str, declared: dict[str, str]) -> tuple[dict[str, float], bool]:
    from perfbench import report
    from perfbench.trace import Tracer

    wl = args.workload
    for rep in range(SETUP_REPS):
        c.setup(rep)
    setup_s = start_s + statistics.median(g + b for g, b in zip(c.gen_s, c.build_s))

    # warm-up: the workload's own cycles until two consecutive walls agree
    t = time.monotonic()
    warm: list[float] = []
    while True:
        warm.append(c.cycle())
        steady = len(warm) >= c.p["warm_min"] and (
            len(warm) < 2 or abs(warm[-1] - warm[-2]) <= WARM_AGREE * warm[-2]
        )
        if steady or len(warm) >= c.p["warm_max"]:
            break
    warm_s = time.monotonic() - t

    tracer = Tracer(f"{wl}-seed{args.seed}") if args.trace else None
    c.recording = True
    walls: dict[bool, list[float]] = {False: [], True: []}
    t_start = time.monotonic()
    while time.monotonic() - t_start < args.seconds or (args.trace and min(map(len, walls.values())) < TRACE_MIN):
        # untraced, traced, traced, untraced, ...: the pairs' order alternates
        # so a drift in cycle wall over the run cancels in trace.overhead
        traced = bool(args.trace and (len(walls[False]) + len(walls[True])) % 4 in (1, 2))
        walls[traced].append(c.cycle(tracer if traced else None))
    timed_s = time.monotonic() - t_start

    t = time.monotonic()
    live_logical = c.verify()
    files = c.disk_files()
    print(
        f"{wl}: spark start {start_s:.2f} s; generation {_fmt(c.gen_s)} s; build {_fmt(c.build_s)} s; "
        f"warm-up {warm_s:.2f} s (cycles {_fmt(warm)}); timed {timed_s:.2f} s "
        f"(untraced cycles {_fmt(walls[False])}; traced {_fmt(walls[True])}); checks {time.monotonic() - t:.2f} s"
    )
    for kind, ws in c.op_walls().items():
        print(f"{wl}: op {kind:18s} n={len(ws):4d} mean={statistics.mean(ws) * 1000:9.1f} ms total={sum(ws):7.2f} s")
    per_cycle = report.cycle_walls(c.ops)
    print(f"{wl}: engine-call wall per timed cycle {_fmt(list(per_cycle.values()))} s")
    scans = [o for o in c.ops if o.kind == "scan"]
    print(f"{wl}: full scans wall ms {[round(o.wall * 1000) for o in scans]} cpu ms {[round(o.cpu * 1000) for o in scans]}")

    untraced = report.workload_metrics([o for o in c.ops if not o.traced], sum(files.values()), live_logical)
    if not args.trace:
        for k, v in sorted(untraced.items()):
            print(f"{wl}: workload {k} = {v:.6g}")
        metrics = {k: untraced[k] for k in declared if k != "setup_s"}
        metrics["setup_s"] = setup_s
        return metrics, not c.mismatches and c.failed == 0

    metrics = report.layer_metrics(tracer, [o for o in c.ops if o.traced], len(walls[True]), sum(walls[True]))
    gateway = c.spark.sparkContext._gateway
    jvm = [gateway.proc.pid] if getattr(gateway, "proc", None) is not None else []
    metrics.update(
        {
            "session.start_s": start_s,
            "sources.gen_s": statistics.median(c.gen_s),
            "session.peak_rss_mb": peak_rss_mb([os.getpid()] + jvm),
            "storage.bytes_on_disk": float(sum(files.values())),
            "storage.files_on_disk": float(len(files)),
            "trace.overhead": statistics.median(walls[True]) / statistics.median(walls[False]) - 1,
        }
    )
    metrics.update({k: v for k, v in untraced.items() if k in declared})
    stem = os.path.join(out_dir, f"{wl}-seed{args.seed}")
    tracer.write(stem + ".spans.jsonl")
    table = report.layer_table(wl, metrics, walls)
    with open(stem + ".layers.txt", "w") as f:
        f.write(table)
    print(table, end="")
    return metrics, not c.mismatches and c.failed == 0


def _fmt(xs: list[float]) -> str:
    return ", ".join(f"{x:.2f}" for x in xs)


if __name__ == "__main__":
    sys.exit(main())
