"""Benchmark of the CDC engine and its query operators.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run starts a local Spark session on
every core, sets up the workload (inputs from ``--seed``, the DuckDB
oracle, a warmup over the same paths), then runs the workload's closed
loop for ``--seconds`` and on until the workload can stop (``can_stop``),
checks every output against the oracle, and prints the metrics. The last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, and the exit code is 0
only when ``correct`` is true. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
they are the per-layer ones, from spans around the package's public
functions and from Spark's event log. Lines before the last give the run
context and each metric by name and unit.

Everything is written under ``.perfbench/`` in the checkout. The
workspace of a run is deleted at its end; a traced run keeps its spans in
``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # set-up time counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def code_version() -> dict:
    """The git commit when there is one, and a hash of the engine's source."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, fs in sorted(os.walk(os.path.join(ROOT, "nifi_processors_spark"))):
        files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".py")]
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def start_spark(ws: str, cores: int, trace: bool):
    from nifi_processors_spark.session import get_spark

    conf = {"spark.local.dir": f"{ws}/spark-local",
            "spark.sql.warehouse.dir": f"{ws}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ws}/tmp"}
    if trace:
        os.makedirs(f"{ws}/eventlog")
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{ws}/eventlog",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(wl, setup_s: float) -> dict:
    e = wl.e2e()
    return {"setup_s": {"value": setup_s, "unit": "s"},
            "work_per_s": {"value": e["work"] / e["work_s"] if e["work_s"] else 0.0,
                           "unit": "1/s"},
            "op_p50_ms": {"value": 1000 * median(e["op_s"]), "unit": "ms"}}


def describe(name: str, wl, setup_s: float, rss_mb: float, error_rate: float) -> list[str]:
    """The end-to-end metrics under the names used in the engine's docs."""
    e = wl.e2e()
    rate = e["work"] / e["work_s"] if e["work_s"] else 0.0
    out = [f"setup_s = {setup_s:.3f} s", f"peak_rss_mb = {rss_mb:.1f} MB",
           f"error_rate = {error_rate:.4f} (failed / attempted)"]
    if name == "query_suite":
        out.append(f"queries_per_s = {rate:.3f} 1/s")
        out.append(f"query_p50_ms = {1000 * median(e['op_s']):.1f} ms, n = {len(e['op_s'])}")
    else:
        out.append(f"apply_events_per_s = {rate:.1f} 1/s "
                   f"({e['work']} events in {e['work_s']:.3f} s of apply)")
        out.append(f"step_p50_ms = {1000 * median(e['op_s']):.1f} ms, n = {len(e['op_s'])}")
        out.append(f"space_amp = {wl.space_amp():.3f} (table bytes / changelog bytes)")
    for label, xs in wl.describe().items():
        out.append(f"{label}: p50 = {median(xs):.3f} s, n = {len(xs)}")
    return [f"{name}  {line}" for line in out]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    import workloads
    from spans import Tracer, parse_event_log

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {list(workloads.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    ws = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(ws, ignore_errors=True)
    os.makedirs(os.path.join(ws, "tmp"))
    os.environ["TMPDIR"] = os.path.join(ws, "tmp")
    trace = bool(args.trace)
    tracer = Tracer()
    spark = start_spark(ws, cores, trace)
    try:
        wl = workloads.WORKLOADS[args.workload](spark, ws, args.seed, tracer)
        if trace:
            tracer.install()
            # delta files a compaction finds (counted untraced, just before it)
            tracer.before["table.compact"] = lambda table, *a, **k: wl.layer.setdefault(
                "table.delta_files", []).append(table.delta_file_count())
        phases = {"session": time.monotonic() - T0}
        t = time.monotonic()
        wl.prepare()
        phases["prepare"] = time.monotonic() - t
        # the warmup is traced too: the schema drift happens only there
        tracer.enabled = trace
        t = time.monotonic()
        wl.warmup()
        phases["warmup"] = time.monotonic() - t
        tracer.enabled = False
        setup_s = time.monotonic() - T0

        t_start = time.monotonic()
        i = 0
        # past --seconds the window still runs until the workload can
        # stop: every run then times the same mix of steps (TrickleFeed)
        # or enough of them for a steady median (QuerySuite)
        while time.monotonic() - t_start < args.seconds or not wl.can_stop():
            tracer.enabled = trace
            try:
                with tracer.span("step"):
                    more = wl.step()
            except Exception:
                traceback.print_exc()
                wl.failed += 1
                break
            finally:
                tracer.enabled = False
            i += 1
            if not more:
                print(f"{args.workload}: input used up after {i} steps", file=sys.stderr)
                break
        window_s = time.monotonic() - t_start
        tracer.uninstall()
        rss_mb = peak_rss_mb(spark)
        try:
            errors = wl.check()
        except Exception as e:
            traceback.print_exc()
            errors = [f"check raised {e!r}"]
        context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "setup_phases_s": phases, "window_s": window_s, "steps": i,
                   "op_s": wl.e2e()["op_s"], "cpus": cores,
                   "spark_version": spark.version, **code_version(),
                   "sizes": wl.sizes(), "trace": trace}
    finally:
        stop_spark(spark)

    attempted = max(wl.attempted, 1)
    for err in errors:
        print(f"{args.workload}: CHECK FAILED: {err}", file=sys.stderr)
    print(json.dumps({"context": context}))
    if trace:
        from layers import epoch_accounting, layer_metrics

        jobs = parse_event_log(os.path.join(ws, "eventlog"))
        e = wl.e2e()
        metrics = layer_metrics(wl, tracer, jobs, cores,
                                e["work"] / e["work_s"] if e["work_s"] else 0.0, rss_mb)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{args.workload}-seed{args.seed}.json"))
        for k, v in metrics.items():
            print(f"{args.workload}  {k} = {v['value']:.6g} {v['unit']}")
        print(f"{args.workload}  epoch wall: {epoch_accounting(tracer)}")
    else:
        metrics = e2e_metrics(wl, setup_s)
        for line in describe(args.workload, wl, setup_s, rss_mb, wl.failed / attempted):
            print(line)
    shutil.rmtree(ws, ignore_errors=True)
    correct = not errors and wl.failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
