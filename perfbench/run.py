"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_filtered --seed 1 \
        --seconds 5 --trace 0

One client runs a closed loop against ``local[<cores>]`` Spark: the
next operation starts when the previous one and its output check are
done. Set-up comes first: session start, seeded input generation,
then the workload's warm-up, which builds what its operations serve
from and checks one call of each operation kind (a workload timed
cold, such as ``dedup_minhash``, has no warm-up). ``setup_s`` is the
time from process start to the first timed operation. The timed phase
then runs whole cycles of the workload's interleave until
``--seconds`` seconds have passed, or exactly ``max_ops`` operations
for a workload that sets it. Spark's cache is cleared after every
operation, untimed, so no operation reuses blocks an earlier one left
behind.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics. With ``--trace 1`` the run wraps each call into an engine
layer in a span, turns on Spark's event log, and the last line carries
the per-layer metrics instead. Either way the full record (metrics,
spans, per-op samples) is written to
``perfbench/.work/results/<workload>-seed<n>-trace<t>.json``; a traced
run that finds the untraced record of the same workload and seed
reports the tracing overhead (traced minus untraced) per end-to-end
metric. Compare two sets of records with ``perfbench/compare.py``.

The run exits non-zero without printing a result when the engine
package or Spark cannot be imported, or when set-up fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE = "vector_databases___hydrate_chroma_db_collection_spark"
HARD_LIMIT_S = 170


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_available() -> bool:
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    return all(importlib.util.find_spec(m) is not None for m in ("pyspark", ENGINE))


def configure_env(work: str, trace: bool) -> str | None:
    """Keep every file the run writes inside ``work`` and, for a traced
    run, turn on an uncompressed, non-rolling event log through the
    launcher (set before the engine builds its session). Returns the
    event-log directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own launcher JVM
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f'--conf "{k}={v}"' for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return log_dir


def stop_spark(spark, kill: bool = False) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started has ended. ``kill`` skips the orderly stop, for a run
    interrupted mid-call."""
    from pyspark import SparkContext

    from spans import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if kill and proc is not None:
        proc.kill()
    try:
        if not kill:
            spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants() and time.monotonic() < deadline + 5:
        time.sleep(0.1)


class Ctx:
    def __init__(self, spark, tracer, workdir, seed):
        self.spark, self.tracer, self.workdir, self.seed = spark, tracer, workdir, seed


def timed_phase(spark, wl, tracer, seconds: float) -> dict:
    """Closed loop: run operations until ``seconds`` have passed, then
    finish the workload's current cycle so every run holds whole
    cycles of its interleave; a workload with ``max_ops`` runs exactly
    that many. Each op's latency and process-tree CPU cover only its
    call; its output check runs untimed."""
    from spans import cpu_delta, cpu_sample
    from workloads import CheckFailed

    tracer.phase = "timed"
    samples, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    i = 0
    while (i < wl.max_ops) if wl.max_ops else (
            time.perf_counter() < t_end or i % wl.cycle):
        op = wl.op(i)
        tracer.op_id = i
        attempted += 1
        ok = True
        with tracer.span("bench.op", kind=op.kind):
            c0, t0 = cpu_sample(), time.perf_counter()
            try:
                result = op.call()
            except Exception:
                traceback.print_exc()
                ok, result = False, None
            lat = time.perf_counter() - t0
            cpu = cpu_delta(c0, cpu_sample())
            if ok:
                with tracer.span("bench.check"):
                    try:
                        op.check(result)
                    except CheckFailed as e:
                        print(f"check failed (op {i}, {op.kind}): {e}", file=sys.stderr)
                        ok = False
                    except Exception:
                        traceback.print_exc()
                        ok = False
        spark.catalog.clearCache()
        failed += not ok
        samples.append({"i": i, "kind": op.kind, "items": op.items, "ok": ok,
                        "latency_s": lat, "cpu": cpu, **op.extras})
        i += 1
    tracer.op_id = None
    return {"samples": samples, "attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    if not engine_available():
        print(f"perfbench: cannot import pyspark and {ENGINE} from {REPO}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    args = parse_args(argv)
    trace = bool(args.trace)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = configure_env(work, trace)

    def on_alarm(_sig, _frm):
        raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(HARD_LIMIT_S)

    import metrics
    from spans import Tracer
    from workloads import WORKLOADS
    from vector_databases___hydrate_chroma_db_collection_spark import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=trace)
    wl = WORKLOADS[args.workload](Ctx(spark, tracer, work, args.seed))
    rc = 1  # stays 1 unless the timed phase completes
    try:
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        wl.warm()
        spark.catalog.clearCache()
        setup_wall = time.perf_counter() - T_START
        run = timed_phase(spark, wl, tracer, args.seconds)
        rc = 0
    except Exception:
        traceback.print_exc()
    finally:
        signal.alarm(0)
        stop_spark(spark, kill=bool(rc))
    if rc:
        shutil.rmtree(work, ignore_errors=True)
        return rc

    record = metrics.build_record(
        args, wl, run, session_s=session_s, setup_wall=setup_wall,
        build_s=build_s, tracer=tracer, log_dir=log_dir,
    )
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    metrics.attach_overhead(record, results)
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for line in metrics.describe(record):
        print(line)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
