"""pse-spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload daily_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The command builds its inputs from
`--seed`, sets up (Spark session + base store or warm-up op), runs the
workload's op in a closed loop for `--seconds`, checks every result, and
prints report lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics with the program unwrapped;
`--trace 1` alternates traced and untraced ops and reports the per-layer
metrics instead (see perfbench/README.md). Exit status is 0 only when
every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

MAX_CORES = 4
WORK_DIR = ".perfbench_work"  # scratch inside the checkout, removed at exit
OUT_DIR = ".perfbench_out"  # traced runs leave their spans here


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


# -- processes ---------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants
    (the Spark driver JVM, the Python worker daemon and its workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(self.interval):
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in [me, *descendants(me)]))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM, and wait until every process
    it started (the Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(os.getpid())
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in procs):
        time.sleep(0.05)


# -- environment -------------------------------------------------------------


def configure(root: str, work: str) -> dict:
    """Set the program's environment from outside and describe it."""
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, min(MAX_CORES, nproc))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # The stores are small: 1 GiB of driver heap per 8 GiB of host,
    # capped at 2 GiB, keeps the JVM's footprint bounded and comparable.
    driver_gb = max(1, min(2, mem_kb // (1024 * 1024) // 8))
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    return {
        "master": f"local[{cores}]",
        "nproc": nproc,
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        **{k: env[k] for k in ("SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "PYTHONPATH")},
    }


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    # TieredStopAtLevel=1 keeps the driver JVM on C1-compiled code: in a
    # run this short, C2 compile threads compete with the workload for
    # the cores, and op times then differed by up to 1.7x between runs.
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


# -- statistics ----------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it, or None with fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11], n


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- the run -------------------------------------------------------------------


def run(args, root: str, work: str, env: dict) -> tuple[dict, int]:
    from pse_stocks_etl_spark.session import get_spark
    from spans import Tracer, program_targets
    from workloads import WORKLOADS, Inputs, store_bytes_per_row, table_digest, version_files

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=env["master"],
        shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]),
        **spark_conf(work, args.trace),
    )
    session_s = time.perf_counter() - t
    env["spark"] = spark.version
    env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    env["seed"] = args.seed
    report(f"env {json.dumps(env)}")
    try:
        inputs = Inputs.from_seed(args.seed, args.size)
        wl = WORKLOADS[args.workload](spark, work, inputs)
        tracer = Tracer(spark) if args.trace else None
        targets = program_targets() if args.trace else None
        t = time.perf_counter()
        wl.setup()
        # Warm-up ops: the JIT keeps speeding ops up for the first few,
        # so without them the median would depend on how many ops fit.
        for _ in range(wl.warmup_ops):
            wl.prepare()
            _, check = wl.run_op()
            if error := check():
                raise RuntimeError(f"warm-up op failed: {error}")
        setup_s = process_age_s()
        report(f"setup_s {setup_s:.3f}: session {session_s:.3f}, workload set-up {time.perf_counter() - t:.3f}")

        ops: list[dict] = []
        start = time.perf_counter()
        deadline = start + args.seconds
        while (len(ops) < args.ops) if args.ops else (not ops or time.perf_counter() < deadline):
            i = len(ops)
            wl.prepare()
            traced = tracer is not None and i % 2 == 0
            ctx = tracer.op(f"op.{wl.name}", i, targets) if traced else contextlib.nullcontext()
            op = {"traced": traced, "rows": 0, "error": None}
            t = time.perf_counter()
            try:
                with ctx:
                    op["rows"], check = wl.run_op()
                op["s"] = time.perf_counter() - t
                op["error"] = check()
            except Exception:  # a raising op counts as failed; the loop goes on
                op["s"] = time.perf_counter() - t
                op["error"] = traceback.format_exc(limit=-3)
            if wl.name == "store_reads":
                op["kind_s"] = dict(wl.kind_s)
            elif traced and op["error"] is None:
                op["fetched"] = int(wl.ds.last_batch_metrics.get("rows", 0))
                op["files_written"], op["files_linked"], _ = version_files(wl.ds)
            ops.append(op)
        loop_s = time.perf_counter() - start

        rows, final_error = wl.finish()
        if wl.name == "daily_sync":
            wl.vacuum()  # size with the retained versions a vacuum leaves
        bytes_per_row = store_bytes_per_row(wl.ds, len(rows))
        live = version_files(wl.ds)
    finally:
        stop_spark(spark)

    errors = [o["error"] for o in ops if o["error"]] + ([final_error] if final_error else [])
    for e in errors[:5]:
        report(f"FAILED {e}")
    untraced = [o["s"] for o in ops if not o["traced"] and not o["error"]]
    e2e = {
        "op_p50_s": (_median(untraced), "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / loop_s, "rows/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (args.sampler.peak / 2**20, "MB"),
        "store_bytes_per_row": (bytes_per_row, "B/row"),
    }
    named_report(wl, ops, e2e, rows)
    report(f"table_digest {table_digest(rows)}")
    if tracer is None:
        metrics = e2e
    else:
        from layers import layer_metrics, span_table

        metrics = layer_metrics(tracer.spans, os.path.join(work, "events"), ops, session_s, live)
        for line in span_table(tracer.spans):
            report(f"span {line}")
        os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
        out = os.path.join(root, OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"env": env, "ops": ops, "spans": tracer.spans}, f)
        report(f"spans written to {os.path.relpath(out, root)}")
    failed = sum(1 for o in ops if o["error"]) + (1 if final_error else 0)
    result = {
        "correct": not errors,
        "attempted": len(ops) + 1,  # the final table check counts as one op
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, 0 if not errors else 1


def named_report(wl, ops: list[dict], e2e: dict, rows: list) -> None:
    """Human-readable figures under the workload's own names."""
    ok = [o for o in ops if not o["error"]]
    prefix = {"daily_sync": "sync", "backfill": "backfill", "store_reads": "refresh"}[wl.name]
    secs = [o["s"] for o in ok if not o["traced"]]
    report(f"{prefix}_p50_s {_median(secs):.4f} over {len(secs)} ops: " + " ".join(f"{x:.3f}" for x in secs))
    t = tail(secs)
    if t:
        report(f"{prefix}_tail_s p{t[0]:.1f} {t[1]:.4f} (n={t[2]}, 10 beyond)")
    else:
        report(f"{prefix}_tail_s n/a ({len(secs)} ops; needs 11)")
    if wl.name == "store_reads":
        reads = []
        for kind in wl.KINDS:
            ks = [o["kind_s"][kind] for o in ok if not o["traced"]]
            reads += ks
            report(f"{kind}_p50_s {_median(ks):.4f} over {len(ks)} reads")
        t = tail(reads)
        if t:
            report(f"read_tail_s p{t[0]:.1f} {t[1]:.4f} (n={t[2]}, 10 beyond)")
    failed = sum(1 for o in ops if o["error"])
    report(f"failed_ops_frac {failed / max(len(ops), 1):.4f} ({failed}/{len(ops)})")
    report(f"live_rows {len(rows)}")
    for k, (v, u) in e2e.items():
        report(f"{k} {v:.4f} {u}")


def report(line: str) -> None:
    print(f"perfbench: {line}", flush=True)


def main(argv: list[str] | None = None) -> int:
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--ops", type=int, default=0, help="run exactly this many ops instead of --seconds")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pse_stocks_etl_spark", "session.py")):
        print("perfbench: run from the root of a pse-spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = configure(root, work)
    args.sampler = RssSampler()
    args.sampler.start()
    try:
        result, code = run(args, root, work, env)
    finally:
        args.sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(root, WORK_DIR))
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
