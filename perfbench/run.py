"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_hour --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It generates the
workload's inputs from the seed under ``.perfbench_work/`` (removed at the
end), starts one local[4] Spark session, times the workload's operations in
a closed loop with one client for ``--seconds`` seconds, checks every
operation's output, and prints each metric by name with its unit. The last
line of standard output is the JSON result. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates untraced and traced operations
and reports the per-layer metrics, the tracing overhead and the part of the
operation no layer span covers; its spans are written to
``.perfbench_out/``. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
CORES = 4
DRIVER_MEMORY = "2g"


# ---------------------------------------------------------------------------
# Memory of the whole process tree, read from /proc
# ---------------------------------------------------------------------------


def children_of() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(pid: int) -> set[int]:
    children = children_of()
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(pid: int) -> tuple[int, set[int]]:
    """Summed RSS of ``pid`` and its descendants, and their pids. A JVM
    starts a helper by forking itself and then exec'ing; until the exec the
    fork reports all the JVM's pages as its own, so a java child of a java
    process is not counted."""
    children = children_of()
    total, seen, todo = rss_bytes(pid), set(), [pid]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            if c in seen:
                continue
            seen.add(c)
            todo.append(c)
            exe = _exe(c)
            if not (exe.endswith("/java") and exe == _exe(parent)):
                total += rss_bytes(c)
    return total, seen


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class TreeMemory:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) and keeps the peak and every pid seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            total, tree = tree_rss(os.getpid())
            self.seen |= tree
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def spark_conf(work: str) -> dict[str, str]:
    # The Java heap is committed and touched in full at start: G1 otherwise
    # grows it by how busy the machine is, which made peak RSS swing between
    # 1.2 and 2.6 GB from run to run. What moves peak_rss_mb then is memory
    # outside the Java heap: Python workers, Arrow and other native buffers.
    return {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str):
    from s3_access_logs_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_all(spark, mem: TreeMemory) -> None:
    """Stop the session, end the JVM and wait for every process this run
    started to be gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # The JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    pids = mem.seen | descendants(os.getpid())
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------


def run(args, per_layer: list[dict]) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = str(ROOT / ".perfbench_work" / f"{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "duckdb"):
        os.makedirs(f"{work}/{d}")
    os.environ["TMPDIR"] = f"{work}/tmp"
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    spark = None
    failures: list[str] = []
    attempted = 0
    mem = TreeMemory()
    try:
        with mem:
            wl.generate()
            t0 = time.perf_counter()
            spark = wl.spark = start_session(work)
            cold_start = time.perf_counter() - t0
            attempted += wl.build_ops
            bad = wl.build()
            if bad:
                failures.append("build: " + "; ".join(bad))
            print(f"cold start {cold_start:.2f} s; built at "
                  f"{time.perf_counter() - t0:.2f} s", file=sys.stderr)
            setups, starts = [], []
            for _ in range(SETUP_REPS):
                spark.stop()
                t0 = time.perf_counter()
                spark = wl.spark = start_session(work)
                starts.append(time.perf_counter() - t0)
                wl.prepare()
                setups.append(time.perf_counter() - t0)

            attempted += 1
            t0 = time.perf_counter()
            try:
                wl.warmup()
            except Exception:  # noqa: BLE001 - a failed op is counted
                failures.append("warm-up: " + traceback.format_exc(limit=4))
            print(f"warm-up {time.perf_counter() - t0:.2f} s", file=sys.stderr)

            # A fixed number of operations per run: operation times still
            # fall while the JIT warms, so a time-bounded loop would take the
            # median over a varying count and move with machine speed.
            # A traced run makes pairs of one untraced and one traced
            # operation, in alternating order so JIT warming does not favour
            # either side of the overhead comparison.
            n_ops = max(1, math.ceil(args.seconds / wl.op_seconds))
            durations: list[float] = []
            traced_durations: list[float] = []
            items = 0
            for i in range(2 * max(2, n_ops) if args.trace else n_ops):
                traced = bool(args.trace) and (i + i // 2) % 2 == 1
                attempted += 1
                t0 = time.perf_counter()
                try:
                    if traced:
                        with tracer.span("op"):
                            n = wl.op(i, traced)
                    else:
                        n = wl.op(i, traced)
                    dt = time.perf_counter() - t0
                    bad = wl.check(i)
                except Exception:  # noqa: BLE001 - a failed op is counted
                    dt, bad = None, [traceback.format_exc(limit=4)]
                print(f"op {i} traced={traced} {dt} s", file=sys.stderr)
                if bad:
                    failures.append(f"op {i}: " + "; ".join(bad))
                else:
                    (traced_durations if traced else durations).append(dt)
                    if not traced:
                        items += n
            if args.trace:
                attempted += 1
                try:
                    bad = wl.probe()
                except Exception:  # noqa: BLE001 - a failed probe is counted
                    bad = [traceback.format_exc(limit=4)]
                if bad:
                    failures.append("probe: " + "; ".join(bad))
            layer_extra = wl.layer_metrics()
            wl.close()
            stop_all(spark, mem)
            spark = None
    finally:
        if spark is not None:
            stop_all(spark, mem)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(ROOT / ".perfbench_work")

    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    if not durations:
        raise RuntimeError("no operation completed")
    e2e = {
        "setup_s": (statistics.median(setups), "s", SETUP_REPS),
        "op_p50_s": (statistics.median(durations), "s", len(durations)),
        "items_per_s": (items / sum(durations), "1/s", len(durations)),
        "out_bytes_ratio": (wl.out_bytes / wl.raw_bytes, "ratio", 1),
        "peak_rss_mb": (mem.peak / 2**20, "MB", 1),
    }
    if args.trace:
        metrics = layer_metrics(per_layer, tracer, cold_start, starts,
                                durations, traced_durations, layer_extra)
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        tracer.dump(str(out / f"{run_id}-spans.jsonl"))
    else:
        metrics = {k: (v, u) for k, (v, u, _n) in e2e.items()}
    for k, (v, u, n) in e2e.items():
        print(f"{args.workload} {k} = {v:.6g} {u} (n={n})")
    print(f"{args.workload} items = {wl.items}; failed_ops_ratio = "
          f"{len(failures) / attempted:.4g} of {attempted} operations")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(per_layer, tracer, cold_start, starts, durations, traced,
                  extra) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, 0 for a layer this workload does not call.
    ``<span>_s`` is the median self time of span ``<span>``; any other
    ``<layer>.<key>`` is count ``key`` per call of the ``<layer>.*`` span
    that records it."""
    spans = tracer.by_name()
    values = {
        "session.start_s": statistics.median(starts),
        "session.cold_start_s": cold_start,
        "trace.op_p50_s": statistics.median(traced),
        "trace.overhead_ratio":
            statistics.median(traced) / statistics.median(durations) - 1,
        "trace.unaccounted_s": spans["op"]["self_p50_s"],
        **sql_metrics(tracer),
        **extra,
    }
    parse = [s for s in tracer.spans if s.name == "parse.scan_parse"]
    if parse:
        values["parse.lines_per_s"] = (sum(s.counts["lines"] for s in parse)
                                       / sum(s.duration for s in parse))
    out = {}
    for m in per_layer:
        name = m["name"]
        if name not in values:
            layer, key = name.split(".", 1)
            if name.endswith("_s") and name[:-2] in spans:
                values[name] = spans[name[:-2]]["self_p50_s"]
            for span, g in spans.items():
                if span.startswith(layer + ".") and key in g["counts"]:
                    values[name] = g["counts"][key] / g["calls"]
        out[name] = (values.get(name, 0), m["unit"])
    return out


def sql_metrics(tracer) -> dict[str, float]:
    from workloads import QUERY_KINDS

    queries = [s for s in tracer.spans if s.name == "sql.query"]
    out: dict[str, float] = {}
    for kind in QUERY_KINDS:
        d = [s.duration for s in queries if s.counts.get("kind") == kind]
        out[f"sql.{kind}_p50_s"] = statistics.median(d) if d else 0.0
    # The highest percentile with ten samples beyond it.
    d = sorted(s.duration for s in queries)
    out["sql.query_tail_s"] = d[-11] if len(d) > 10 else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the program too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    try:
        import s3_access_logs_spark
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(s3_access_logs_spark.__file__).resolve().parent.parent != ROOT:
        print(f"program imported from outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args, spec["per_layer"])
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
