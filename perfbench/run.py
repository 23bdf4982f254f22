"""Benchmark entry point.

    python3 perfbench/run.py --workload search_mixed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Generates the
workload's inputs from --seed, sets up a Spark session, measures for
--seconds, checks the outputs, prints a human-readable summary and, as
the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
runs the traced form of the workload and reports the per-layer metrics.
`--workload all` runs every workload in turn, each in a process of its
own (the summary of each, no JSON line). Exits 1 when any operation or output check failed, 2 when
the library is missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def cpu_ticks() -> dict[str, int] | None:
    """Aggregate CPU ticks from /proc/stat; the steal column shows
    co-tenant interference on a shared host."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        keys = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
        return {k: int(v) for k, v in zip(keys, parts[1:9])}
    except OSError:
        return None


def steal_pct(t0, t1) -> float | None:
    if not t0 or not t1:
        return None
    total = sum(t1.values()) - sum(t0.values())
    return 100.0 * (t1["steal"] - t0["steal"]) / total if total > 0 else 0.0


def prepare_env(work: Path) -> None:
    """Environment for the Spark session; must precede the JVM launch."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session default (24g) does not fit a small machine
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    # mapInPandas workers import leann_rs_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    # spill, shuffle and temp files stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def become_subreaper() -> None:
    """Have processes orphaned below this one re-parented to it, not to
    init, so that `reap` can wait for them (Linux only)."""
    try:
        import ctypes

        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap(timeout: float = 20.0) -> None:
    """Wait until no process below this one is left, zombies collected:
    TERM the rest after `timeout`, KILL them after twice it."""
    deadline, sig = time.monotonic() + timeout, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        pids = descendants(os.getpid())
        if not pids:
            return
        if time.monotonic() >= deadline:
            if sig is None:
                print(f"perfbench: processes {pids} did not end", file=sys.stderr)
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline += timeout
            sig = signal.SIGKILL if sig == signal.SIGTERM else None
        time.sleep(0.1)


def stop_spark() -> None:
    """Stop the Spark session and its JVM, and wait until the JVM and
    every Python worker it forked have ended. PySpark leaves the JVM
    running after `spark.stop()`, until the interpreter exits."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap()


def metric_units(kind: str) -> dict[str, str]:
    """name → unit of BENCHMARK.json's `end_to_end` or `per_layer` list."""
    with open(ROOT / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run_one(workload: str, seed: int, seconds: float, trace: bool):
    import workloads as W

    work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    res = W.Result()
    ticks0, t0 = cpu_ticks(), time.perf_counter()
    try:
        W.WORKLOADS[workload](W.Run(workload, seed, seconds, trace, work), res)
        if trace:
            # the traced run's own end-to-end figures; minus the
            # untraced run's, they give the tracing overhead
            res.layers["trace.op_p50_ms"] = res.e2e["op_p50_ms"][0]
            res.layers["trace.items_per_s"] = res.e2e["items_per_s"][0]
    except Exception as exc:  # the workload aborted: one failed operation
        traceback.print_exc()
        res.op(False, f"{workload}: {type(exc).__name__}: {exc}")
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    res.env = {
        "wall_s": round(time.perf_counter() - t0, 1),
        "steal_pct": steal_pct(ticks0, cpu_ticks()),
        "loadavg": list(os.getloadavg()),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }
    return res


def summary(workload: str, res, trace: bool) -> None:
    print(f"== {workload} ({'traced' if trace else 'untraced'}) "
          f"wall {res.env['wall_s']} s, {res.env['cpus']} cpus, "
          f"steal {res.env['steal_pct']}%, loadavg {res.env['loadavg']}")
    frac = res.failed / res.attempted if res.attempted else 1.0
    rows = [(k, v) for k, v in res.e2e.items()] + [(k, v) for k, v in res.detail.items()]
    rows.append(("failed_op_frac", (frac, "ratio", res.attempted)))
    for name, (value, unit, n) in rows:
        if isinstance(value, float):
            value = f"{value:.4f}"
        print(f"  {name:28s} {value} {unit}  (n={n})")
    for err in res.errors[:20]:
        print(f"  FAILED: {err}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    become_subreaper()

    if not (ROOT / "leann_rs_spark" / "__init__.py").is_file():
        print(f"perfbench: no leann_rs_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads as W

    if args.workload == "all":
        # A process per workload: each gets a JVM of its own, started
        # with that workload's environment (spill and temp dirs).
        codes = []
        for name in W.WORKLOADS:
            p = subprocess.run(
                [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                stdout=subprocess.PIPE, text=True)
            lines = p.stdout.splitlines()
            if lines and lines[-1].startswith("{"):
                lines.pop()  # the JSON line; the summary stays
            print("\n".join(lines), flush=True)
            codes.append(p.returncode)
        reap()
        return 0 if all(c == 0 for c in codes) else 1
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {', '.join(W.WORKLOADS)} or all", file=sys.stderr)
        return 2
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    summary(args.workload, res, bool(args.trace))

    values = res.layers if args.trace else {k: v[0] for k, v in res.e2e.items()}
    units = metric_units("per_layer" if args.trace else "end_to_end")
    missing = [n for n in units if not math.isfinite(values.get(n, math.nan))]
    for n in missing:
        print(f"  MISSING: {n}")
    metrics = {n: {"value": float(values[n]) if n not in missing else 0.0, "unit": u}
               for n, u in units.items()}
    correct = res.failed == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": max(res.attempted, 1),
                      "failed": res.failed if res.attempted else 1,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
