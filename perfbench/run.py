"""Repository benchmark: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py): kg_build, dedup_corpus.
The load is a closed loop with one client: the operations of a pass run one
after another in this process, on a local[nproc] session, until --seconds have
passed (at least one pass). Outputs are checked after the loop, outside the
clock. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 its per-layer ones, and a
traced run also prints a per-operation self-time table and writes its spans
under .perfbench_out/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


# ---------------------------------------------------------------------------
# process tree: peak memory, and waiting for every started process to end
# ---------------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _tree_pss_bytes() -> int:
    """Proportional set size of this process and its descendants: forked
    Python workers share pages with their daemon, and PSS counts a shared page
    once in total where RSS would count it in every process."""
    total = 0
    for p in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakPss(threading.Thread):
    """Samples the memory of this process and all its descendants (the Spark
    JVM and the Python workers) and keeps the largest sum."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, _tree_pss_bytes())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: steal is time the host
    gave to other guests, the main source of run-to-run noise in a VM."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every process this run
    started (the JVM exits when its stdin closes; its Python workers follow)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in _descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while _descendants(os.getpid()) and time.time() < deadline + 10:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _pin_env(work: str) -> dict[str, str]:
    """Everything the session depends on, set before the JVM starts; all
    scratch space lives in the work dir. Returns the session's extra conf."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    for k in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_CONSTRAINT_PROP", "SPARK_GRAFT_DEBUG_CLOSURE"):
        os.environ.pop(k, None)
    os.environ.update(
        SPARK_GRAFT_MASTER=f"local[{cpus}]",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
    )
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # a fixed-size heap, so peak memory does not depend on when the heap grows
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _layer_name(phase: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", phase)


def _per_layer(wl, records: list[dict]) -> dict[str, float]:
    """Per-layer metrics of a traced run: medians over each operation's
    executions of its layer self times, counts and Spark counters."""
    by_op: dict[str, list[dict]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r)

    def self_s(op: str, layer: str) -> float:
        return _med([r["self"].get(layer, 0.0) for r in by_op.get(op, [])])

    def attr(op: str, layer: str, key: str) -> float:
        return _med([r["attrs"].get(layer, {}).get(key, 0) for r in by_op.get(op, [])])

    def phases(op: str, prefix: str) -> None:
        # closure.phase_walls() of the operation: walls, and the flat-round
        # count of the property closure where that loop ran
        for phase in by_op[op][-1]["phases"]:
            vals = [r["phases"].get(phase, 0.0) for r in by_op[op]]
            if phase == "property_closure.flat_rounds_count":
                m["closure.property_closure.flat_rounds"] = _med(vals)
            else:
                m[prefix + _layer_name(phase) + "_s"] = _med(vals)

    m: dict[str, float] = dict(wl.counts)
    if "build" in by_op:
        from workloads import STAGES

        for st in STAGES:
            m[f"pipeline.{st}_s"] = self_s("build", "pipeline." + st)
        m["tables.write_s"] = self_s("build", "tables.write")
        m["tables.bytes_written"] = attr("build", "tables.write", "bytes")
        m["tables.read_s"] = self_s("build", "tables.read")
        m["export.s"] = self_s("build", "export")
        m["analysis.s"] = self_s("build", "analysis")
        m["resume.tables.read_s"] = self_s("resume", "tables.read")
        m["checkpoint.validate_s"] = self_s("resume", "checkpoint.validate")
        phases("build", "closure.")
    if "entail_dist" in by_op:
        phases("entail_dist", "closure.dist.")
    if "doc_pass" in by_op:
        m["doc_pipeline.docs_per_s"] = wl.size["pages"] / _med([r["wall"] for r in by_op["doc_pass"]])
    for op in by_op:
        m[f"ops.{op}_s"] = _med([r["wall"] for r in by_op[op]])
        if op.startswith(("dedup_", "text_")):
            m[f"queries.{op}_s"] = self_s(op, "queries." + op)
    cores = len(os.sched_getaffinity(0))
    for i, ops in enumerate(wl.SLOTS, 1):
        def total(key: str) -> float:
            return sum(_med([r["spark"][key] for r in by_op[op]]) for op in ops)

        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_s"):
            m[f"spark.op{i}.{key}"] = total(key)
        wall = sum(_med([r["wall"] for r in by_op[op]]) for op in ops)
        m[f"spark.op{i}.busy_ratio"] = m[f"spark.op{i}.executor_run_s"] / (wall * cores)
        m[f"spark.op{i}.task_max_over_median"] = max(
            _med([r["spark"]["task_max_over_median"] for r in by_op[op]]) for op in ops
        )
    return m


def _print_table(records: list[dict]) -> None:
    """Self time per layer for each operation of the last pass; the rows of
    an operation, "unattributed" included, add up to its traced wall."""
    last = records[-1]["pass"]
    print(f"{'operation':<30} {'layer':<38} {'self_s':>9}")
    for r in (x for x in records if x["pass"] == last):
        for layer, s in sorted(r["self"].items(), key=lambda kv: -kv[1]):
            print(f"{r['op']:<30} {layer:<38} {s:9.3f}")
        total = sum(r["self"].values())
        print(f"{r['op']:<30} {'= sum (traced wall ' + format(r['wall'], '.3f') + ')':<38} {total:9.3f}")


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def run(args, work: str) -> dict:
    conf = _pin_env(work)
    if args.trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    sys.path.insert(0, ROOT)
    from spans import SparkCounters, Tracer, instrument

    from workloads import WORKLOADS

    from kbase_cdm_ontologies_spark.session import get_spark

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(bool(args.trace), run_id)
    if args.trace:
        instrument(tracer)

    mem = PeakPss()
    mem.start()
    steal0 = _cpu_steal()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        counters = SparkCounters(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0

        attempted = failed = 0
        walls: dict[str, list[float]] = {op: [] for op, _ in wl.OPS}
        records: list[dict] = []
        passes: list[float] = []
        start = time.perf_counter()
        while True:
            n = len(passes)
            t_pass = time.perf_counter()
            for op in (op for op, times in wl.OPS for _ in range(times)):
                attempted += 1
                group = f"{run_id}:{op}:{attempted}"
                if counters:
                    counters.begin(group)
                with tracer.span("op." + op) as root:
                    t = time.perf_counter()
                    try:
                        wl.run(op)
                    except Exception:
                        failed += 1
                        traceback.print_exc()
                    dt = time.perf_counter() - t
                walls[op].append(dt)
                if counters:
                    attrs: dict[str, dict] = {}
                    for s in tracer.spans[root["id"] + 1:]:
                        acc = attrs.setdefault(s["name"], {})
                        acc["bytes"] = acc.get("bytes", 0) + s.get("bytes", 0)
                    records.append({
                        "op": op, "pass": n, "wall": root["end"] - root["start"],
                        "self": tracer.self_times(root["id"]),
                        "attrs": attrs,
                        "phases": wl.phases.get(op, {}),
                        "spark": counters.collect(group),
                    })
            passes.append(time.perf_counter() - t_pass)
            if time.perf_counter() - start >= args.seconds:
                break
        peak_pss_mb = mem.stop()
        t_check = time.perf_counter()
        try:
            fails = wl.check()
        except Exception:
            traceback.print_exc()
            fails = ["output check raised"]
        for msg in fails:
            print("CHECK FAILED:", msg, file=sys.stderr)
        failed = min(attempted, failed + len(fails))
        check_s = time.perf_counter() - t_check

        if args.trace:
            layer = _per_layer(wl, records)
            layer["trace.pass_s"] = _med(passes)
            _print_table(records)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))
            with open(os.path.join(ROOT, ".perfbench_out", f"layers-{run_id}.json"), "w") as f:
                json.dump(layer, f, indent=1, sort_keys=True)
            # a metric of this workload's layers that the run did not produce
            # is a failure; the other workload's layers read 0 here
            owned = ("spark.", "trace.") + wl.LAYERS
            missing = [
                m["name"] for m in bench["per_layer"]
                if m["name"].startswith(owned) and m["name"] not in layer
            ]
            for name in missing:
                print("CHECK FAILED: per-layer metric not produced:", name, file=sys.stderr)
            failed = min(attempted, failed + len(missing))
            metrics = {
                m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in bench["per_layer"]
            }
        else:
            values = {"setup_s": setup_s, "pass_s": _med(passes), "peak_pss_mb": peak_pss_mb}
            for i, ops in enumerate(wl.SLOTS, 1):
                values[f"op{i}_s"] = sum(_med(walls[op]) for op in ops)
            metrics = {
                m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                for m in bench["end_to_end"]
            }
        steal1 = _cpu_steal()
        print(
            f"# {args.workload} seed={args.seed}: session {session_s:.1f} s, "
            f"setup {setup_s:.1f} s, {len(passes)} pass(es) {sum(passes):.1f} s, "
            f"checks {check_s:.1f} s, cpu steal "
            f"{100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1):.0f}%; walls: "
            + ", ".join(f"{op} " + "/".join(f"{w:.2f}" for w in ws) for op, ws in walls.items()),
            file=sys.stderr,
        )
        return {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }
    finally:
        if mem.is_alive():
            mem.stop()
        _stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("kg_build", "dedup_corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
