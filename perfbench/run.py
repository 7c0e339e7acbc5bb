#!/usr/bin/env python3
"""Pipeline benchmark: ingest and serve workloads.

One workload per run (the ``BENCHMARK.json`` contract):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

prints a readable report and, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).

``--workload all`` runs every workload untraced and then traced, each in
its own process, and prints the end-to-end metrics under the names each
workload gives them plus the tracing overhead.

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ingest", "serve")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# environment and processes
# ---------------------------------------------------------------------------

def configure_env(work: str, traced: bool) -> str | None:
    """Spark options come from the environment, set before the session
    starts: console progress off, scratch dirs and the (traced) event log
    inside the work dir, and the checkout on the worker PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events") if traced else None
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_DRIVER_JAVA_OPTIONS"] = " ".join(
        [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
         os.environ.get("SPARK_DRIVER_JAVA_OPTIONS", "")]).strip()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     # one plain file: Spark 4 rolls the log by default
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    return events


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def resident_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` with shared pages counted once: the sum
    of their proportional set sizes (Pss). Summing RSS would count a page
    once per process sharing it; forked Python workers share pages with
    their daemon, and a process the JVM spawns briefly shows the JVM's
    whole RSS before it execs."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class ResidentSampler(threading.Thread):
    """High-water resident memory of this process plus every descendant
    (the JVM and its Python workers), sampled from /proc. Reading the
    JVM's smaps_rollup takes ~12 ms and holds its memory-map lock, hence
    the long period."""

    PERIOD_S = 0.5

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, resident_mb([me] + descendants(me)))
            self._stop_ev.wait(self.PERIOD_S)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait for the JVM and
    every process it started to end."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 5:
        time.sleep(0.1)


def commit_id() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


# ---------------------------------------------------------------------------
# per-layer metrics from spans and the event log
# ---------------------------------------------------------------------------

LAYERS = ("session", "merge", "extraction", "dedup", "blocklist", "chunker",
          "enrich", "embed", "search", "ann", "quality")


def layer_of(span_name: str) -> str | None:
    head = span_name.split(".")[0]
    return head if head in LAYERS else None


def layer_metrics(wl, spans, groups, start_s: float, n_ops: int) -> dict:
    """Every per-layer number. Counters and busy times are per operation
    of the workload (per batch, per serve operation)."""
    from perfbench.eventlog import GroupTotals
    from perfbench.stats import median, self_times

    ops = max(1, n_ops)
    selft = self_times(spans)
    busy: dict[str, float] = {}
    by_name: dict[str, list] = {}
    totals = {name: GroupTotals() for name in LAYERS}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
        busy[s.name] = busy.get(s.name, 0.0) + selft[s.id]
        layer = layer_of(s.name)
        if layer and s.id in groups:
            totals[layer].add(groups[s.id])
    c, lay = wl.counts, wl.layer
    out = {"session.start_s": start_s}
    for name in LAYERS[1:]:
        t = totals[name]
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
                  "cpu_ms", "run_ms"):
            out[f"{name}.{k}"] = getattr(t, k) / ops

    def per(key: str, den: str) -> float:
        return c.get(key, 0) / c[den] if c.get(den) else 0.0

    def p50_ms(name: str, kind: str | None = None) -> float:
        d = [s.duration for s in by_name.get(name, [])
             if kind is None or s.counts.get("kind") == kind]
        return 1e3 * median(d) if d else 0.0

    out.update({
        "extraction.busy_s": busy.get("extraction", 0.0) / ops,
        "extraction.fallback_frac": per("extraction.fallback", "extraction.docs"),
        "chunker.busy_s": busy.get("chunker", 0.0) / ops,
        "chunker.chunks_per_doc": per("embed.rows", "chunker.docs"),
        "enrich.busy_s": busy.get("enrich", 0.0) / ops,
        "embed.busy_s": busy.get("embed", 0.0) / ops,
        "embed.rows_per_s": c.get("embed.rows", 0) / busy["embed"] if busy.get("embed") else 0.0,
        "dedup.scrub_s": busy.get("dedup.scrub", 0.0) / ops,
        "dedup.scrub_removed_frac": per("dedup.scrub_removed", "dedup.scrub_chars"),
        "blocklist.busy_s": busy.get("blocklist", 0.0) / ops,
        "quality.pii_s": busy.get("quality.pii", 0.0) / ops,
        "merge.busy_s": busy.get("merge", 0.0) / max(1, c.get("merge.ops", 0)),
        "merge.files_written": c.get("merge.files_written", 0) / max(1, c.get("merge.ops", 0)),
        "merge.write_amp": c.get("merge.write_amp", 0.0),
        "merge.commit_retries": c.get("merge.commit_retries", 0),
        "merge.optimize_s": per("merge.optimize_s", "merge.optimizes"),
        "merge.scan_files": per("merge.scan_files", "merge.scans"),
        "ann.sq_p50_ms": p50_ms("ann"),
        "ann.sq_build_s": lay.get("ann.sq_build_s", 0.0),
    })
    n_search = len(by_name.get("search", []))
    st = totals["search"]
    out.update({
        "search.jobs_per_query": st.jobs / max(1, n_search),
        "search.stages_per_query": st.stages / max(1, n_search),
        "search.tasks_per_query": st.tasks / max(1, n_search),
        "search.dense_p50_ms": p50_ms("search", "search"),
        "search.filtered_p50_ms": p50_ms("search", "filtered"),
        "search.similar_p50_ms": p50_ms("search", "similar"),
        "search.hybrid_p50_ms": p50_ms("search", "hybrid"),
        "search.rerank_p50_ms": p50_ms("search", "rerank"),
        "search.rows_scored_per_result":
            st.records_read / c["search.results"] if c.get("search.results") else 0.0,
    })
    return out


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------

def run_one(args, spec: dict) -> int:
    sys.path.insert(0, ROOT)
    try:
        import frappe_data_pipelines_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import eventlog
    from perfbench.stats import Tracer, tail
    from perfbench.workloads import WORKLOADS, Probe

    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = configure_env(work, traced)
    load_before = os.getloadavg()
    rss = ResidentSampler()
    rss.start()
    spark = None
    try:
        from frappe_data_pipelines_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        tracer = None
        if traced:
            sc = spark.sparkContext

            def on_enter(span):
                sc.setLocalProperty("spark.jobGroup.id", span.id)

            def on_exit(span, parent):
                sc.setLocalProperty("spark.jobGroup.id", parent.id if parent else None)

            tracer = Tracer(on_enter, on_exit)
        probe = Probe(spark, work, args.seed)
        wl = WORKLOADS[args.workload](probe)
        t = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t
        probe.tracer = tracer  # set-up runs untraced
        wl.run(args.seconds)
        if traced:
            wl.trace_counts()
        wl.check()
        e2e = wl.end_to_end()
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
    load_after = os.getloadavg()

    e2e["setup_s"] = start_s + setup_s
    e2e["peak_rss_mb"] = rss.peak
    tally = wl.tally
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit_id(), "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "session_start_s": start_s, "workload_setup_s": setup_s,
        "attempted": tally.attempted, "failed": tally.failed,
        "failed_frac": tally.failed_frac, "errors": tally.errors,
        "end_to_end": e2e, "named": wl.named(e2e),
        "tails": {k: tail(v) for k, v in wl.samples.items()},
        "samples_n": {k: len(v) for k, v in wl.samples.items()},
        "samples_s": wl.samples,
    }
    if traced:
        groups = eventlog.totals_by_group(eventlog.log_file(events))
        layer = layer_metrics(wl, tracer.spans, groups, start_s, tally.total_attempted)
        layer["trace.items_per_s"] = e2e["items_per_s"]
        layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        report["per_layer"] = layer
        report["spans"] = summarize_spans(tracer.spans)
        metrics = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    print_report(report)
    print(json.dumps({
        "correct": tally.total_failed == 0,
        "attempted": tally.total_attempted,
        "failed": tally.total_failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def summarize_spans(spans) -> dict:
    """Per span name: count, total duration and total self time (s)."""
    from perfbench.stats import self_times

    selft = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        e = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["total_s"] += s.duration
        e["self_s"] += selft[s.id]
    return out


def print_report(r: dict) -> None:
    print(f"# perfbench {r['workload']} seed={r['seed']} seconds={r['seconds']} "
          f"trace={r['trace']} commit={r['commit']} nproc={r['nproc']} "
          f"SPARK_GRAFT_CPUS={r['SPARK_GRAFT_CPUS']}")
    print(f"# loadavg before={r['loadavg_before']} after={r['loadavg_after']}")
    print(f"# attempted={r['attempted']} failed={r['failed']}")
    for e in r["errors"]:
        print(f"# error: {e}")
    for name, (value, unit, note) in r["named"].items():
        print(f"{name:32s} {value:14.4f} {unit:8s} {note}")
    for name, value in r.get("per_layer", {}).items():
        print(f"{name:32s} {value:14.4f}")


# ---------------------------------------------------------------------------
# every workload, untraced then traced
# ---------------------------------------------------------------------------

def run_all(args) -> int:
    rows, rc = [], 0
    for w in WORKLOAD_NAMES:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, capture_output=True, text=True)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-4000:])
                return out.returncode
            lines = out.stdout.strip().splitlines()
            sys.stdout.write("\n".join(lines[:-1]) + "\n")
            res[trace] = json.loads(lines[-1])
            rc |= 0 if res[trace]["correct"] else 1
        m0, m1 = res[0]["metrics"], res[1]["metrics"]
        over = m0["items_per_s"]["value"] / m1["trace.items_per_s"]["value"] - 1
        rows.append((w, res[0]["failed"], res[0]["attempted"], over))
    print("# workload  failed/attempted  tracing overhead (untraced/traced throughput - 1)")
    for w, f, a, over in rows:
        print(f"# {w:8s}  {f}/{a}  {over:+.1%}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        spec = load_spec()
    except (OSError, ValueError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args, spec)
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
