#!/usr/bin/env python3
"""Benchmark of record for ``spotify_tags_etl_spark``.

Run from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

One run: generate the workload's inputs from ``--seed`` (untimed), start
the session on ``local[<cores>]``, run one warm pass (session start plus
warm pass is ``setup_s``), then run closed-loop passes for ``--seconds``
and check every operation's output. With ``--trace 0`` the last line of
standard output is a JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics instead, read from spans
around the benchmark's calls into each layer and from Spark's own status
store. The exit code is 0 only when every operation succeeded with a
correct output. A record of the run (provenance, sample counts, failed
operation names) and, when tracing, the spans are written under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from core import Recorder, quantile, rss_peak_mb, supported_percentile  # noqa: E402

WORKLOADS = {"olap": "olap", "media-etl": "media"}

def declared_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in declared["end_to_end"]},
        {m["name"]: m["unit"] for m in declared["per_layer"]},
    )


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--prepare-into", help=argparse.SUPPRESS)  # child side of prepare_inputs
    return p.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Keep every file Spark, its Python workers and the program write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # -XX:-UsePerfData: no hsperfdata files under the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def prepare_inputs(workload: str, run_dir: str, seed: int) -> dict:
    """Generate the inputs and their expected outputs in a child process,
    so that this process's peak RSS covers only the workload."""
    out = os.path.join(run_dir, "inputs.pickle")
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed)]
    subprocess.run([*cmd, "--seconds", "0", "--prepare-into", out], check=True, timeout=170)
    with open(out, "rb") as fh:
        return pickle.load(fh)


def git_head() -> str:
    """Commit of the checkout, read without running git; 'unknown' outside a git checkout."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD"), encoding="ascii") as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(ROOT, ".git", ref)
        if os.path.exists(path):
            with open(path, encoding="ascii") as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs"), encoding="ascii") as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def install_load_table_span(rec: Recorder) -> None:
    """Time every ``sources.tpch.load_table`` call. Operator modules import
    the function by name, so this runs before the registry loads them."""
    import spotify_tags_etl_spark.sources as sources_pkg
    import spotify_tags_etl_spark.sources.tpch as tpch

    original = tpch.load_table

    def load_table(spark, sf_dir, name):
        rec.add_counter("sources.load_table_calls", 1)
        with rec.span("sources", f"load_table:{name}"):
            return original(spark, sf_dir, name)

    tpch.load_table = load_table
    sources_pkg.load_table = load_table


class StreamProgress:
    """Collects streaming progress events (registered as a query listener).

    Events reach the listener asynchronously, in order per query. A
    stream operation claims its query by waiting, after the query has
    returned, for the next termination event: every progress event of
    that query has arrived by then. Metrics are read from the queries
    of measured operations only.
    """

    def __init__(self):
        self.progress: dict[str, list] = {}
        self.terminated: list[str] = []
        self.by_op: dict[int, str] = {}
        self.cond = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer.cond:
                    outer.progress.setdefault(str(event.progress.runId), []).append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cond:
                    outer.terminated.append(str(event.runId))
                    outer.cond.notify_all()

        return Listener()

    def claim(self, op_id: int, timeout: float = 60.0) -> None:
        """Attribute the next terminated query to ``op_id`` (one stream at a time)."""
        with self.cond:
            n = len(self.by_op)
            if not self.cond.wait_for(lambda: len(self.terminated) > n, timeout):
                raise RuntimeError(f"no termination event for stream query {n + 1} within {timeout:.0f} s")
            self.by_op[op_id] = self.terminated[n]

    def events(self, op_ids: set[int]) -> list:
        with self.cond:
            return [p for o in sorted(op_ids) if o in self.by_op for p in self.progress.get(self.by_op[o], [])]


def run_clients(fn, clients: int) -> None:
    """Run ``fn(client)`` on ``clients`` threads and wait for all of them."""
    errors: list[BaseException] = []

    def body(c: int) -> None:
        try:
            fn(c)
        except BaseException as exc:  # re-raised on the main thread below
            errors.append(exc)

    threads = [threading.Thread(target=body, args=(c,), name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def run_workload(ctx, wl, seconds: float) -> dict:
    """Warm pass, then closed-loop passes until ``seconds`` have passed."""
    rec = ctx.rec
    warm = wl.pass_ops(ctx, random.Random(f"warm-{ctx.seed}"))
    t0 = time.perf_counter()
    lanes = wl.warm_lanes(warm)
    run_clients(lambda c: [rec.op(*op, client=c) for op in lanes[c]], len(lanes))
    warm_s = time.perf_counter() - t0

    rec.measuring = True
    start = time.perf_counter()
    deadline = start + seconds

    def client(c: int) -> None:
        rng = random.Random(ctx.seed * 1000 + c)
        first = True
        while first or time.perf_counter() < deadline:
            ops = wl.pass_ops(ctx, rng)
            p0 = time.perf_counter()
            for op in ops:
                if not first and time.perf_counter() >= deadline:
                    return
                rec.op(*op, client=c)
            with rec.lock:
                rec.passes.append(time.perf_counter() - p0)
            first = False

    run_clients(client, wl.CLIENTS)
    rec.measuring = False
    return {"warm_s": warm_s, "window_s": time.perf_counter() - start}


def end_to_end(rec: Recorder, units: dict, setup_s: float, window_s: float) -> tuple[dict, dict]:
    measured = [o for o in rec.ops if o.measured]
    lat = [o.end - o.start for o in measured if o.ok]
    if not lat or not rec.passes:
        return {k: 0.0 for k in units}, {"ops": len(lat), "passes": len(rec.passes)}
    hi = supported_percentile(len(lat))
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(rec.passes),
        "op_p50_s": quantile(lat, 0.5),
        "op_p90_s": quantile(lat, hi),
        "ops_per_s": len(lat) / window_s,
    }
    return metrics, {"ops": len(lat), "passes": len(rec.passes), "op_p90_s_is_percentile": round(hi * 100, 1)}


def op_medians(rec: Recorder) -> dict[str, dict]:
    """Per operation name: measured latencies and their median; warm-pass latency."""
    out: dict[str, dict] = {}
    for o in rec.ops:
        d = out.setdefault(o.name, {"warm_s": None, "samples": []})
        if o.measured:
            d["samples"].append(o.end - o.start)
        elif d["warm_s"] is None:
            d["warm_s"] = o.end - o.start
    return {
        k: {
            "warm_s": d["warm_s"],
            "n": len(d["samples"]),
            "median_s": statistics.median(d["samples"]) if d["samples"] else None,
            "samples_s": d["samples"],
        }
        for k, d in out.items()
    }


def per_layer(
    rec: Recorder, units: dict, wl, progress: StreamProgress, session_s: float, rss_mb: float, extras: dict
) -> dict:
    measured = [o for o in rec.ops if o.measured]
    ids = {o.op_id for o in measured}
    per_pass = wl.OPS_PER_PASS / max(1, len(measured))
    totals: dict[str, float] = {}
    for i in ids:
        for k, v in rec.op_counters.get(i, {}).items():
            if k == "operators.peak_exec_memory_bytes":
                totals[k] = max(totals.get(k, 0.0), v)
            else:
                totals[k] = totals.get(k, 0.0) + v
    self_s = rec.self_times(ids)
    m = {k: 0.0 for k in units}
    for k, v in totals.items():
        if k in m:
            m[k] = v if k == "operators.peak_exec_memory_bytes" else v * per_pass
    m["session.start_s"] = session_s
    m["peak_rss_mb"] = rss_mb
    for metric, layer in (
        ("sources.load_table_s", "sources"),
        ("plans.plan_s", "plans"),
        ("operators.build_s", "operators.build"),
        ("operators.exec_s", "operators.exec"),
        ("etl.write_warehouse_s", "etl"),
        ("sinks.save_debug_json_s", "sinks"),
        ("streaming.run_s", "streaming"),
        ("harness.self_s", "op"),
    ):
        m[metric] = self_s.get(layer, 0.0) * per_pass
    rows_out = totals.get("operators.rows_out", 0.0)
    if rows_out:
        m["operators.join_rows_per_row_out"] = totals.get("operators.join_rows", 0.0) / rows_out
    q30 = [i for i in ids if rec.op_names.get(i) == "q30_fuzzy_ratio_top1"]
    q30_rows = sum(rec.op_counters[i].get("operators.rows_out", 0.0) for i in q30)
    if q30_rows:
        m["functions.pairs_per_match"] = sum(rec.op_counters[i].get("operators.join_rows", 0.0) for i in q30) / q30_rows
    if totals.get("etl.bytes_in"):
        m["etl.write_amplification"] = totals.get("etl.bytes_written", 0.0) / totals["etl.bytes_in"]
    m.update(streaming_metrics(progress.events(ids), per_pass))
    m.update(extras)
    m["trace.pass_s"] = statistics.median(rec.passes) if rec.passes else 0.0
    return m


def streaming_metrics(progress: list, per_pass: float) -> dict:
    if not progress:
        return {}
    dur = [p.durationMs or {} for p in progress]
    trigger = [d.get("triggerExecution", 0) / 1000.0 for d in dur]
    states = [s for p in progress for s in (p.stateOperators or [])]

    def total_ms(key: str) -> float:
        return sum(d.get(key, 0) for d in dur) / 1000.0 * per_pass

    return {
        "streaming.batches": len(progress) * per_pass,
        "streaming.input_rows": sum(p.numInputRows for p in progress) * per_pass,
        "streaming.batch_p50_s": quantile(trigger, 0.5),
        "streaming.batch_p90_s": quantile(trigger, supported_percentile(len(trigger))),
        "streaming.add_batch_s": total_ms("addBatch"),
        "streaming.query_planning_s": total_ms("queryPlanning"),
        "streaming.wal_commit_s": total_ms("walCommit"),
        "streaming.commit_offsets_s": total_ms("commitOffsets"),
        "streaming.latest_offset_s": total_ms("latestOffset"),
        "streaming.state_rows": max((s.numRowsTotal for s in states), default=0),
        "streaming.state_memory_bytes": max((s.memoryUsedBytes for s in states), default=0),
        "streaming.state_commit_s": sum(s.commitTimeMs for s in states) / 1000.0 * per_pass,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for both and its Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # the JVM did not exit on its own: end it
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in workers:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import spotify_tags_etl_spark  # noqa: F401  (fails fast where the package is absent)

    wl = importlib.import_module(WORKLOADS[args.workload])
    if args.prepare_into:
        inputs = wl.prepare(os.path.dirname(args.prepare_into), args.seed)
        with open(args.prepare_into, "wb") as fh:
            pickle.dump(inputs, fh)
        return 0
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir)
    os.chdir(run_dir)
    rec = Recorder(trace=bool(args.trace))
    progress = StreamProgress()
    if rec.trace:
        install_load_table_span(rec)
    spark = None
    timing, setup_s, session_s, gen_s, extras, inputs = {"window_s": 1.0}, 0.0, 0.0, 0.0, {}, {}
    rss_parts: dict[str, float] = {}
    try:
        t = time.perf_counter()
        inputs = prepare_inputs(args.workload, run_dir, args.seed)
        gen_s = time.perf_counter() - t

        from spotify_tags_etl_spark.session import get_spark

        t = time.perf_counter()
        with rec.span("session", "get_spark"):
            spark = get_spark("perfbench", master=f"local[{cores}]")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        ctx = SimpleNamespace(spark=spark, rec=rec, inputs=inputs, seed=args.seed, run_dir=run_dir, progress=None)
        if rec.trace:
            from sparkstats import SparkCounters

            rec.spark_counters = SparkCounters(spark)
            ctx.progress = progress
            spark.streams.addListener(progress.listener())
        t = time.perf_counter()
        if hasattr(wl, "setup"):
            wl.setup(ctx)
        timing = run_workload(ctx, wl, args.seconds)
        setup_s = session_s + (time.perf_counter() - t) - timing["window_s"]
        if spark.sparkContext._jsc.sc().isStopped():
            rec.run_failed("session lost")
        extras = wl.traced_extras(ctx) if rec.trace else {}
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss_parts = {"python": rss_peak_mb([os.getpid()]), "jvm": rss_peak_mb([jvm_pid])}
    except Exception:  # the run as a whole failed (e.g. the session could not start)
        import traceback

        traceback.print_exc()
        rec.run_failed("run aborted")
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                import traceback

                traceback.print_exc()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # still holds another run's directory
            os.rmdir(os.path.dirname(run_dir))

    e2e_units, layer_units = declared_units()
    e2e, samples = end_to_end(rec, e2e_units, setup_s, timing["window_s"])
    attempted = len(rec.ops)
    failed_ops = sorted({o.name for o in rec.ops if not o.ok})
    failed = sum(1 for o in rec.ops if not o.ok)
    correct = failed == 0 and attempted > 0
    rss = sum(rss_parts.values())
    metrics = per_layer(rec, layer_units, wl, progress, session_s, rss, extras) if rec.trace else e2e
    units = layer_units if rec.trace else e2e_units
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "master": f"local[{cores}]",
        "clients": wl.CLIENTS,
        "git_head": git_head(),
        "input_sizes": inputs.get("sizes", {}),
        "gen_s": gen_s,
        "peak_rss_mb": rss_parts,
        "samples": samples,
        "attempted": attempted,
        "failed": failed,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "failed_ops": failed_ops,
        "op_median_s": op_medians(rec),
        "end_to_end": e2e,
        "metrics": metrics,
    }
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if rec.trace:
        rec.write_spans(stem + ".spans.jsonl")
    print(
        f"perfbench: workload={args.workload} seed={args.seed} master=local[{cores}] clients={wl.CLIENTS} "
        f"git={record['git_head'][:12]} inputs={json.dumps(record['input_sizes'], sort_keys=True)} gen_s={gen_s:.2f}"
    )
    print(
        f"perfbench: samples={json.dumps(samples, sort_keys=True)} attempted={attempted} failed={failed} "
        f"fail_ratio={record['fail_ratio']:.4f} failed_ops={failed_ops}"
    )
    for name, value in e2e.items():
        print(f"perfbench: {name} = {value:.6g} {e2e_units[name]}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
