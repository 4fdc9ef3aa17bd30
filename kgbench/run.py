"""KG-construction benchmark: one workload, one seed, one result line.

    python3 kgbench/run.py --workload full_import --seed 1 --seconds 10 --trace 0

Run from the repository root (the package is imported from the working
directory). The run generates the workload's src_files table from the
seed, starts Spark through `session.get_spark` on local[<cpus>] in this
one driver process, runs timed operations back to back (one client, one
Spark action at a time) for `--seconds`, checks the outputs against the
generator's manifest and prints, as its last stdout line, a JSON object
with `correct`, `attempted`, `failed` and `metrics`.

`--trace 0` reports the end-to-end metrics. `--trace 1` alternates
untraced and traced operations and reports the per-layer metrics of the
traced ones, plus the tracing overhead (traced minus untraced median wall
time). Exit status is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import gen
from spans import (
    NullTracer,
    OpRecord,
    RssSampler,
    Tracer,
    descendants,
    dump_spans,
    self_times,
    steal_seconds,
)

ROOT = os.getcwd()
# untraced runs time at least one operation. Traced runs start with an
# untraced operation (on a fresh JVM it also pays the warm-up), then
# alternate traced and untraced ones, and need one of each after the first.
MIN_OPS = {False: 1, True: 3}

END_TO_END = {
    "setup_s": "s",
    "op_p50_net_s": "s",
    "triples_per_net_s": "triples/s",
}
# Times are reported net of steal: wall time minus the CPU time the
# hypervisor took from this machine's vCPUs meanwhile. On a shared host
# the slow runs were slow by about their stolen time, and subtracting it
# halved the run-to-run spread.

_COUNT, _S, _B = "count", "s", "B"
PER_LAYER = {
    "parse.busy_s": _S, "parse.triples": _COUNT, "parse.quarantined": _COUNT,
    "prefixes.busy_s": _S, "prefixes.namespaces": _COUNT,
    "transforms.busy_s": _S, "transforms.rows_out": _COUNT,
    "cc.busy_s": _S, "cc.apply_s": _S, "cc.sameas_edges": _COUNT, "cc.components": _COUNT,
    "materialize.nodes_s": _S, "materialize.edges_s": _S, "materialize.props_s": _S,
    "materialize.write_s": _S, "materialize.nodes": _COUNT, "materialize.edges": _COUNT,
    "materialize.node_props": _COUNT, "materialize.bytes_written": _B,
    "shacl.busy_s": _S, "shacl.focus_nodes": _COUNT, "shacl.violations": _COUNT,
    "export.busy_s": _S, "export.lines": _COUNT, "export.bytes": _B,
    "checkpoint.busy_s": _S, "checkpoint.new_files": _COUNT,
    "checkpoint.skipped_files": _COUNT, "checkpoint.bytes_written": _B,
    "incremental.merge_s": _S, "incremental.tables_s": _S,
    "incremental.buckets_rewritten": _COUNT, "incremental.bucket_rewrite_ratio": "ratio",
    "incremental.state_bytes": _B,
    "glue.self_s": _S, "trace.overhead_s": _S,
}
LAYERS = (
    "parse", "prefixes", "transforms", "cc", "materialize",
    "shacl", "export", "checkpoint", "incremental",
)
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.jobs"] = _COUNT
    PER_LAYER[f"{_layer}.tasks"] = _COUNT
# span name -> per-layer time metric taken from that span's self time
SPAN_METRICS = {
    "parse": "parse.busy_s", "prefixes": "prefixes.busy_s",
    "transforms": "transforms.busy_s", "cc": "cc.busy_s", "cc.apply": "cc.apply_s",
    "materialize.nodes": "materialize.nodes_s", "materialize.edges": "materialize.edges_s",
    "materialize.props": "materialize.props_s", "materialize.write": "materialize.write_s",
    "shacl": "shacl.busy_s", "export": "export.busy_s", "checkpoint": "checkpoint.busy_s",
    "incremental.merge": "incremental.merge_s", "incremental.tables": "incremental.tables_s",
}


def log(msg: str) -> None:
    print(msg, flush=True)


# ------------------------------------------------------------ environment
def pin_environment(tmp: str) -> dict:
    """Everything the run depends on, set from inside the benchmark: all
    cores this process may use, a driver heap that fits the machine, Spark
    and JVM scratch inside this run's fresh temp root, and the checkout on
    the Python workers' path."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(4, mem_kb // (1024 * 1024) // 4))
    scratch = os.path.join(tmp, "tmp")
    local = os.path.join(tmp, "spark-local")
    os.makedirs(scratch)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={scratch}",
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "TMPDIR": scratch,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for var in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_PREWARM_PYTHON", "OMP_NUM_THREADS"):
        os.environ.pop(var, None)
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return {"cpus": cpus, "driver_mem": env["SPARK_DRIVER_MEM"]}


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break
        time.sleep(0.05)


# ------------------------------------------------------------ measurement
def measure(wl, sc, seconds: float, trace: bool) -> list:
    """Closed loop: one operation at a time until `seconds` have passed
    (at least MIN_OPS). With tracing, every second operation is traced."""
    recs = []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        wl.between_ops()
        tr = Tracer(sc, f"op{i}") if trace and i % 2 == 1 else NullTracer()
        s0 = steal_seconds()
        t0 = time.perf_counter()
        try:
            counts = wl.op(i, tr)
            wall = time.perf_counter() - t0
            ok = wl.op_ok(counts)
        except Exception:  # noqa: BLE001 — a failed operation is reported, not fatal
            traceback.print_exc()
            wall, counts, ok = time.perf_counter() - t0, {}, False
        rec = OpRecord(wall, tr.enabled, steal_seconds() - s0, counts, ok=ok)
        if tr.enabled:
            rec.spans = tr.spans
            rec.jobs = tr.jobs_and_tasks([s for s in tr.spans if s.layer != "op"])
        recs.append(rec)
        log(f"op {i}: {wall:.3f} s, steal {rec.steal:.2f} s"
            f"{', traced' if tr.enabled else ''}{'' if ok else ', FAILED'}")
        i += 1
        if not ok or wl.exhausted(i):
            break
        if time.perf_counter() >= t_end and i >= MIN_OPS[trace]:
            break
    return recs


def per_layer_metrics(recs: list) -> dict:
    traced = [r for r in recs if r.traced]
    untraced = [r for r in recs[1:] if not r.traced]
    samples: dict = {name: [] for name in SPAN_METRICS.values()}
    glue = []
    for r in traced:
        self_t = self_times(r.spans)
        got = {name: 0.0 for name in SPAN_METRICS.values()}
        for sp in r.spans:
            if sp.name in SPAN_METRICS:
                got[SPAN_METRICS[sp.name]] += self_t[sp.sid]
            if sp.layer == "op":
                glue.append(self_t[sp.sid])
        for k, v in got.items():
            samples[k].append(v)
    m = {k: statistics.median(v) if v else 0.0 for k, v in samples.items()}
    m["glue.self_s"] = statistics.median(glue) if glue else 0.0
    m["trace.overhead_s"] = (
        statistics.median(r.wall for r in traced) - statistics.median(r.wall for r in untraced)
        if traced and untraced else 0.0
    )
    last = traced[-1] if traced else None
    for name in PER_LAYER:
        if name in m:
            continue
        layer, _, what = name.partition(".")
        if last is None:
            m[name] = 0
        elif what in ("jobs", "tasks"):
            m[name] = last.jobs.get(layer, [0, 0])[0 if what == "jobs" else 1]
        else:
            m[name] = last.counts.get(name, 0)
    return m


def layer_report(recs: list) -> list:
    """Human-readable per-layer self time, share of the traced op, jobs and
    tasks (last traced op), and the uncovered driver glue."""
    traced = [r for r in recs if r.traced]
    if not traced:
        return []
    r = traced[-1]
    self_t = self_times(r.spans)
    op_wall = sum(sp.dur for sp in r.spans if sp.layer == "op")
    by_layer: dict = {}
    for sp in r.spans:
        by_layer[sp.layer] = by_layer.get(sp.layer, 0.0) + self_t[sp.sid]
    lines = [f"{'layer':<12} {'self_s':>8} {'share':>6} {'jobs':>5} {'tasks':>6}"]
    for layer in LAYERS:
        if layer in by_layer:
            jobs, tasks = r.jobs.get(layer, [0, 0])
            lines.append(
                f"{layer:<12} {by_layer[layer]:8.3f} {by_layer[layer] / op_wall:6.1%} {jobs:5d} {tasks:6d}"
            )
    lines.append(f"{'glue':<12} {by_layer.get('op', 0.0):8.3f} {by_layer.get('op', 0.0) / op_wall:6.1%}")
    return lines


# ------------------------------------------------------------ main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_import", "entity_linking", "incremental_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "neosemantics_spark", "__init__.py")):
        print(f"neosemantics_spark not found under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".kgbench_run")
    tmp = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = None
    try:
        env = pin_environment(tmp)
        from workloads import WORKLOADS

        from neosemantics_spark.session import get_spark

        t0 = time.perf_counter()
        corpus = gen.CORPORA[args.workload](args.seed)
        expected = gen.manifest(args.workload, corpus)
        wl = WORKLOADS[args.workload](None, tmp, corpus, expected)
        wl.write_input()
        log(f"generated {expected['files']} files, {expected['triples']} triples "
            f"in {time.perf_counter() - t0:.2f} s")
        with RssSampler() as rss:
            s0, t0 = steal_seconds(), time.perf_counter()
            spark = get_spark("kgbench", cpus=env["cpus"])
            setup_wall, setup_steal = time.perf_counter() - t0, steal_seconds() - s0
            spark.sparkContext.setLogLevel("ERROR")
            log(f"env: cpus={env['cpus']} driver_mem={env['driver_mem']} "
                f"spark={spark.version} python={sys.version.split()[0]} "
                f"local_dirs={os.environ['SPARK_LOCAL_DIRS']} pythonpath={os.environ['PYTHONPATH']}")
            log(f"setup: {setup_wall:.3f} s, steal {setup_steal:.2f} s")
            wl.spark = spark
            t0 = time.perf_counter()
            wl.prepare()
            log(f"prepare: {time.perf_counter() - t0:.3f} s")
            recs = measure(wl, spark.sparkContext, args.seconds, bool(args.trace))
            t0 = time.perf_counter()
            failures = wl.check() if recs and all(r.ok for r in recs) else ["an operation failed"]
            log(f"check: {time.perf_counter() - t0:.3f} s")
        stop_spark(spark)
        spark = None
        if args.trace:
            dump_spans(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.jsonl"),
                       [sp for r in recs for sp in r.spans])
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:  # noqa: BLE001 — already failing; still reap below
                traceback.print_exc()
        reap_children()
        shutil.rmtree(tmp, ignore_errors=True)

    for f in failures:
        log(f"CHECK FAILED: {f}")
    failed = sum(not r.ok for r in recs) or (1 if failures else 0)
    walls = [r.wall for r in recs if not r.traced]
    log(f"{args.workload} seed={args.seed}: {len(recs)} ops, walls "
        + " ".join(f"{w:.3f}" for w in (r.wall for r in recs)))
    if args.trace:
        for line in layer_report(recs):
            log(line)
        metrics = per_layer_metrics(recs)
        log(f"tracing overhead (traced minus untraced op p50, first op excluded): "
            f"{metrics['trace.overhead_s']:.3f} s")
        units = PER_LAYER
    else:
        net = [r.wall - r.steal for r in recs]
        triples = sum(wl.op_triples(i) for i in range(len(recs)))
        log(f"wall (with steal): setup {setup_wall:.3f} s, op p50 {statistics.median(walls):.3f} s, "
            f"{triples / sum(walls):.1f} triples/s; peak memory {rss.peak / 2**20:.1f} MB")
        metrics = {
            "setup_s": setup_wall - setup_steal,
            "op_p50_net_s": statistics.median(net),
            "triples_per_net_s": triples / sum(net),
        }
        units = END_TO_END
    correct = not failures and failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
