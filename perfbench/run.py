#!/usr/bin/env python3
"""cuckoofilter_spark benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run starts an explicit
``local[nproc]`` session, writes the workload's inputs from ``--seed``
three times over (three independent copies), runs untimed warm ops, then
runs ops back to back for ``--seconds`` seconds, checks every answer
against exact oracles, and prints a report followed by one JSON line.
With ``--trace 0`` the JSON holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, taken from spans around
the package calls and from Spark's event log, and every other timed op
runs untraced so the tracing overhead is measured in the same run.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# Untimed warm ops run until both limits are met: the first op pays
# worker start, imports and code generation, and the JVM's JIT keeps
# speeding ops up for several more.
WARM_SECONDS = 14.0
WARM_OPS = 3

# Each run writes its inputs this many times, each copy afresh from the
# seed; setup_s takes the median copy, and ops rotate over the copies.
SETUPS = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
E2E_UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in BENCH["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def start_session(nproc: int, run_dir: str, event_dir: str | None):
    from cuckoofilter_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "4g",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    spark = get_spark(app="perfbench", cores=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM it launched and the JVM's Python workers, and
    wait until every one of them has ended."""
    import procfs
    from pyspark import SparkContext

    pids = procfs.tree()[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(procfs.alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if procfs.alive(p):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import cuckoofilter_spark  # noqa: F401  (fails outside a checkout)

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark, the JVM and the Python workers keep their files in the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's launcher JVM: no perf-data file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    import procfs
    import spans

    stamp = procfs.box_stamp()
    traced = bool(args.trace)
    event_dir = os.path.join(run_dir, "events") if traced else None
    tr = spans.Tracer(enabled=traced)
    with tr.span("session.start"):
        spark = start_session(stamp["nproc"], run_dir, event_dir)
    try:
        r = measure(args, spark, run_dir, stamp, tr)
        stamp["loadavg_after"] = procfs.loadavg()
    finally:
        t = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t
    stamp["phases_s"] = {
        k: [round(x, 2) for x in v] if isinstance(v, list) else round(v, 2)
        for k, v in {**r["phases"], "stop": stop_s}.items()}

    wl, ops, warm, op_errors = r["wl"], r["ops"], r["warm"], r["op_errors"]
    layer = r["layer"]
    if traced:  # folding adds the self-time checks, so it comes first
        layer.update(fold_layers(tr, wl, event_dir, ops, warm))
        for name in LAYER_UNITS:
            layer.setdefault(name, 0.0)
    plain = [o for o in ops if not o["traced"]]
    if plain:
        stamp["peak_rss_mb_by_process"] = {  # of the last untraced op
            k: round(mb, 1) for k, mb in plain[-1]["rss"].items()}
    items = wl.items()
    attempted = len(ops) + len(warm) + len(op_errors) + len(wl.checks)
    failed = len(op_errors) + sum(not ok for _, ok, _ in wl.checks)
    e2e = {
        "items_per_s": items / med([o["wall"] for o in plain]) if plain else 0.0,
        "cpu_us_per_item": (1e6 * med([o["cpu"] for o in plain]) / items
                            if items else 0.0),
        "setup_s": r["phases"]["setup"],
        "peak_rss_mb": med([python_rss(o) for o in plain]),
        **wl.e2e_extra(),
        "ok_pct": 100.0 * (attempted - failed) / attempted,
    }
    report(args, stamp, r, e2e, layer)
    if traced:
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def python_rss(op: dict) -> float:
    """Summed peak RSS of the op's Python processes: the driver and the
    Python workers, where the package's code runs. The JVM is left out:
    its RSS follows how far its collector has spread over the heap, which
    grows with every op until it reaches the heap size."""
    return sum(mb for k, mb in op["rss"].items()
               if not k.startswith("java:"))


def measure(args, spark, run_dir: str, stamp: dict, tr) -> dict:
    """Set-up, warm ops, the timed window and the checks."""
    import procfs
    import workloads

    traced = tr.enabled
    if traced:
        tr.sc = spark.sparkContext
    wl = workloads.WORKLOADS[args.workload](
        spark, run_dir, args.seed, stamp["nproc"], tr)
    # set-up: imports and session start once, then the inputs SETUPS times
    phases: dict = {"session": time.perf_counter() - T0, "generate": []}
    for k in range(SETUPS):
        t = time.perf_counter()
        wl.setup(k)
        phases["generate"].append(time.perf_counter() - t)
    phases["setup"] = phases["session"] + med(phases["generate"])
    wl.start()

    ops: list[dict] = []          # one record per timed op
    warm: list[dict] = []
    op_errors: list[str] = []

    def one_op(i: int, traced_op: bool) -> dict:
        tr.enabled, tr.op = traced_op, i
        # peak memory of this op alone: not set-up, not an earlier op
        procfs.reset_peak_rss()
        c0, t0 = procfs.tree_cpu_s(), time.perf_counter()
        with tr.span("op"):
            wl.op(i)
        wall = time.perf_counter() - t0
        rss = {f"{procfs.comm(p)}:{p}": mb
               for p, mb in procfs.peak_rss_mb().items()}
        return {"i": i, "wall": wall, "cpu": procfs.tree_cpu_s() - c0,
                "rss": rss, "traced": traced_op}

    t = time.perf_counter()
    while len(warm) < WARM_OPS or time.perf_counter() - t < WARM_SECONDS:
        try:
            warm.append(one_op(-1 - len(warm), False))
        except Exception as e:  # an op that raises is a failed attempt
            op_errors.append(f"warm op: {e!r}")
            break
    phases["warm"] = time.perf_counter() - t
    t = time.perf_counter()
    # traced runs alternate traced and untraced ops, two of each at least
    while not op_errors and (time.perf_counter() - t < args.seconds
                             or (traced and len(ops) < 4)):
        try:
            ops.append(one_op(len(ops), traced and len(ops) % 2 == 0))
        except Exception as e:
            op_errors.append(f"op {len(ops)}: {e!r}")
    phases["timed"] = time.perf_counter() - t
    tr.enabled, tr.op = traced, None

    t = time.perf_counter()
    layer: dict[str, float] = {}
    try:
        wl.finish()
        if traced and not op_errors:
            layer = traced_extras(spark, wl, tr)
    except Exception as e:
        wl.check("answers checked", False, repr(e))
    phases["checks"] = time.perf_counter() - t
    return {"wl": wl, "ops": ops, "warm": warm, "op_errors": op_errors,
            "layer": layer, "phases": phases}


def traced_extras(spark, wl, tr) -> dict[str, float]:
    """Layer measurements only the traced run makes, after the timed ops."""
    import workloads

    out: dict[str, float] = {}
    src = wl.scan_source()
    out["sources.input_partitions"] = src.rdd.getNumPartitions()
    with tr.span("sources.scan"):
        src.write.format("noop").mode("overwrite").save()
    if wl.name == "decontam":
        from cuckoofilter_spark.operators.decontam import contamination_count_udf

        hits = contamination_count_udf(spark, wl.blob, n=3,
                                       seed=workloads.FILTER_SEED)
        cand = src.filter(hits("text") >= 1).count()
        out["operators.decontam.eval_grams"] = wl.n_keys
        out["operators.decontam.candidate_docs"] = cand
        out["operators.decontam.gate_precision"] = (
            len(wl.expected) / cand if cand else 0.0)
    keys, shards, params, neg_from = wl.core_inputs()
    out.update(workloads.core_metrics(keys, shards, params, neg_from, wl.seed))
    return out


def fold_layers(tr, wl, event_dir, ops, warm) -> dict[str, float]:
    """Spans + event log -> per-layer metrics (median per call)."""
    import spans

    ev = spans.fold_event_log(spans.read_event_log(event_dir))
    self_t = spans.self_times(tr.spans)

    def named(name):
        return [s for s in tr.spans if s.name == name]

    def counter(s, key):
        return sum(ev.get(tr.group(x), {}).get(key, 0.0)
                   for x in spans.subtree(tr.spans, s))

    def dom_skew(s):
        stages = [st for x in spans.subtree(tr.spans, s)
                  for st in ev.get(tr.group(x), {}).get("stages", [])]
        return max(stages)[1] if stages else 0.0

    def m(name, fn):
        xs = [fn(s) for s in named(name)]
        return med(xs) if xs else 0.0

    out: dict[str, float] = {}
    traced_ops = [s for s in named("op") if s.op is not None and s.op >= 0]
    plain = [o["wall"] for o in ops if not o["traced"]]
    out["session.start_s"] = m("session.start", lambda s: s.dur)
    # what the first warm op paid beyond a steady op: worker start,
    # imports, code generation and JIT
    out["session.warm_s"] = (warm[0]["wall"] - med(plain)
                             if warm and plain else 0.0)
    out["sources.generate_s"] = m("sources.generate", lambda s: s.dur)
    out["sources.scan_s"] = m("sources.scan", lambda s: s.dur)
    b = "operators.build"
    out[b + ".shards_s"] = m(b, lambda s: s.dur)
    out[b + ".py_rows_in"] = m(b, lambda s: counter(s, "py_rows_in"))
    out[b + ".py_bytes_in"] = m(b, lambda s: counter(s, "py_bytes_in"))
    out[b + ".shuffle_bytes"] = m(b, lambda s: counter(s, "shuffle_bytes"))
    out[b + ".task_skew"] = m(b, dom_skew)
    out["operators.merge.merge_s"] = m("operators.merge", lambda s: s.dur)
    for k, xs in wl.layer.items():
        out[k] = med(xs)
    p = "operators.probe"
    out[p + ".broadcast_s"] = m(p + ".broadcast", lambda s: s.dur)
    out[p + ".probe_s"] = m(p, lambda s: s.dur)
    out[p + ".py_bytes_in"] = m(p, lambda s: counter(s, "py_bytes_in"))
    out[p + ".py_worker_s"] = m(p, lambda s: counter(s, "py_worker_ms") / 1e3)
    out[p + ".executor_cpu_s"] = m(p, lambda s: counter(s, "cpu_s"))
    d = "operators.decontam"
    out[d + ".eval_filter_s"] = m(d + ".eval_filter", lambda s: s.dur)
    out[d + ".overlap_s"] = m(d + ".overlap", lambda s: s.dur)
    out["spark.jobs_per_op"] = med([counter(s, "jobs") for s in traced_ops])
    out["spark.tasks_per_op"] = med([counter(s, "tasks") for s in traced_ops])
    out["spark.gc_s"] = med([counter(s, "gc_s") for s in traced_ops])
    walls = {o["i"]: o["wall"] for o in ops}
    out["trace.overhead_s"] = (
        med([walls[s.op] for s in traced_ops]) - med(plain))
    out["trace.unattributed_pct"] = med(
        [100.0 * self_t[s.sid] / s.dur for s in traced_ops])
    # the layer spans under each traced op should account for its wall time
    for s in traced_ops:
        layers = sum(self_t[x.sid] for x in spans.subtree(tr.spans, s)
                     if x is not s)
        wl.check(f"traced op {s.op}: layer self times cover its wall",
                 abs(layers - walls[s.op]) <= 0.10 * walls[s.op],
                 f"{layers:.3f}s of {walls[s.op]:.3f}s")
    return out


def report(args, stamp, r, e2e, layer) -> None:
    wl, ph = r["wl"], r["phases"]
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} loop=closed clients=1")
    print("# box " + json.dumps(stamp))
    gens = ", ".join(f"{x:.3f}" for x in ph["generate"])
    print(f"# setup_s={ph['setup']:.3f} (imports and session "
          f"{ph['session']:.3f}s + median input generation of [{gens}]s); "
          f"untimed warm ops {ph['warm']:.3f}s")
    for o in r["warm"] + r["ops"]:
        kind = "warm  " if o["i"] < 0 else "traced" if o["traced"] else "plain "
        print(f"# op {o['i']:2d} {kind} wall={o['wall']:.3f}s "
              f"cpu={o['cpu']:.3f}s python_rss={python_rss(o):.0f}MB "
              f"jvm_rss={sum(o['rss'].values()) - python_rss(o):.0f}MB")
    for name, ok, detail in wl.checks:
        print(f"# check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    for e in r["op_errors"]:
        print(f"# op FAIL {e}")
    for k, u in E2E_UNITS.items():
        print(f"# {k} = {e2e[k]:.6g} {u}")
    n_ops = len(r["ops"]) + len(r["warm"])
    print(f"# error_pct = {100.0 - e2e['ok_pct']:.6g} % "
          f"({len(wl.checks)} checks, {n_ops} ops, "
          f"{len(r['op_errors'])} raised)")
    for k, u in LAYER_UNITS.items():
        if k in layer:
            print(f"# {k} = {layer[k]:.6g} {u}")


if __name__ == "__main__":
    sys.exit(main())
