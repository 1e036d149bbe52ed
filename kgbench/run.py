"""End-to-end benchmark of the KG-construction job: generated pages ->
parse -> triples -> entity links -> sameAs canonicalization -> committed
canonical triples, checked without Spark.

Usage, from the root of a checkout::

    python3 kgbench/run.py --workload build_web --seed 1 \\
        --seconds 25 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run.  Every metric is printed as a table with its
unit, and the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  Everything the run
writes stays under ``.kgbench_work/`` in the checkout.  NOTES.md says
why each workload exists and which layer metric should move which
end-to-end metric.

``BENCHMARK.json`` lists ``build_web`` and ``incremental_ingest``.
``sameas_deep`` runs the same way but is not listed: the program's
25-round ``connected_components`` cap splits its deep chains, so every
operation fails verification and the run reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
DRIVER_MEM = "1g"        # JVM heap, fixed (-Xms = -Xmx) so that its
                         # RSS does not follow the collector's sizing
SETUP_REPS = 3           # input generations per run; the median counts
RUN_LIMIT_S = 170        # a run still going then is stopped
KERNEL_SAMPLE = 300      # pages timed by the one-process parse-kernel probe

# workload -> input size: pages per doc-id block (build_web and
# incremental_ingest's base), sameas_deep pages
WORKLOADS = {"build_web": 40, "sameas_deep": 600, "incremental_ingest": 40}
WARM_BLOCK = 4           # pages per block of a cold build's warm-up input
# workload -> nominal seconds of one operation: --seconds becomes a
# fixed number of timed operations.  Steal episodes often slow one
# operation of a run, so build_web, whose operations are short, times
# three and takes their median.
OP_S = {"build_web": 8.0, "sameas_deep": 12.5, "incremental_ingest": 12.5}
MIN_OPS = 2              # ... and at least two per run

END_TO_END = {"dag_s": "s", "triples_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB", "quarantined_frac": "ratio"}

PER_LAYER = {
    "session.start_s": "s", "corpus.gen_s": "s", "incremental.base_s": "s",
    "dag.jobs": "count", "dag.tasks": "count",
    "extract.s": "s", "extract.rows_in": "count",
    "extract.rows_out": "count", "extract.quarantined": "count",
    "extract.python_s": "s", "extract.python_init_s": "s",
    "extract.arrow_bytes_sent": "bytes", "extract.arrow_bytes_recv": "bytes",
    "extract.udf_rows_per_page": "ratio",
    "parsepage.page_us_p50": "us", "parsepage.page_us_p99": "us",
    "htmlelements.decode_us": "us", "htmlelements.parse_html_us": "us",
    "htmlelements.prune_plaintext_us": "us",
    "docparsers.html_sections_us": "us", "docparsers.rfc_fsm_us": "us",
    "triples.s": "s", "triples.rows_out": "count",
    "triples.shuffle_bytes": "bytes",
    "linking.s": "s", "linking.broadcast_build_ms": "ms",
    "linking.broadcast_bytes": "bytes",
    "canonicalize.cc_s": "s", "canonicalize.cc_jobs": "count",
    "canonicalize.vertices": "count", "canonicalize.components": "count",
    "canonicalize.wrong_vertices": "count",
    "canonicalize.shuffle_bytes": "bytes", "canonicalize.rewrite_s": "s",
    "catalog.write_s": "s", "catalog.files": "count",
    "catalog.bytes": "bytes",
    "incremental.rows_in": "count", "incremental.todo_rows": "count",
    "incremental.parse_stage_s": "s", "incremental.triples_stage_s": "s",
    "incremental.merge_cc_s": "s",
    "snaptable.snapshots": "count", "snaptable.bytes": "bytes",
    "verify.triples_failed": "count",
    "host.steal_pct": "%", "trace.overhead_frac": "ratio",
}


# ----------------------------------------------------------- host

def _cpu_times() -> tuple:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError):
        return 0, 0


def _steal_pct(before: tuple, after: tuple) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def _descendants() -> list:
    """PIDs of every live descendant of this process."""
    children = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _peak_rss_mb(pids) -> dict:
    """Peak RSS (VmHWM) in MB of this process and each of ``pids``,
    keyed by pid."""
    out = {}
    for pid in [os.getpid()] + list(pids):
        try:
            with open("/proc/%d/status" % pid) as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def _tree_bytes(path: str) -> tuple:
    """(files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _environment(ncpu: int) -> None:
    """Keep every file Spark, its JVMs and its workers write inside
    WORK (``-XX:-UsePerfData``: no hsperfdata file in the system temp)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "spark-local"))
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", "-Xms" + DRIVER_MEM,
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote("spark.sql.warehouse.dir=" +
                                  os.path.join(WORK, "warehouse")),
            "pyspark-shell"]),
    })
    tempfile.tempdir = tmp


def _reap(pids, timeout: float) -> None:
    """Wait up to ``timeout`` s for ``pids`` to end, then kill the rest."""
    deadline = time.time() + timeout
    while time.time() < deadline and any(
            os.path.exists("/proc/%d" % p) for p in pids):
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)     # reap our own children
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
            os.waitpid(p, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child has ended."""
    from pyspark import SparkContext
    pids = _descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
    _reap(pids, 30)


def _watchdog(signum, frame):
    """A run that has not ended after RUN_LIMIT_S stops every process it
    started and exits without a result."""
    print("kgbench: run exceeded %d s, stopping" % RUN_LIMIT_S,
          file=sys.stderr)
    pids = _descendants()
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _reap(pids, 5)
    os._exit(3)


# ----------------------------------------------------------- set-up

def _import_kernel(it):
    """mapInPandas body that starts a Python worker with the parse kernel
    imported."""
    import ferenda_spark.parsepage  # noqa: F401
    yield from it


class Context:
    """What set-up hands to the operations."""
    inputs = None          # page set name -> parquet path
    base_path = None       # committed base store (incremental_ingest)
    exp = None             # verify.Expected for one operation's output
    to_parse = 0           # pages one operation must parse
    specs = None           # generated page specs (for the kernel probe)
    warm = None            # Context of a cold build's first warm-up


def _generate(workload: str, seed: int, rep_dir: str) -> Context:
    from kgbench import gen, verify
    ctx = Context()
    if workload in ("build_web", "sameas_deep"):
        make = gen.build_web if workload == "build_web" else gen.sameas_deep
        ctx.specs = make(seed, WORKLOADS[workload])
        ctx.to_parse = len(ctx.specs)
        sets = {"pages": ctx.specs}
        # a small build_web input runs every code path of a cold build
        # at little cost, so it is the first of the warm-up operations
        ctx.warm = Context()
        warm = gen.build_web(seed, WARM_BLOCK)
        ctx.warm.exp = verify.expect(warm)
        ctx.warm.inputs = {"pages": os.path.join(rep_dir, "warm")}
        gen.write_pages(warm, ctx.warm.inputs["pages"])
    else:
        base = gen.build_web(seed, WORKLOADS[workload])
        ctx.specs = gen.recrawl(seed, base)
        same = set(base)
        ctx.to_parse = sum(1 for s in ctx.specs if s not in same)
        sets = {"pages": ctx.specs, "base": base}
    ctx.exp = verify.expect(ctx.specs)
    ctx.inputs, cache = {}, {}
    for name, specs in sets.items():
        ctx.inputs[name] = os.path.join(rep_dir, name)
        gen.write_pages(specs, ctx.inputs[name], cache)
    return ctx


def setup(spark, workload: str, seed: int, fig: dict) -> Context:
    """Generate the inputs SETUP_REPS times (the median time counts) and
    build the base store once for incremental_ingest."""
    times = []
    for rep in range(SETUP_REPS):
        rep_dir = os.path.join(WORK, "setup%d" % rep)
        t0 = time.perf_counter()
        ctx = _generate(workload, seed, rep_dir)
        times.append(time.perf_counter() - t0)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(rep_dir)
    fig["corpus.gen_s"] = statistics.median(times)
    fig["incremental.base_s"] = 0.0
    if workload == "incremental_ingest":
        from kgbench import dag
        ctx.base_path = os.path.join(WORK, "base")
        t0 = time.perf_counter()
        dag.build_base(spark, ctx.inputs["base"], ctx.base_path)
        fig["incremental.base_s"] = time.perf_counter() - t0
    return ctx


# ------------------------------------------------------- operations

def run_op(spark, tr, i: int, ctx: Context) -> dict:
    """One timed operation, then its Spark-free verification."""
    from kgbench import dag, verify
    op_dir = os.path.join(WORK, "op%d" % i)
    out_dir = os.path.join(op_dir, "out")
    store = os.path.join(op_dir, "store")
    if ctx.base_path:
        shutil.copytree(ctx.base_path, store)
        snap0 = _snapshot_stats(store)
    res = {"op": i}
    cpu0 = time.perf_counter(), _cpu_times()
    try:
        with tr.op(i):
            if ctx.base_path:
                n = dag.ingest(spark, tr, i, ctx.inputs["pages"], store,
                               out_dir)
            else:
                n = dag.cold_build(spark, tr, i, ctx.inputs["pages"],
                                   out_dir)
        res["dag_s"] = time.perf_counter() - cpu0[0]
        res["steal_pct"] = _steal_pct(cpu0[1], _cpu_times())
        v = verify.check(out_dir, ctx.exp)
        res.update(triples=n, ok=v.ok and n == v.count, reason=v.reason,
                   quarantined=v.quarantined, wrong=v.wrong_vertices,
                   triples_ok=v.triples_ok)
        res["files"], res["bytes"] = _tree_bytes(
            os.path.join(out_dir, "triples"))
        if ctx.base_path:
            snap1 = _snapshot_stats(store)
            res["snapshots"] = snap1[0] - snap0[0]
            res["snap_bytes"] = snap1[1] - snap0[1]
    except Exception as e:  # noqa: BLE001 - a failed operation is a result
        res.setdefault("dag_s", time.perf_counter() - cpu0[0])
        res.setdefault("steal_pct", 0.0)
        res.update(ok=False, reason="%s: %s" % (type(e).__name__, e),
                   triples=0, quarantined=0, wrong=0, triples_ok=False)
    shutil.rmtree(op_dir, ignore_errors=True)
    return res


def _snapshot_stats(store: str) -> tuple:
    """(metadata versions, data bytes) over the store's snapshot tables."""
    versions = 0
    for d in os.listdir(store):
        mdir = os.path.join(store, d, "metadata")
        if os.path.isdir(mdir):
            versions += sum(1 for f in os.listdir(mdir)
                            if f.startswith("v") and f.endswith(".json"))
    return versions, _tree_bytes(store)[1]


# ---------------------------------------------------- parse kernel

def kernel_probe(specs) -> dict:
    """One-process timing of the parse kernel's public phase functions
    over a fixed sample of well-formed pages."""
    from ferenda_spark.docparsers import parse_html_sections, parse_rfc_text
    from ferenda_spark.htmlelements import (
        as_plaintext, decode_html, extract_document, parse_html, prune)
    from ferenda_spark.parsepage import parse_page
    from kgbench import gen
    sample = [s for s in specs if not s.malformed][:KERNEL_SAMPLE]
    raws = [gen.page(s)["html"] for s in sample]
    ns = time.perf_counter_ns
    page, dec, tok, pp, html_sec, rfc = [], [], [], [], [], []
    for raw in raws:
        t = ns()
        parse_page(raw)
        page.append(ns() - t)
        t = ns()
        text = decode_html(raw)
        dec.append(ns() - t)
        t = ns()
        tree = parse_html(text)
        tok.append(ns() - t)
        body = tree.find("body") or tree
        t = ns()
        pruned = prune(body)
        as_plaintext(pruned)
        pp.append(ns() - t)
        pre = extract_document(raw)["pre_text"]
        if pre:
            t = ns()
            parse_rfc_text(pre)
            rfc.append(ns() - t)
        else:
            t = ns()
            parse_html_sections(pruned)
            html_sec.append(ns() - t)
    q = statistics.quantiles(page, n=100)
    mean_us = lambda xs: statistics.fmean(xs) / 1e3 if xs else 0.0  # noqa: E731
    return {"parsepage.page_us_p50": statistics.median(page) / 1e3,
            "parsepage.page_us_p99": q[98] / 1e3,
            "htmlelements.decode_us": mean_us(dec),
            "htmlelements.parse_html_us": mean_us(tok),
            "htmlelements.prune_plaintext_us": mean_us(pp),
            "docparsers.html_sections_us": mean_us(html_sec),
            "docparsers.rfc_fsm_us": mean_us(rfc)}


# ---------------------------------------------------------- metrics

def layer_figures(tr, res: dict, ctx: Context) -> dict:
    """Per-layer metrics of one traced operation."""
    i = res["op"]
    lay = lambda name: tr.layers.get((i, name), {})  # noqa: E731
    incremental = ctx.base_path is not None
    ext = lay("extract")
    parse = lay("incremental.parse_stage") if incremental else ext
    tri = lay("incremental.triples_stage") if incremental else lay("triples")
    cc = lay("incremental.merge_cc" if incremental else "canonicalize.cc")
    link = lay("linking")
    mine = [f for (op, _), f in tr.layers.items() if op == i]
    udf_rows = sum(f.get("MapInPandas.pythonNumRowsReceived", 0)
                   for f in mine)
    return {
        "dag.jobs": sum(f.get("jobs", 0) for f in mine),
        "dag.tasks": sum(f.get("tasks", 0) for f in mine),
        "extract.s": parse.get("s", 0.0),
        "extract.rows_in": ctx.exp.pages,
        "extract.rows_out": ext.get("MapInPandas.pythonNumRowsReceived", 0),
        "extract.quarantined": res["quarantined"],
        "extract.python_s": ext.get("MapInPandas.pythonTotalTime", 0) / 1e3,
        "extract.python_init_s":
            ext.get("MapInPandas.pythonInitTime", 0) / 1e3,
        "extract.arrow_bytes_sent": ext.get("MapInPandas.pythonDataSent", 0),
        "extract.arrow_bytes_recv":
            ext.get("MapInPandas.pythonDataReceived", 0),
        "extract.udf_rows_per_page": udf_rows / max(ctx.to_parse, 1),
        "triples.s": tri.get("s", 0.0),
        "triples.rows_out": tri.get("rows_out", 0),
        "triples.shuffle_bytes": tri.get("shuffle_bytes", 0),
        "linking.s": link.get("s", 0.0),
        "linking.broadcast_build_ms":
            link.get("BroadcastExchange.buildTime", 0),
        "linking.broadcast_bytes": link.get("BroadcastExchange.dataSize", 0),
        "canonicalize.cc_s": cc.get("s", 0.0),
        "canonicalize.cc_jobs": cc.get("jobs", 0),
        "canonicalize.vertices": cc.get("rows_out", 0),
        "canonicalize.components": cc.get("components", 0),
        "canonicalize.wrong_vertices": res["wrong"],
        "canonicalize.shuffle_bytes": cc.get("shuffle_bytes", 0),
        "canonicalize.rewrite_s": lay("canonicalize.rewrite").get("s", 0.0),
        "catalog.write_s": lay("catalog.write").get("s", 0.0),
        "catalog.files": res.get("files", 0),
        "catalog.bytes": res.get("bytes", 0),
        "incremental.rows_in": ctx.exp.pages if incremental else 0,
        "incremental.todo_rows": ext.get("MapInPandas.pythonNumRowsReceived", 0)
        if incremental else 0,
        "incremental.parse_stage_s": parse.get("s", 0.0) if incremental
        else 0.0,
        "incremental.triples_stage_s": tri.get("s", 0.0) if incremental
        else 0.0,
        "incremental.merge_cc_s": cc.get("s", 0.0) if incremental else 0.0,
        "snaptable.snapshots": res.get("snapshots", 0),
        "snaptable.bytes": res.get("snap_bytes", 0),
    }


def _median_of(dicts: list) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import ferenda_spark  # noqa: F401
    except ImportError as e:
        print("kgbench: the program is not in this checkout: %s" % e,
              file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(RUN_LIMIT_S)
    # Spark gets one task slot per core this process may run on (nproc)
    cores = os.sched_getaffinity(0)
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(len(cores))

    from pyspark import SparkContext

    from ferenda_spark.session import get_spark
    from kgbench import trace

    fig = {}
    t0 = time.perf_counter()
    spark = get_spark(master="local[%d]" % len(cores))
    spark.sparkContext.setLogLevel("ERROR")
    # first job, with the Python workers started and the kernel imported
    spark.range(2 * len(cores), numPartitions=len(cores)).mapInPandas(
        _import_kernel, "id long").count()
    fig["session.start_s"] = time.perf_counter() - t0
    try:
        ctx = setup(spark, args.workload, args.seed, fig)
        setup_s = (fig["session.start_s"] + fig["corpus.gen_s"]
                   + fig["incremental.base_s"])
        # untimed warm-up: cold operations here run 20-70% slower, and
        # a cold build still speeds up over the first operations on its
        # own input after one on the small input
        warm = [ctx.warm, ctx] if ctx.warm else [ctx]
        warm_s = sum(run_op(spark, trace.NullTracer(), -1, c)["dag_s"]
                     for c in warm)
        n_ops = max(MIN_OPS, round(args.seconds / OP_S[args.workload]))
        tracer = trace.Tracer(spark) if args.trace else trace.NullTracer()
        ops = [run_op(spark, tracer, i, ctx) for i in range(n_ops)]
        rss = _peak_rss_mb(_descendants())
        jvm_pid = SparkContext._gateway.proc.pid
    finally:
        _stop(spark)
        signal.alarm(0)

    failed = [r for r in ops if not r["ok"]]
    dag_s = statistics.median(r["dag_s"] for r in ops)
    e2e = {
        "dag_s": dag_s,
        "triples_per_s": statistics.median(r["triples"] / r["dag_s"]
                                           for r in ops),
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss.values()),
        "quarantined_frac": statistics.median(r["quarantined"]
                                              for r in ops)
        / ctx.exp.pages,
    }
    table = dict(e2e, failed_frac=len(failed) / len(ops),
                 warmup_dag_s=warm_s,
                 steal_pct=statistics.median(r["steal_pct"] for r in ops),
                 rss_jvm_mb=rss.get(jvm_pid, 0.0),
                 rss_python_mb=rss[os.getpid()])
    units = dict(END_TO_END, failed_frac="ratio", warmup_dag_s="s",
                 steal_pct="%", rss_jvm_mb="MB", rss_python_mb="MB")
    if args.trace:
        layers = _median_of([layer_figures(tracer, r, ctx) for r in ops])
        layers.update(fig)
        layers.update(kernel_probe(ctx.specs))
        # operations whose committed triples are wrong even through the
        # committed mapping: a fault outside canonicalization
        layers["verify.triples_failed"] = sum(not r["triples_ok"]
                                              for r in ops)
        layers["host.steal_pct"] = statistics.median(r["steal_pct"]
                                                     for r in ops)
        # the tracer's own reads happen inside the timed operation, after
        # each span: their time over the rest of the operation is what
        # tracing adds to an untraced operation
        overhead = statistics.median(tracer.overhead_s.values())
        layers["trace.overhead_frac"] = overhead / (dag_s - overhead)
        tracer.dump(os.path.join(WORK, "spans-%s-%d.jsonl"
                                 % (args.workload, args.seed)))
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
        table.update({k: v for k, (v, _) in metrics.items()})
        units.update(PER_LAYER)
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}

    print("kgbench %s seed=%d ops=%d (+%d warm-up) trace=%d"
          % (args.workload, args.seed, len(ops), len(warm), args.trace))
    for k in sorted(table):
        print("  %-34s %16.6g %s" % (k, table[k], units[k]))
    for r in ops:
        print("  op %d: dag_s %.3f, steal %.1f%%, %s" % (
            r["op"], r["dag_s"], r["steal_pct"],
            "ok" if r["ok"] else "FAILED: " + r["reason"]))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
