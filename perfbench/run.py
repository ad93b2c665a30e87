"""kgkit benchmark: one workload, one SparkSession, a closed loop with one caller.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Run from the root of a kgkit checkout.  The run

1. records the host controls (``bench.host_control_docs_per_sec`` and
   ``bench.host_control_mp_pages_per_sec(nproc)``, at reduced page counts);
2. sets up, timed as ``setup_s``: starts one SparkSession on
   ``local[nproc]`` with ``bench.build_spark``'s settings, warms it up the
   way ``bench.main`` does, generates the seeded input (``gen.py``) and
   runs one untimed warm-up iteration of the workload (the first
   iteration in a fresh JVM runs about 2x slower than the rest);
3. runs iterations back to back until ``--seconds`` have passed (at
   least two; three when traced), timing each and checking its outputs
   outside the timed region;
4. prints a table of the metrics, a run record (also written to
   ``perfbench/_out/``), and, as the last line, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

Every timing is unstolen: its wall times one minus the share of the CPU
time the machine asked for that the hypervisor gave to other guests
(``steal`` in ``/proc/stat``).  On a shared host that share moves whole
runs by up to 2x; the raw walls and shares are kept in the run record.

``--trace 0`` reports the end-to-end metrics: ``pages_per_s`` (input
pages / median unstolen iteration wall), ``setup_s``, ``retained_mb`` (after the
loop: the driver JVM's heap in use after a full GC plus the RSS of
Spark's Python workers, from ``/proc``) and ``stored_bytes_per_page``
(``kg_build``: the stage checkpoints an iteration writes, per page;
``corpus_eval`` writes nothing and reports its input pages table).
Failed or wrong iterations are counted in ``failed``; the table also
prints them as ``error_rate``.  ``--trace 1`` turns on an uncompressed
event log, alternates untraced and traced iterations (spans and job
labels, ``perfbench/trace.py``), samples the peak RSS, runs a
single-process ``ner_core`` predict over the input texts with its phases
timed, and reports the per-layer metrics that BENCHMARK.json declares.
``trace.overhead_pct`` compares the traced iterations (event log, RSS
sampling, spans and labels) with the ``--trace 0`` run of the same
workload and seed, read from its record in ``perfbench/_out/``, so run
that first; ``trace.span_overhead_pct`` compares the traced iterations
with the untraced ones of the same run, which isolates spans and labels.

The session is never restarted between iterations, so cached blocks
that pile up show in ``session.*`` (traced run) and ``retained_mb``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
MIN_ITERATIONS = 2  # a median over fewer is one sample
MIN_TRACE_ITERATIONS = 3  # untraced, traced, untraced


def _warm_worker(it):
    import kgkit.ner_core  # noqa: F401 — preload per worker

    return it


def descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Summed RSS of the descendants of ``pid``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def retained_mb(spark) -> float:
    """Memory the session holds between iterations: the driver JVM's heap in
    use after a full GC plus the RSS of Spark's Python workers."""
    from pyspark import SparkContext

    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    runtime = jvm.java.lang.Runtime.getRuntime()
    heap = runtime.totalMemory() - runtime.freeMemory()
    return (heap + tree_rss_bytes(SparkContext._gateway.proc.pid)) / 2**20


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process's descendants."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def cpu_ticks() -> list:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list, after: list) -> float:
    """Share of the CPU time this machine asked for between two
    ``cpu_ticks()`` readings that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(d[0] + d[1] + d[2] + d[5] + d[6] + d[7], 1)


def unstolen(wall, share):
    """Wall time less its stolen share: a run that got only part of its CPUs
    took 1 / (1 - share) times as long."""
    return None if wall is None else wall * (1.0 - share)


def git_commit(root: str):
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def session_stats(spark) -> dict:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    return {"persistent_rdds": jsc.getPersistentRDDs().size(),
            "cached_mb": cached / 2**20}


def prepare_env(work: str, trace: bool) -> None:
    """Point every scratch location of the run inside ``work`` and make the
    program importable by the driver and by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own helper JVM
    args = ["--driver-java-options", jvm_opts,
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        for k, v in (("enabled", "true"), ("dir", f"file://{events}"),
                     ("compress", "false"), ("rolling.enabled", "false")):
            args += ["--conf", f"spark.eventLog.{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))


def start_session(bench, cpus: int):
    spark = bench.build_spark(cpus, "kgkit-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # bench.main's warm-up: codegen, then one Python worker per core
    spark.range(1000).selectExpr("sum(id)").collect()
    width = spark.sparkContext.defaultParallelism * 2
    spark.range(width * 4).repartition(width).mapInPandas(
        _warm_worker, "id long").write.format("noop").mode("overwrite").save()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def ner_core_layer(texts) -> dict:
    """Single-process ``predict`` over the workload's texts: plain for the
    1-proc rate, then with the phase functions timed."""
    from kgkit.ner_core import predict
    from perfbench.trace import NER_PHASES, PhaseTimer

    predict(texts[:50], level="entity", autocorrect=True)
    t0 = time.perf_counter()
    predict(texts, level="entity", autocorrect=True)
    out = {"ner_core.pages_per_s_1proc": len(texts) / (time.perf_counter() - t0)}
    timer = PhaseTimer()
    with timer.patches():
        predict(texts, level="entity", autocorrect=True)
    out.update({f"ner_core.{p}_s": timer.totals[p] for p in NER_PHASES})
    return out


def untraced_baseline(workload: str, seed: int, traced: dict):
    """Pair each traced iteration with the iteration at the same position of
    the newest ``--trace 0`` record of this workload, preferring this seed
    (walls still fall over the first iterations, so positions must match).
    Returns the median of each side, or None when nothing pairs."""
    import glob

    paths = [os.path.join(OUT, f"record-{workload}-{seed}-t0.json")]
    paths = [p for p in paths if os.path.exists(p)] or sorted(
        glob.glob(os.path.join(OUT, f"record-{workload}-*-t0.json")),
        key=os.path.getmtime, reverse=True)
    for path in paths:
        with open(path) as fh:
            rec = json.load(fh)
        plain = {k: w for k, w in enumerate(rec["unstolen_walls_s"])
                 if w is not None and str(k) not in rec["errors"]}
        pairs = [(plain[k], w) for k, w in traced.items() if k in plain]
        if pairs:
            return {"seed": rec["seed"], "positions": len(pairs),
                    "untraced_s": statistics.median(p for p, _ in pairs),
                    "traced_s": statistics.median(t for _, t in pairs)}
    return None


def declared_metrics(trace: bool):
    """(name, unit) pairs that BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def measure(args, work: str, cpus: int) -> dict:
    """Set up, run the closed loop, check the outputs; return the run record."""
    import bench

    from perfbench import eventlog, gen
    from perfbench.trace import Tracer, traced_stages
    from perfbench.workloads import WORKLOADS, Ctx

    trace = bool(args.trace)
    t_run = time.monotonic()
    phases = {}  # seconds since start at the end of each phase

    def mark(name: str) -> None:
        phases[name] = round(time.monotonic() - t_run, 2)

    workload = WORKLOADS[args.workload]()
    record = {"workload": args.workload, "seed": args.seed, "pages": workload.pages,
              "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
              "git_commit": git_commit(ROOT), "phases_s": phases,
              "host_control_docs_per_sec": bench.host_control_docs_per_sec(200),
              "host_control_mp_pages_per_sec": bench.host_control_mp_pages_per_sec(cpus, 800)}
    # the control's process pool leaves multiprocessing's resource tracker running
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    mark("host_controls")

    rss = PeakRss() if trace else None
    t_setup, setup_ticks = time.monotonic(), cpu_ticks()
    spark = start_session(bench, cpus)
    record["spark_confs"] = dict(spark.sparkContext.getConf().getAll())
    mark("session")
    if rss is not None:
        rss.start()
    try:
        ctx = Ctx(spark=spark, root=ROOT, sf_dir=os.path.join(work, "input"),
                  work=work, cpus=cpus)
        gen.generate(ctx.sf_dir, args.seed, workload.pages)
        mark("input")
        workload.setup(ctx)
        record["setup_wall_s"] = time.monotonic() - t_setup
        record["setup_steal_share"] = steal_share(setup_ticks, cpu_ticks())
        record["setup_s"] = unstolen(record["setup_wall_s"], record["setup_steal_share"])
        mark("setup")

        stats = [session_stats(spark)]
        walls, steal, facts, errors = [], [], {}, {}
        tracer = Tracer(spark.sparkContext) if trace else None
        t_loop, loop_ticks = time.monotonic(), cpu_ticks()
        i = 0
        # traced run: odd iterations traced, even ones untraced (the baseline
        # of trace.span_overhead_pct, on both sides of each traced iteration)
        while (time.monotonic() - t_loop < args.seconds
               or i < (MIN_TRACE_ITERATIONS if trace else MIN_ITERATIONS)):
            ctx.tracer = tracer if trace and i % 2 else None
            if ctx.tracer is not None:
                tracer.iteration = i
            wall = share = None
            try:
                with traced_stages(tracer) if ctx.tracer is not None else nullcontext():
                    ticks, t0 = cpu_ticks(), time.monotonic()
                    out = workload.iterate(ctx, i)
                    wall = time.monotonic() - t0
                    share = steal_share(ticks, cpu_ticks())
                facts[i] = workload.inspect(ctx, out)
            except Exception as exc:  # noqa: BLE001 — counted in `failed`
                errors[i] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            walls.append(wall)
            steal.append(share)
            stats.append(session_stats(spark))
            i += 1
        ctx.tracer = None
        if rss is not None:
            record["peak_rss_mb"] = rss.stop() / 2**20
        record["retained_mb"] = retained_mb(spark)
        record["loop_steal_share"] = steal_share(loop_ticks, cpu_ticks())
        mark("loop")

        try:
            problems = workload.check(ctx, [facts[k] for k in sorted(facts)])
        except Exception as exc:  # noqa: BLE001 — no reference, nothing passes
            problems = [f"reference failed: {type(exc).__name__}: {exc}"] * len(facts)
        for k, problem in zip(sorted(facts), problems):
            if problem:
                errors[k] = problem
        mark("check")
        if trace:
            from kgkit.sources.pages import load_pages, pages_for_mentions

            layers = ner_core_layer(workload.ner_texts(ctx))
            layers["sources.input_partitions"] = pages_for_mentions(
                load_pages(spark, ctx.sf_dir)).rdd.getNumPartitions()
    finally:
        if rss is not None and rss.is_alive():
            rss.stop()
        stop_session(spark)
        mark("stop")

    # every timing metric is taken from the unstolen walls: on a shared host
    # the stolen share swings the raw walls of whole runs by up to 2x
    timed = [unstolen(w, x) for w, x in zip(walls, steal)]
    record.update({"walls_s": walls, "iter_steal_share": steal, "unstolen_walls_s": timed,
                   "errors": errors, "session": stats})
    if not trace:
        ok = [w for k, w in enumerate(timed) if w is not None and k not in errors]
        stored = workload.stored_bytes(ctx, list(facts.values())) if facts else 0.0
        record["metrics"] = {
            "pages_per_s": workload.pages / statistics.median(ok) if ok else 0.0,
            "setup_s": record["setup_s"],
            "retained_mb": record["retained_mb"],
            "stored_bytes_per_page": stored / workload.pages,
        }
        return record

    (log,) = os.listdir(os.path.join(work, "eventlog"))
    rows = eventlog.parse(eventlog.read_events(os.path.join(work, "eventlog", log)),
                          fallback=tracer.label_at)
    layers.update(workload.layer_metrics(ctx, tracer, rows,
                                         {k: v for k, v in facts.items() if k % 2}))
    plain = statistics.median([w for w in timed[0::2] if w] or [0.0])
    traced = statistics.median([w for w in timed[1::2] if w] or [0.0])
    baseline = untraced_baseline(args.workload, args.seed, {
        k: w for k, w in enumerate(timed) if k % 2 and w is not None and k not in errors})
    record["overhead_baseline"] = baseline
    layers.update({
        "session.persistent_rdds": stats[-1]["persistent_rdds"],
        "session.persistent_rdds_growth": stats[-1]["persistent_rdds"] - stats[0]["persistent_rdds"],
        "session.cached_mb": stats[-1]["cached_mb"],
        "session.cached_mb_growth": stats[-1]["cached_mb"] - stats[0]["cached_mb"],
        "session.peak_rss_mb": record["peak_rss_mb"],
        "trace.untraced_iter_s": baseline["untraced_s"] if baseline else 0.0,
        "trace.traced_iter_s": baseline["traced_s"] if baseline else traced,
        "trace.overhead_pct": (100.0 * (baseline["traced_s"] / baseline["untraced_s"] - 1.0)
                               if baseline else 0.0),
        "trace.span_overhead_pct": 100.0 * (traced / plain - 1.0) if plain else 0.0,
        # jobs inside a traced span that did not carry its label
        "trace.unlabeled_jobs": sum(r.unlabeled_jobs for r in rows.values() if r.label),
    })
    record["metrics"] = layers
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump(tracer.spans, fh)
    mark("layers")
    return record


def main() -> int:
    ap = argparse.ArgumentParser(description="kgkit benchmark (see module docstring)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import kgkit  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the root of a kgkit checkout ({exc})", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    declared = declared_metrics(bool(args.trace))

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_env(work, bool(args.trace))
        record = measure(args, work, len(os.sched_getaffinity(0)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"record-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    missing = [name for name, _ in declared if name not in record["metrics"]]
    if missing:  # layers this workload does not run, e.g. dedup.* on kg_build
        print(f"perfbench: not measured on {args.workload}, reported as 0: "
              + ", ".join(missing), file=sys.stderr)
    if args.trace and record["overhead_baseline"] is None:
        print(f"perfbench: no --trace 0 record of {args.workload} in {OUT}; "
              "trace.overhead_pct and trace.untraced_iter_s reported as 0",
              file=sys.stderr)
    metrics = {name: record["metrics"].get(name, 0.0) for name, _ in declared}
    errors = record["errors"]
    for k, e in sorted(errors.items()):
        print(f"iteration {k} failed: {e}")
    for name, unit in declared:
        print(f"{args.workload:12s} {name:40s} {metrics[name]:>16.6g} {unit}")
    print(f"{args.workload:12s} {'error_rate':40s} {len(errors) / len(record['walls_s']):>16.6g} ratio")
    print("record: " + json.dumps({k: record[k] for k in (
        "workload", "seed", "pages", "cpus", "git_commit", "host_control_docs_per_sec",
        "host_control_mp_pages_per_sec", "phases_s", "setup_wall_s", "setup_steal_share",
        "walls_s", "iter_steal_share")}))
    print(json.dumps({
        "correct": not errors, "attempted": len(record["walls_s"]), "failed": len(errors),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
