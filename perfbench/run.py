"""Benchmark of the production path ``plans.pipeline.run_pipeline``:
fixture pages (HTML bodies) -> text -> mentions -> graph -> warehouse ->
triples, checked against ``fixtures.corpus.golden_triples``.

    python3 perfbench/run.py --workload build_html --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run starts one local Spark session with
``local[nproc]``, materializes the seeded corpus, and then makes, one at a
time from this process (closed loop, one client):

1. the session's first ``run_pipeline`` call into an empty warehouse (the
   cold call every ``spark-submit`` job pays), timed through ``count()`` of
   the returned triples; it is the whole measured work of an untraced run
   and takes far longer than ``--seconds``;
2. when traced, unchanged reruns on the same warehouse, which resume from
   the lineage marks, for ``--seconds`` seconds (at least ``RESUME_REPS``).

Every call is checked outside its timed interval: the triple set must equal
the golden set, and a rerun must add no extract lineage mark.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on Spark's
event log, wraps the layer boundaries in spans (``spans.py``) and prints the
per-layer metrics, the rerun time among them: a rerun takes about 1.5 s of
small jobs, and its run-to-run spread (up to a fifth) is too wide for an
end-to-end bound. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import glob
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "web3_knowledge_graph_spark"

# pages per run; corpus content is fixed, so golden_triples(N_PAGES) is exact.
# One cold call costs ~30 s of fixed per-job work on 4 cores plus ~1 s per
# 100 pages; the run budget allows no more pages.
N_PAGES = 600
# distractor aliases the broadcast-join workload adds to the 78 fixture ones
BIG_DICT_ALIASES = 2000
# run_pipeline's ``buckets``: all dates go into one extract write job
BUCKETS = 1
# data set-up (corpus materialization + side tables) repeats per run
SETUP_REPS = 3
# the rerun time is the median of the first RESUME_REPS reruns: reruns
# speed up with the rep index (the JVM is still warming), so a median over
# however many reruns fit in --seconds would move with their count
RESUME_REPS = 3
# a run that has not finished by then kills its Spark processes and fails
DEADLINE_S = 170

WORKLOADS = {
    # name -> distractor aliases added to the fixture dictionary
    "build_html": 0,
    "build_bigdict": BIG_DICT_ALIASES,
}


def log(msg: str) -> None:
    print(msg, flush=True)


# ---------------------------------------------------------------------------
# process tree: peak RSS, clean shutdown
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled every 0.2 s while ``active`` is set."""

    def __init__(self):
        super().__init__(daemon=True)
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak_kb = 0

    def run(self):
        me = os.getpid()
        while not self.done.wait(0.2):
            if self.active.is_set():
                kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
                self.peak_kb = max(self.peak_kb, kb)


def kill_tree(sig=signal.SIGKILL) -> None:
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every child
    process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    if descendants(os.getpid()):
        kill_tree()
        while descendants(os.getpid()):
            time.sleep(0.1)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def extract_marks(root: str) -> int:
    return len(glob.glob(os.path.join(root, "_checkpoints", "extract__*.parquet")))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=N_PAGES, help=argparse.SUPPRESS)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    # Python workers must import the package (the HTML UDF lives in it)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp

    from web3_knowledge_graph_spark.session import default_cores

    cores = default_cores()
    if cores > nproc():
        print(
            f"error: {cores} task threads requested but nproc is {nproc()}",
            file=sys.stderr,
        )
        shutil.rmtree(work, ignore_errors=True)
        return 2

    def watchdog():
        print(f"error: run exceeded {DEADLINE_S} s", file=sys.stderr, flush=True)
        kill_tree()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()
    sampler = RssSampler()
    sampler.start()
    try:
        result = run(args, cores, work, sampler)
    finally:
        sampler.done.set()
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run(args, cores: int, work: str, sampler: RssSampler) -> dict:
    from web3_knowledge_graph_spark.session import gc_opts, get_spark

    n = args.pages
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"{gc_opts(cores)} -Djava.io.tmpdir={work}/tmp",
    }
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(evdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        out = measure(spark, args, cores, work, n, start_s, sampler)
    finally:
        stop_spark(spark)
    if args.trace and "layers" in out:
        # the event log is complete only once the session has stopped
        import layers

        logs = glob.glob(os.path.join(evdir, "*"))
        out["metrics"] = layers.per_layer(
            out.pop("layers"), logs[0],
            spans_out=os.path.join(ROOT, ".perfbench_out",
                                   f"{args.workload}-seed{args.seed}-spans.json"),
        )
    for k, v in out["metrics"].items():
        log(f"  {k} = {v['value']:.6g} {v['unit']}")
    return out


def measure(spark, args, cores, work, n, start_s, sampler) -> dict:
    import pandas
    import pyarrow
    import pyspark

    import inputs
    import spans
    from web3_knowledge_graph_spark.plans import pipeline

    sc = spark.sparkContext
    log(
        f"env: spark.local.dir={sc.getConf().get('spark.local.dir')} "
        f"cores={cores} nproc={nproc()} "
        f"driver.memory={sc.getConf().get('spark.driver.memory')} "
        f"spark={pyspark.__version__} pyarrow={pyarrow.__version__} "
        f"pandas={pandas.__version__}"
    )

    # -- set-up: corpus materialization + side tables, SETUP_REPS times -------
    setup_samples = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        inputs.materialize_pages(n, args.seed, os.path.join(work, "pages"), files=cores)
        pages = spark.read.parquet(os.path.join(work, "pages"))
        side, n_alias = inputs.side_tables(spark, WORKLOADS[args.workload], args.seed)
        setup_samples.append(time.perf_counter() - t0)
    want, n_want = inputs.golden(spark, n)
    setup_s = start_s + statistics.median(setup_samples)

    limit = pipeline.FUSE_DICT_MAX_ALIASES
    big = WORKLOADS[args.workload] > 0
    if (n_alias > limit) != big:
        raise SystemExit(
            f"{args.workload}: {n_alias} aliases against FUSE_DICT_MAX_ALIASES="
            f"{limit} does not select the intended extract_stage branch"
        )
    log(
        f"workload={args.workload} seed={args.seed} pages={n} aliases={n_alias} "
        f"({'broadcast-join' if big else 'fused literal-map'} branch, limit {limit}) "
        f"golden_triples={n_want}"
    )

    attempted = failed = 0
    root = os.path.join(work, "warehouse")

    def call(label: str, rp=pipeline.run_pipeline, tr=None):
        """One timed ``rp`` call through count(), spanned when ``tr`` is
        given; returns (seconds, triples DataFrame), or (None, None) when
        the call raised."""
        nonlocal attempted, failed
        attempted += 1
        sampler.active.set()
        t0 = time.perf_counter()
        try:
            if tr is None:
                trip = rp(spark, pages, side, root, run_id=label, buckets=BUCKETS)
                trip.count()
            else:
                trip = tr.span("plans.run_pipeline", rp, spark, pages, side,
                               root, run_id=label, buckets=BUCKETS)
                tr.span("triples.count", trip.count)
            return time.perf_counter() - t0, trip
        except Exception as e:  # counted, reported, and fails the run
            failed += 1
            log(f"{label}: run_pipeline raised {type(e).__name__}: {e}")
            traceback.print_exc()
            return None, None
        finally:
            sampler.active.clear()

    def check(label: str, trip, marks_before=None) -> bool:
        nonlocal failed
        bad = inputs.mismatches(trip, want)
        ok = bad == 0
        if marks_before is not None and extract_marks(root) != marks_before:
            log(f"{label}: unchanged rerun added extract lineage marks")
            ok = False
        if bad:
            log(f"{label}: {bad} triples differ from golden_triples({n})")
        if not ok:
            failed += 1
        return ok

    # -- 1. the session's first pipeline call ---------------------------------
    if args.trace:
        tracer = spans.Tracer(sc, "cold")
        first_s, trip = call("cold", spans.install(tracer), tracer)
        tracer.uninstall()
    else:
        first_s, trip = call("cold")
    if first_s is None:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    check("cold", trip)
    warehouse_bytes = dir_bytes(root)

    if not args.trace:
        metrics = {
            "first_pipeline_s": metric(first_s, "s"),
            "docs_per_s": metric(n / first_s, "docs/s"),
            "setup_s": metric(setup_s, "s"),
            "warehouse_mb": metric(warehouse_bytes / 2**20, "MB"),
        }
        log(
            f"samples: first_pipeline_s 1 (cold), "
            f"setup_s session start + median of {SETUP_REPS} data set-ups"
        )
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    live_bytes = live_snapshot_bytes(spark, root)

    # -- 2. unchanged reruns for --seconds ---------------------------------
    resume = []
    t_loop = time.perf_counter()
    while len(resume) < RESUME_REPS or time.perf_counter() - t_loop < args.seconds:
        marks = extract_marks(root)
        s, trip = call(f"rerun{len(resume)}")
        if s is None:
            return {"correct": False, "attempted": attempted, "failed": failed,
                    "metrics": {}}
        check(f"rerun{len(resume)}", trip, marks)
        resume.append(s)
    log("resume_s by rep: " + ", ".join(f"{i}:{s:.3f}" for i, s in enumerate(resume)))
    if len(resume) >= 2:
        log(f"resume_s drift (last - first): {resume[-1] - resume[0]:+.3f} s")

    # one more unchanged rerun with the spans installed gives the
    # tracing overhead against the untraced reruns above
    tr2 = spans.Tracer(sc, "rerun")
    marks = extract_marks(root)
    traced_rerun_s, trip = call("traced-rerun", spans.install(tr2))
    tr2.uninstall()
    if traced_rerun_s is None:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    check("traced-rerun", trip, marks)
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {},
        "layers": {
            "spans": tracer.spans, "start_s": start_s,
            "pages": n, "live_bytes": live_bytes,
            "resume_s": statistics.median(resume[:RESUME_REPS]),
            "overhead_s": traced_rerun_s - statistics.median(resume[:RESUME_REPS]),
            "peak_rss_mb": sampler.peak_kb / 1024,
        },
    }


def live_snapshot_bytes(spark, root: str) -> int:
    """Bytes of the current snapshot files of the graph tables."""
    from web3_knowledge_graph_spark.sources.warehouse import Warehouse

    wh = Warehouse(root)
    total = 0
    for name in ("nodes", "edges", "triples"):
        for f in wh.table(name).read(spark).inputFiles():
            total += os.path.getsize(f.removeprefix("file://").removeprefix("file:"))
    return total


if __name__ == "__main__":
    sys.exit(main())
