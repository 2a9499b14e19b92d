"""Review-summarization benchmark: one workload per run, one JSON line.

    python3 perfbench/run.py --workload reviews_deep --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed (once per workload and seed, under ``.perfbench_work/``), sets the
engine up three times, runs one cold pass and then warm passes until
``--seconds`` have gone by, checks every pass's output, and prints the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) as the last line of standard output.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import corpus
import layertrace
import proctree
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DIGESTS = os.path.join(HERE, "digests.json")
N_SETUPS = 3
MIN_WARM_PASSES = 3
CONTROL_SEED = 12345


def _slots() -> int:
    """Task slots: one core is left for scheduling, GC and JIT threads."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def _prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path.insert(0, ROOT)


class Engine:
    """The session under test and the process that hosts it."""

    def __init__(self, trace_dir: str | None):
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        self.trace_dir = trace_dir
        self.spark = None
        self.setups: list[dict[str, float]] = []

    def setup(self, traced: bool = False) -> None:
        """Session up, engine warm-up job run, Python worker pool spawned."""
        from bigdataanalytics_textsummarization_spark.session import get_session

        conf = dict(self.conf)
        if traced:
            conf.update(layertrace.EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = f"file://{self.trace_dir}"
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_session(cpus=_slots(), extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(200_000).selectExpr("id % 16 AS k").groupBy("k").count().collect()
        t2 = time.perf_counter()
        n = _slots()
        self.spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()
        t3 = time.perf_counter()
        self.setups.append(
            {"get_session_s": t1 - t0, "warmup_s": t2 - t1, "workers_s": t3 - t2, "total_s": t3 - t0}
        )

    def pinned_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def jvm_gc_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def heap_after_gc_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def shutdown(self) -> None:
        """Stop the session, the JVM and its Python workers; wait for all."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        _reap_descendants()


def _reap_descendants(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while (left := proctree.descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while proctree.descendants(os.getpid()):
        time.sleep(0.1)


def _control(spark, path: str) -> float:
    """Fixed shuffle-bearing job that uses no engine code."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    spark.read.parquet(path).groupBy((F.col("k") % 16).alias("g")).agg(
        F.sum("v"), F.count("*")
    ).collect()
    return time.perf_counter() - t


def _registries_empty() -> bool:
    from bigdataanalytics_textsummarization_spark import functions as fn

    return not (fn._PINS or fn._CHECKPOINTS or fn._LEAVES or fn._BUILDS)


def run_passes(engine: Engine, wl, path: str, control: str, seconds: float) -> list[dict]:
    """One cold pass, then warm passes until ``seconds`` have passed since
    the first warm pass began (at least MIN_WARM_PASSES)."""
    from bigdataanalytics_textsummarization_spark import functions as fn

    passes: list[dict] = []
    start = None
    while True:
        # the control runs before warm passes only: a one-shot user's first
        # pass pays the parquet reader's warm-up too
        rec = {"control_s": _control(engine.spark, control) if passes else None}
        cpu0, gc0 = proctree.tree_cpu_s(), engine.jvm_gc_s()
        t0 = time.perf_counter()
        try:
            out = wl.run_pass(engine.spark, path)
            rec["wall_s"] = time.perf_counter() - t0
            if not passes:  # the cold pass's rows feed the oracle check
                rec["outputs"] = out
            rec["digest"] = workloads.digest(out)
            rec["problems"] = wl.check(out)
        except Exception:
            rec["wall_s"] = time.perf_counter() - t0
            rec["problems"] = ["raised:\n" + traceback.format_exc()]
        rec["pinned_mb"] = engine.pinned_mb()
        rec["memo_entries"], rec["leaves"] = len(fn._BUILDS), len(fn._LEAVES)
        rec["pins_released"] = fn.release_pins()
        if not _registries_empty():
            rec["problems"].append("pin registries not empty after release_pins()")
        rec["cpu_s"] = proctree.tree_cpu_s() - cpu0
        rec["gc_s"] = engine.jvm_gc_s() - gc0
        passes.append(rec)
        if start is None:
            start = time.perf_counter()
        elif len(passes) > MIN_WARM_PASSES and time.perf_counter() - start >= seconds:
            return passes


def check_digests(name: str, seed: int, passes: list[dict]) -> None:
    """Every pass must match the cold pass, and the committed digest for
    this seed where one is committed."""
    with open(DIGESTS) as fh:
        want = json.load(fh).get(name, {}).get(str(seed))
    cold = passes[0].get("digest")
    for p in passes:
        d = p.get("digest")
        if d is None:
            continue
        if d != cold:
            p["problems"].append(f"digest {d[:12]} differs from the cold pass")
        if want is not None and d != want:
            p["problems"].append(f"digest {d[:12]} differs from the committed one")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--record-digest",
        action="store_true",
        help="store this run's output digest as the committed one for the seed",
    )
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    _prepare_env()

    # inputs: generated once per (workload, seed, generator source), before
    # any clock starts
    with open(corpus.__file__, "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(WORK, "data", f"{wl.name}-{args.seed}-{gen}")
    n_sentences = wl.prepare(data, args.seed)
    path = wl.input_path(data)
    control = os.path.join(WORK, "data", "control.parquet")
    if not os.path.exists(control):
        corpus.write_control(control + ".tmp", CONTROL_SEED)
        os.replace(control + ".tmp", control)

    trace_dir = tempfile.mkdtemp(prefix="eventlog-", dir=WORK) if args.trace else None
    engine = Engine(trace_dir)
    diag: dict[str, float] = {}
    try:
        for i in range(N_SETUPS):
            engine.setup(traced=bool(args.trace) and i == N_SETUPS - 1)
        passes = run_passes(engine, wl, path, control, args.seconds)
        check_digests(wl.name, args.seed, passes)
        run_problems = wl.run_checks(path, passes[0].get("outputs"))
        diag["jvm.heap_after_gc_mb"] = engine.heap_after_gc_mb()
        diag["proc.peak_rss_mb"] = proctree.tree_hwm_mb()
        if args.trace:
            from bigdataanalytics_textsummarization_spark.functions import release_pins

            tr = layertrace.Tracer(engine.spark)
            t0 = time.perf_counter()
            diag.update(wl.trace_chain(tr, path))
            diag["traced_pass_s"] = time.perf_counter() - t0
            tr.release()
            release_pins()
            wl.trace_constructs(tr, path)
    finally:
        engine.shutdown()

    failed = sum(bool(p["problems"]) for p in passes) + len(run_problems)
    attempted = len(passes) + wl.N_RUN_CHECKS
    for i, p in enumerate(passes):
        for msg in p["problems"]:
            print(f"pass {i}: {msg}", file=sys.stderr)
    for msg in run_problems:
        print(msg, file=sys.stderr)
    print(
        f"cold pass {passes[0]['wall_s']:.2f} s; warm passes (wall/control s): "
        + " ".join(f"{p['wall_s']:.2f}/{p['control_s']:.2f}" for p in passes[1:]),
        file=sys.stderr,
    )
    if args.record_digest and failed == 0:
        record_digest(wl.name, args.seed, passes[0]["digest"])

    if args.trace:
        layers = layertrace.layer_metrics(tr, layertrace.aggregate(trace_dir))
        shutil.rmtree(trace_dir)
        layers.update(diag_metrics(engine, passes, diag))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = end_to_end_metrics(engine, passes, n_sentences, failed, attempted)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


def _warm_median(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes[1:])


def end_to_end_metrics(
    engine: Engine, passes: list[dict], n_sentences: int, failed: int, attempted: int
) -> dict[str, dict]:
    pass_s = _warm_median(passes, "wall_s")
    values = {
        "setup_s": (statistics.median(s["total_s"] for s in engine.setups), "s"),
        "pass_s": (pass_s, "s"),
        "sentences_per_s": (n_sentences / pass_s, "1/s"),
        "pinned_mb": (_warm_median(passes, "pinned_mb"), "MB"),
        "ok_frac": (1 - failed / attempted, "1"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def diag_metrics(engine: Engine, passes: list[dict], diag: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics that come from the timed passes and the setups."""
    out = {k: v for k, v in diag.items() if k != "traced_pass_s"}
    out["trace.overhead_s"] = diag["traced_pass_s"] - _warm_median(passes, "wall_s")
    out["cold_s"] = passes[0]["wall_s"]
    for key in ("memo_entries", "leaves", "pins_released"):
        out[f"functions.{key}"] = _warm_median(passes, key)
    for key in ("get_session_s", "warmup_s", "workers_s"):
        out[f"session.{key}"] = statistics.median(s[key] for s in engine.setups)
    out["proc.cpu_per_pass_s"] = _warm_median(passes, "cpu_s")
    out["jvm.gc_s"] = _warm_median(passes, "gc_s")
    out["control_s"] = _warm_median(passes, "control_s")
    return out


def record_digest(key: str, seed: int, value: str) -> None:
    with open(DIGESTS) as fh:
        table = json.load(fh)
    table.setdefault(key, {})[str(seed)] = value
    with open(DIGESTS, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit (BENCHMARK.json order)."""
    units: dict[str, str] = {}
    for call in layertrace.CALLS:
        for m, u in layertrace.CALL_METRICS:
            units[f"{call}.{m}"] = u
        if call in layertrace.ARROW_CALLS:
            for m, u in layertrace.ARROW_METRICS:
                units[f"{call}.{m}"] = u
    for call in layertrace.CONSTRUCT_ONLY:
        units[f"{call}.construct_s"] = "s"
    units.update(
        {
            "lsa.svd_cells": "count",
            "lsa.worker_peak_mb": "MB",
            "functions.memo_entries": "count",
            "functions.leaves": "count",
            "functions.pins_released": "count",
            "session.get_session_s": "s",
            "session.warmup_s": "s",
            "session.workers_s": "s",
            "proc.cpu_per_pass_s": "s",
            "proc.peak_rss_mb": "MB",
            "jvm.heap_after_gc_mb": "MB",
            "jvm.gc_s": "s",
            "control_s": "s",
            "cold_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return units


if __name__ == "__main__":
    sys.exit(main())
