"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Timed run (``--trace 0``): start a Spark session on ``local[nproc]``,
generate and commit the seeded inputs and their oracle, run the
workload's warm-up ops, then run ops until ``--seconds`` have passed (at
least one), checking every op's outputs.  While an op takes longer than
``--seconds`` it is the only timed one.  Prints the end-to-end metrics.

Traced run (``--trace 1``): same set-up with Spark's event log on and a
warmed session, then one untraced op and one traced replay of the op per
op family (a fixed sequence; ``--seconds`` does not apply); prints the
per-layer metrics (see ``perfbench/replay.py``) and keeps the spans in
``.bench_work/spans-<workload>-<seed>.json``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  The exit code is non-zero when any op
raised or failed its output check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
    "bytes_written_mb": "MB",
    "peak_rss_mb": "MB",
}


def _check_tree() -> None:
    missing = [p for p in ("deduce_spark/spark/kg.py", "jobs/build_kg.py",
                           "jobs/curate_corpus.py")
               if not (ROOT / p).is_file()]
    if missing:
        sys.exit(f"perfbench: program sources not found under {ROOT}: {missing}")


def start_spark(work: Path, event_log_dir: Path | None = None):
    """Spark session through the program's own ``get_spark``; every
    scratch path (shuffle, temp, warehouse, event log) stays in ``work``."""
    from perfbench.host import nproc

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # no get_spark engine warm-up (~9 s of tiny queries on 4 cores): kg
    # set-up warms with a whole op, and curate's first op is the one timed
    os.environ["SPARK_GRAFT_WARM_ENGINE"] = "0"
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # a fixed-size heap (-Xms = driver memory): a growable one resized
    # differently run to run, and the JVM's RSS after an op ranged 1.4-2.0 GB
    mem = "3g"
    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from deduce_spark.spark.session import get_spark

    spark = get_spark(master=f"local[{nproc()}]", app_name="perfbench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tally:
    """Ops attempted and failed (raised or failed the output check)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, fn, *args):
        self.attempted += 1
        try:
            res = fn(*args)
        except Exception:  # an op that raises is a failed op, not a crash
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        problems = res.get("problems") if isinstance(res, dict) else None
        if problems:
            print(f"perfbench: output check failed: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        return res


def set_up(name: str, seed: int, work: Path, tally: Tally, rec=None,
           event_log_dir=None, warmup_ops: int | None = None):
    """Session start (the lookup pickle loads meanwhile), then input
    generation + commit + oracle, repeated ``prepare_reps`` times (the
    median counts), then ``warmup_ops`` untimed ops (default: the
    workload's own count).  Returns (workload, setup_s)."""
    from perfbench.host import stop_spark
    from perfbench.trace import span
    from perfbench.workloads import WORKLOADS, load_engine

    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        engine = pool.submit(load_engine) if name.startswith("kg_") else None
        with span(rec, "session.get_spark"):
            spark = start_spark(work, event_log_dir)
        if rec is not None:
            rec.attach(spark.sparkContext)
        extra = (engine.result(),) if engine else ()
    wl = WORKLOADS[name](spark, work, seed, *extra)
    fixed = time.perf_counter() - t0
    reps = []
    try:
        for _ in range(wl.prepare_reps):
            t = time.perf_counter()
            with span(rec, "bench.prepare"):
                wl.prepare()
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        for _ in range(wl.warmup_ops if warmup_ops is None else warmup_ops):
            with span(rec, "bench.warmup"):
                tally.run(wl.op)
        warm_s = time.perf_counter() - t
    except BaseException:
        stop_spark(spark)
        raise
    wl.setup_parts = {"session_and_engine_s": fixed, "prepare_s": reps,
                      "warmup_s": warm_s}
    return wl, fixed + statistics.median(reps) + warm_s


def java_version(spark) -> str:
    return spark.sparkContext._jvm.System.getProperty("java.version")


def timed_run(name: str, seed: int, seconds: float, work: Path) -> dict:
    from perfbench.host import peak_rss_bytes, reset_peak_rss, stop_spark

    tally = Tally()
    wl, setup_s = set_up(name, seed, work, tally)
    walls, written, peaks = [], [], []
    t0 = time.perf_counter()
    try:
        while not walls or time.perf_counter() - t0 < seconds:
            reset_peak_rss(os.getpid())
            res = tally.run(wl.op)
            peaks.append(peak_rss_bytes(os.getpid()))
            if res is None:
                if tally.failed > tally.attempted // 2:
                    break  # the program is broken; stop early
                continue
            walls.append(res["wall_s"])
            written.append(res["bytes"])
        java = java_version(wl.spark)
    finally:
        stop_spark(wl.spark)
    job_s = statistics.median(walls) if walls else 0.0
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "rows_per_s": wl.rows / job_s if walls else 0.0,
        "bytes_written_mb": statistics.median(written) / 1e6 if written else 0.0,
        "peak_rss_mb": max(peaks) / 1e6,
    }
    record = {
        "input": wl.properties,
        "ops_wall_s": [round(w, 4) for w in walls],
        "setup": wl.setup_parts,
        "error_rate": tally.failed / tally.attempted,
        "java": java,
    }
    if name == "curate":
        record["fingerprints_pinned"] = wl.pinned
    return {"tally": tally, "metrics": metrics, "units": END_TO_END,
            "record": record}


def traced_run(name: str, seed: int, work: Path) -> dict:
    """Set-up with the event log on, then the traced replays.  A kg
    workload is set up as ``kg_fold`` (build inputs plus a fold base), so
    one traced run covers both kg op families; its base build warms the
    session.  ``curate`` runs one warm-up op, so that its untraced op and
    traced replay both run warm."""
    from perfbench import replay
    from perfbench.host import stop_spark
    from perfbench.trace import SpanRecorder

    tally = Tally()
    log_dir = work / "eventlog"
    rec = SpanRecorder(None, uuid.uuid4().hex[:12])
    kg = name.startswith("kg_")
    wl, _setup_s = set_up("kg_fold" if kg else name, seed, work, tally, rec,
                          event_log_dir=log_dir, warmup_ops=0 if kg else 1)
    try:
        raw = replay.run(wl, rec, tally)
        java = java_version(wl.spark)
    finally:
        stop_spark(wl.spark)  # also flushes and closes the event log
    metrics, record = replay.summarize(rec, raw, log_dir)
    record.update(input=wl.properties, java=java)
    return {"tally": tally, "metrics": metrics, "spans": rec,
            "units": {m: u for m, u, _b in replay.PER_LAYER}, "record": record}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("kg_build", "kg_fold", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _check_tree()
    sys.path.insert(0, str(ROOT))
    from perfbench.host import host_facts

    base = Path.cwd() / ".bench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host_before = host_facts(ROOT)
    try:
        if args.trace:
            res = traced_run(args.workload, args.seed, work)
            res["spans"].write(base / f"spans-{args.workload}-{args.seed}.json")
        else:
            res = timed_run(args.workload, args.seed, args.seconds, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tally = res["tally"]
    java = res["record"].pop("java")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **res["record"],
        "host": dict(host_before, java=java,
                     loadavg_after=[round(x, 2) for x in os.getloadavg()]),
    }
    print(json.dumps({"record": record}, sort_keys=True))
    for k, v in res["metrics"].items():
        print(f"{k:<64} {v:>16.6g} {res['units'][k]}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": res["units"][k]}
                    for k, v in res["metrics"].items()},
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
