#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One client drives Spark ``local[4]``
(``session.get_spark``) in a closed loop.  After a warm-up it times whole
passes of the workload's ops until at least ``--seconds`` of op time is
measured, and reports figures built from each op's median time over the
run.  Outputs are checked (see ``workloads.py``); the last line of
standard output is the result JSON::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` repeats the timed passes in a fresh SparkContext with
spans, Spark's event log and a streaming progress listener on, runs
query-mix's streaming jobs there, and reports the per-layer metrics
(``layers.py``).

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit; a traced run keeps its spans there as
``<workload>-seed<n>-spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import geomean, median, tail  # noqa: E402
from workloads import CORES, WORKLOADS  # noqa: E402

# Session starts (and input preps) per run; setup_s takes their median.
SETUP_REPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this guest's
    CPUs wanted to run, summed over the CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.tmp_root = os.path.join(work, "tmp")
        os.makedirs(self.tmp_root)
        self.spark = None
        self.attempted = 0
        self.failed = 0

    # ---------------------------------------------------------------- session

    def start_session(self, extra: dict[str, str] | None = None):
        from osm_changesets_to_parquet_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp_root} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(extra or {})
        spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the context, then end the JVM and wait until it has exited."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def anchor(self) -> float:
        """bench.py's host anchor: min-of-3 of a spark.range sum, a plan no
        code change can move, so a slow run on a busy host shows as a
        slow anchor."""
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(50_000_000).selectExpr("sum(id)").collect()
            best = min(best, time.perf_counter() - t0)
        return best

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # ------------------------------------------------------------------ phases

    def setup(self, wl, tracer) -> dict:
        """SETUP_REPS fresh sessions, each with a fresh temp dir and the
        workload's input prep; then the warm-up, which checks every op's
        output.  The last session is the one the run measures."""
        reps = []
        for i in range(SETUP_REPS):
            self.stop_session()
            tempfile.tempdir = os.path.join(self.tmp_root, f"rep{i}")
            os.makedirs(tempfile.tempdir)
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                self.spark = self.start_session()
            t1 = time.perf_counter()
            with tracer.span("prep"):
                wl.prep(self.spark, tracer)
            t2 = time.perf_counter()
            reps.append({"session": t1 - t0, "prep": t2 - t1, "total": t2 - t0})
            log(f"setup rep {i}: session {t1 - t0:.3f}s prep {t2 - t1:.3f}s")
        t0 = time.perf_counter()
        self.warmup(wl, tracer)
        warm = time.perf_counter() - t0
        log(f"warm-up + checks: {warm:.3f}s")
        return {
            "reps": reps,
            "warmup_s": warm,
            "setup_s": median([r["total"] for r in reps]) + warm,
        }

    def warmup(self, wl, tracer) -> None:
        for op in wl.warmup_ops():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                res = wl.warmup_check(self.spark, op, tracer)
                log(f"warm-up {wl.op_label(op)}: {time.perf_counter() - t0:.3f}s")
            except Exception:
                log(f"warm-up {wl.op_label(op)} raised:\n{traceback.format_exc()}")
                self.failed += 1
                continue
            if not res.ok:
                log(f"warm-up {wl.op_label(op)} WRONG OUTPUT: {res.detail}")
                self.failed += 1
        warm_ops: list[dict] = []
        for i in range(wl.warm_passes):
            t0 = time.perf_counter()
            for op in wl.pass_ops(-2 - i):
                self.run_one(wl, tracer, op, warm_ops)
            log(f"warm-up pass {i}: {time.perf_counter() - t0:.3f}s")

    def run_one(self, wl, tracer, op, ops: list[dict], traced_extra: bool = False) -> float:
        """Run, time and check one op; record it in ``ops``.  Only the op
        itself is timed; its output check (and, when tracing, the
        convert read-only probe) runs after the clock stops."""
        self.attempted += 1
        op_id = len(ops)
        st0 = steal_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=op_id):
                handle = wl.run_op(self.spark, op, tracer)
            err = None
        except Exception:
            err = traceback.format_exc()
        dt = time.perf_counter() - t0
        steal = steal_s() - st0
        if err is not None:
            ok, detail = False, err
        else:
            res = wl.check(self.spark, op, handle)
            ok, detail = res.ok, res.detail
        if not ok:
            self.failed += 1
            log(f"op {op_id} {wl.op_label(op)} FAILED: {detail}")
        ops.append({"op": op_id, "label": wl.op_label(op), "s": dt, "ok": ok,
                    "rows": wl.op_rows(op), "steal_s": steal})
        if traced_extra:
            wl.traced_extra(self.spark, op, tracer)
        return dt

    def timed(self, wl, tracer, seconds: float, traced_extra: bool = False) -> dict:
        """Whole passes until at least ``seconds`` of op time is measured."""
        ops: list[dict] = []
        passes: list[float] = []
        measured = 0.0
        pass_idx = 0
        while True:
            pass_t = sum(self.run_one(wl, tracer, op, ops, traced_extra)
                         for op in wl.pass_ops(pass_idx))
            passes.append(pass_t)
            measured += pass_t
            pass_idx += 1
            if measured >= seconds:
                break
        labels = [wl.op_label(op) for op in wl.pass_ops(0)]
        return {"ops": ops, "passes": passes, "pass_labels": labels}


def op_medians(region: dict) -> dict[str, float]:
    """Median time of each op of the pass over the run's samples of it
    (all of them if none succeeded)."""
    out = {}
    for label in region["pass_labels"]:
        mine = [o for o in region["ops"] if o["label"] == label]
        good = [o for o in mine if o["ok"]] or mine
        out[label] = median([o["s"] for o in good])
    return out


def end_to_end(setup: dict, region: dict) -> tuple[dict, dict]:
    """The gated metrics, and the op-time distribution (``info``).

    Every gated metric is built from the per-op medians over the whole
    run, so a slow stretch of a few ops on a busy host moves the run's
    figures less than a mean would.  The median and tail op times go to
    ``info`` and the per-layer report, not the gate: query-mix's ops are
    different queries, so which one lands at a given rank changes from
    run to run."""
    meds = op_medians(region)
    pass_s = sum(meds.values())
    rows = {o["label"]: o["rows"] for o in region["ops"]}
    times = [o["s"] for o in region["ops"] if o["ok"]] or [o["s"] for o in region["ops"]]
    tail_v, tail_p = tail(times)
    return {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_s.geomean": (geomean(list(meds.values())), "s"),
        "rows_per_s": (sum(rows[k] for k in meds) / pass_s, "1/s"),
    }, {
        "samples": len(times),
        "p50_s": median(times),
        "tail_s": tail_v,
        "tail_pct": tail_p,
        "passes": len(region["passes"]),
        "op_medians_s": {k: round(v, 4) for k, v in meds.items()},
        "steal_share": sum(o["steal_s"] for o in region["ops"])
        / (sum(o["s"] for o in region["ops"]) * CORES),
    }


def run(args, work: str) -> dict:
    import layers
    import tracing
    from oracle import DATA_DIR

    bench = Bench(args, work)
    wl = WORKLOADS[args.workload](args.seed, DATA_DIR)
    null = tracing.NullTracer()
    setup_tracer = tracing.Tracer() if args.trace else null
    try:
        setup = bench.setup(wl, setup_tracer)
        anchor_pre = bench.anchor()
        region = bench.timed(wl, null, args.seconds)
        e2e, info = end_to_end(setup, region)
        info["anchor_s"] = [anchor_pre, bench.anchor()]
        log(f"untraced: {info['samples']} ops in {info['passes']} passes, "
            f"p50 {info['p50_s']:.3f}s, tail p{info['tail_pct']} {info['tail_s']:.3f}s, "
            f"anchor before/after {info['anchor_s']}, steal share {info['steal_share']:.4f}")
        detail = {"workload": args.workload, "seed": args.seed, **info,
                  "setup": setup, "ops": [(o["label"], round(o["s"], 4), round(o["steal_s"], 2)) for o in region["ops"]]}
        if not args.trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        else:
            tr = layers.traced_region(bench, wl, work)
            per_layer = layers.per_layer(wl, setup, setup_tracer, info, region, tr)
            tr["tracer"].dump(os.path.join(
                os.path.dirname(work), f"{args.workload}-seed{args.seed}-spans.jsonl"))
            layers.print_table(per_layer)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
            detail["traced_ops"] = [(o["label"], round(o["s"], 4)) for o in tr["region"]["ops"]]
    finally:
        bench.shutdown_jvm()
    print(json.dumps(detail, separators=(",", ":")))
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import osm_changesets_to_parquet_spark as engine

    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"the engine package must come from the checkout, not {engine.__file__}")
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
        }
    )
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
