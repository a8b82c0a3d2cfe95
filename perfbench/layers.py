"""The traced run and the per-layer metrics it yields.

Per-op numbers are means over the traced region's ops: ``operators.*``
over all of them, ``queries.*`` over the batch queries and
``streaming.*`` over the streaming jobs.  A layer the workload never
calls reads 0 (``queries.*`` and ``streaming.*`` on ``convert``,
``sources.*`` on ``query-mix``).  Which end-to-end metric each layer
metric should move is listed in ``README.md``.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from datetime import datetime

import tracing
from stats import median, tail
from workloads import BATCH_QUERIES, CORES, STREAM_JOBS, warm_python_workers

# An op's build and exec spans must cover its wall time to within this.
SPAN_SUM_TOLERANCE_S = 0.001


def traced_region(bench, wl, work: str) -> dict:
    """Repeat the timed passes in a fresh SparkContext with the event log
    and a streaming progress listener on, then run the workload's
    traced-only ops (query-mix's streaming jobs) once each."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    tempfile.tempdir = os.path.join(bench.tmp_root, "traced")
    os.makedirs(tempfile.tempdir)
    bench.stop_session()
    bench.spark = bench.start_session(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        }
    )
    progress: list[dict] = []
    bench.spark.streams.addListener(tracing.make_progress_listener(progress))
    # A new context starts new Python workers; the JVM and its compiled
    # code are the ones the untraced passes ran in.
    warm_python_workers(bench.spark)
    tracer = tracing.Tracer()
    wl.traced_prep(bench.spark, tracer)
    region = bench.timed(wl, tracer, bench.args.seconds, traced_extra=True)
    for op in wl.traced_ops():
        bench.run_one(wl, tracer, op, region["ops"], traced_extra=True)
    rss = bench.jvm_peak_rss_mb()
    _settle(progress)
    bench.stop_session()  # closes the event log
    return {
        "tracer": tracer,
        "region": region,
        "log": tracing.parse_event_log(log_dir),
        "progress": progress,
        "rss_mb": rss,
    }


def _settle(progress: list, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
    """Progress events arrive asynchronously; wait until they stop."""
    deadline = time.time() + limit_s
    n = -1
    while len(progress) != n and time.time() < deadline:
        n = len(progress)
        time.sleep(quiet_s)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def overhead(untraced: dict, traced: dict) -> float:
    """Traced ÷ untraced op time, summed over the ops both regions run:
    every op but the streaming jobs, which only the traced run runs."""

    def total(region):
        return sum(o["s"] for o in region["ops"] if o["label"] not in STREAM_JOBS)

    return total(traced) / total(untraced)


def per_layer(wl, setup: dict, setup_tracer, info: dict, untraced: dict, tr: dict) -> dict:
    tracer: tracing.Tracer = tr["tracer"]
    elog: tracing.EventLog = tr["log"]
    op_spans = [s for s in tracer.named("op") if tr["region"]["ops"][s.op]["ok"]]
    n_ops = len(op_spans)
    kids = {s.op: [c for c in tracer.spans if c.parent == s.sid] for s in op_spans}

    def child_durs(name: str) -> list[float]:
        return [sum(c.dur for c in kids[s.op] if c.name == name) for s in op_spans]

    def setup_median(name: str) -> float:
        spans = setup_tracer.named(name)
        return median([s.dur for s in spans]) if spans else 0.0

    # --- event-log attribution: jobs and tasks started inside an op span
    per_op = []
    for s in op_spans:
        jobs = tracing.jobs_in(elog, s.start, s.end)
        tasks = tracing.tasks_in(elog, s.start, s.end)
        build = [c for c in kids[s.op] if c.name == "queries.build"]
        gap = 0.0
        for b in build:
            covered = tracing.union_length(
                tracing.clip([(j.start, j.end) for j in jobs], b.start, b.end)
            )
            gap += b.dur - covered
        per_op.append(
            {
                "jobs": len(jobs),
                "stages": len({t.stage_id for t in tasks}),
                "tasks": len(tasks),
                "cpu_s": sum(t.cpu_s for t in tasks),
                "run_s": sum(t.run_s for t in tasks),
                "gc_s": sum(t.gc_s for t in tasks),
                "shuffle": sum(t.shuffle_bytes for t in tasks),
                "spill": sum(t.spill_bytes for t in tasks),
                "python_s": sum(t.python_s for t in tasks),
                "gap_s": gap,
            }
        )
    wall = sum(s.dur for s in op_spans)

    # --- span arithmetic: an op's self time is what its build + exec (or
    # convert) spans leave uncovered
    span_gap = max((tracer.self_time(s) for s in op_spans), default=0.0)

    # --- sources (convert only)
    is_convert = wl.name == "convert"
    convert_s = child_durs("sources.convert")
    read_s = [s.dur for s in tracer.named("sources.read_noop")]
    src = {"read": 0.0, "write": 0.0, "tasks": 0.0, "files": 0.0, "bpr": 0.0}
    if is_convert and n_ops:
        src["read"] = _mean(read_s)
        src["write"] = _mean(convert_s) - src["read"]
        src["tasks"] = _mean(p["tasks"] for p in per_op)
        src["files"] = wl.out_files / max(1, wl.out_count)
        src["bpr"] = wl.out_bytes / max(1, wl.out_rows)

    # --- queries: the batch queries of query-mix (a streaming job's
    # build is the whole stream run; streaming.* covers those)
    labels = {s.op: tr["region"]["ops"][s.op]["label"] for s in op_spans}
    batch = [i for i, s in enumerate(op_spans) if labels[s.op] in BATCH_QUERIES]
    build_s = child_durs("queries.build")
    exec_s = child_durs("exec.noop")
    q = {"build": 0.0, "exec": 0.0, "jobs": 0.0, "gap": 0.0, "share": 0.0}
    if batch:
        q = {
            "build": _mean(build_s[i] for i in batch),
            "exec": _mean(exec_s[i] for i in batch),
            "jobs": _mean(per_op[i]["jobs"] for i in batch),
            "gap": _mean(per_op[i]["gap_s"] for i in batch),
            "share": sum(build_s[i] for i in batch) / sum(op_spans[i].dur for i in batch),
        }

    # --- streaming progress, attributed to ops by batch trigger time
    st = {"p50": 0.0, "tail": 0.0, "add": 0.0, "commit": 0.0, "rows": 0.0,
          "bytes": 0.0, "batches": 0.0}
    batches_by_op: dict[int, list[dict]] = {s.op: [] for s in op_spans}
    for p in tr["progress"]:
        t = _epoch(p["ts"])
        for s in op_spans:
            if s.start <= t <= s.end:
                batches_by_op[s.op].append(p)
                break
    streams = [bs for bs in batches_by_op.values() if bs]  # streaming ops only
    stream_ops = [i for i, s in enumerate(op_spans) if labels[s.op] in STREAM_JOBS]
    if streams:
        durs = [b["duration_ms"].get("triggerExecution", 0) / 1000.0 for bs in streams for b in bs]
        st["p50"] = median(durs)
        st["tail"] = tail(durs)[0]
        st["add"] = _mean(
            sum(b["duration_ms"].get("addBatch", 0) for b in bs) / 1000.0 for bs in streams
        )
        st["commit"] = _mean(
            sum(
                sum(x["commit_ms"] for x in b["state"])
                + b["duration_ms"].get("commitOffsets", 0)
                + b["duration_ms"].get("walCommit", 0)
                for b in bs
            ) / 1000.0
            for bs in streams
        )
        st["rows"] = _mean(sum(x["rows"] for x in bs[-1]["state"]) for bs in streams)
        st["bytes"] = _mean(sum(x["bytes"] for x in bs[-1]["state"]) for bs in streams)
        st["batches"] = _mean(len(bs) for bs in streams)

    return {
        "session.start_s": (setup_median("session.get_spark"), "s"),
        "session.jvm_peak_rss_mb": (tr["rss_mb"], "MB"),
        "catalog.load_s": (setup_median("catalog.load_all"), "s"),
        "sources.read_s": (src["read"], "s"),
        "sources.write_s": (src["write"], "s"),
        "sources.tasks_per_op": (src["tasks"], "count"),
        "sources.files_per_op": (src["files"], "count"),
        "sources.parquet_bytes_per_row": (src["bpr"], "B"),
        "queries.build_s": (q["build"], "s"),
        "queries.exec_s": (q["exec"], "s"),
        "queries.jobs_per_op": (q["jobs"], "count"),
        "queries.driver_gap_s": (q["gap"], "s"),
        "queries.build_share": (q["share"], "ratio"),
        "operators.stages_per_op": (_mean(p["stages"] for p in per_op), "count"),
        "operators.tasks_per_op": (_mean(p["tasks"] for p in per_op), "count"),
        "operators.executor_cpu_s": (_mean(p["cpu_s"] for p in per_op), "s"),
        "operators.gc_s": (_mean(p["gc_s"] for p in per_op), "s"),
        "operators.shuffle_bytes": (_mean(p["shuffle"] for p in per_op), "B"),
        "operators.spill_bytes": (_mean(p["spill"] for p in per_op), "B"),
        "operators.core_busy": (sum(p["run_s"] for p in per_op) / (wall * CORES) if wall else 0.0, "ratio"),
        "operators.python_worker_s": (_mean(p["python_s"] for p in per_op), "s"),
        "streaming.op_s": (_mean(op_spans[i].dur for i in stream_ops), "s"),
        "streaming.prep_s": (_mean(s.dur for s in tracer.named("streaming.prepare_replay_dir")), "s"),
        "streaming.batch_s.p50": (st["p50"], "s"),
        "streaming.batch_s.tail": (st["tail"], "s"),
        "streaming.add_batch_s": (st["add"], "s"),
        "streaming.commit_s": (st["commit"], "s"),
        "streaming.state_rows": (st["rows"], "count"),
        "streaming.state_bytes": (st["bytes"], "B"),
        "streaming.batches_per_op": (st["batches"], "count"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "op_s.p50": (info["p50_s"], "s"),
        "op_s.tail": (info["tail_s"], "s"),
        "op.samples": (info["samples"], "count"),
        "op.tail_pct": (info["tail_pct"], "%"),
        "host.anchor_s": (min(info["anchor_s"]), "s"),
        "host.steal_share": (info["steal_share"], "ratio"),
        "trace.overhead": (overhead(untraced, tr["region"]), "ratio"),
        "trace.span_gap_s": (span_gap, "s"),
    }


def print_table(per_layer: dict) -> None:
    for k, (v, u) in per_layer.items():
        print(f"  {k:34s} {v:14.4f} {u}", file=sys.stderr)
    gap = per_layer["trace.span_gap_s"][0]
    verdict = "within" if gap <= SPAN_SUM_TOLERANCE_S else "OUTSIDE"
    print(
        f"  op wall - (build + exec) spans: max {gap * 1000:.3f} ms, {verdict} "
        f"the {SPAN_SUM_TOLERANCE_S * 1000:.0f} ms tolerance",
        file=sys.stderr,
        flush=True,
    )
