"""Metrics from a harness result file.

End-to-end metrics come from an untraced run. Every workload
reports the same names, each with the workload's own meaning (the table
in perfbench/README.md); the workload's design names are reported beside
them in the detail record.

Per-layer metrics come from a traced run: spans around the benchmark's
calls, the Spark jobs and stages attributed to them, and streaming
progress. The tracing overhead is the traced run's latency_s against an
untraced run's on the same seed (run.py).
"""
import datetime
import json

from stats import median, percentile, self_times, tail

# the gated end-to-end metrics; end_to_end() also computes op_p50_s,
# op_p90_s and storage_peak_mb for the detail record
END_TO_END = ["setup_s", "latency_s"]
UNITS = {"setup_s": "s", "latency_s": "s", "storage_peak_mb": "MB",
         "op_p50_s": "s", "op_p90_s": "s"}

PER_LAYER_UNITS = {
    "calls.plan_s": "s", "calls.spark_jobs": "count",
    "stages.input_bytes": "bytes", "stages.shuffle_write_bytes": "bytes",
    "stages.exec_cpu_s": "s", "stages.task_skew": "ratio",
    "spark.task_busy_share": "ratio", "spark.scheduler_delay_s": "s",
    "spark.gc_s": "s", "spark.stages": "count", "spark.tasks": "count"}


def _durs(ops, kind, **match):
    return [o["dur_s"] for o in ops if o["kind"] == kind and o["ok"] and
            all(o.get(k) == v for k, v in match.items())]


def unit_ops(res, ops):
    """The workload's unit op latencies (op_p50_s/op_p90_s) and its
    gated latency (latency_s)."""
    w = res["workload"]
    if w == "etl_refresh":
        # a refresh cycle is every job once: the sum of each job's median.
        # It is gated rather than the job p50, which is whichever of the
        # nine jobs sits in the middle and jumps when two of them swap
        by_job = {}
        for o in ops:
            if o["kind"] == "job" and o["ok"]:
                by_job.setdefault(o["job"], []).append(o["dur_s"])
        unit = [d for ds in by_job.values() for d in ds]
        cycle = sum(median(ds) for ds in by_job.values()) \
            if len(by_job) == len({o["job"] for o in res["ops"]
                                   if o["kind"] == "job"}) else None
        return unit, cycle
    if w == "stream_ingest":
        lag = _durs(ops, "doc")
        return lag, median(lag)
    raise ValueError(w)


def end_to_end(res, ops):
    """The end-to-end metrics over `ops`, plus their detail."""
    unit, latency = unit_ops(res, ops)
    rule_tail, pct, n = tail(unit)
    values = {
        # the median of the run's set-up repeats (Main.SetupRepeats)
        "setup_s": median(res["setup_s"]),
        "latency_s": latency,
        "storage_peak_mb": res["storage_peak_bytes"] / 2 ** 20,
        "op_p50_s": median(unit),
        "op_p90_s": percentile(unit, 90),
    }
    # the highest percentile with ten samples beyond it, when there is
    # one: p90 itself once a run has 100 samples
    detail = {"op_samples": n, "op_rule_tail_percentile": pct,
              "op_rule_tail_s": rule_tail,
              "setup_cold_s": res["setup_s"][0],
              "setup_repeats_s": res["setup_s"]}
    if res["workload"] == "stream_ingest":
        detail["read_p50_s"] = median(_durs(ops, "read"))
        detail["changes_p50_s"] = median(_durs(ops, "read_changes"))
    return values, detail


def design_names(res, values, detail, failed_frac):
    """The workload's metrics under the names the benchmark's design
    uses for them (perfbench/README.md)."""
    w = res["workload"]
    out = {"setup_s": values["setup_s"], "failed_frac": failed_frac,
           "storage_peak_mb": values["storage_peak_mb"]}
    if w == "etl_refresh":
        out.update(etl_cycle_s=values["latency_s"],
                   etl_job_p50_s=values["op_p50_s"],
                   etl_job_p90_s=values["op_p90_s"])
    elif w == "stream_ingest":
        out.update(ingest_lag_p50_s=values["op_p50_s"],
                   ingest_lag_p90_s=values["op_p90_s"],
                   read_p50_s=detail["read_p50_s"])
    out["samples"] = detail["op_samples"]
    return out


# ---------------------------------------------------------------- traces

def _attribution(trace):
    """Jobs and stages per top-level span."""
    spans = {s["id"]: s for s in trace["spans"]}

    def top(sid):
        while sid in spans and spans[sid]["parent"] in spans:
            sid = spans[sid]["parent"]
        return sid
    stages = {}
    for st in trace["stages"]:
        stages.setdefault(st["id"], []).append(st)
    jobs_of, stages_of = {}, {}
    for j in trace["jobs"]:
        t = top(j["span"])
        if t not in spans:
            continue
        jobs_of.setdefault(t, []).append(j)
        for sid in j["stages"]:
            stages_of.setdefault(t, []).extend(stages.get(sid, []))
    return spans, jobs_of, stages_of


def _stage_sum(stages, key):
    return sum(s[key] for s in stages)


def _skew(stages):
    """max over p50 task time in the worst stage with 2+ tasks."""
    r = [s["task_ms_max"] / s["task_ms_p50"] for s in stages
         if s["tasks"] >= 2 and s["task_ms_p50"] > 0]
    return max(r) if r else 1.0


def per_layer(res, ops):
    """The per-layer metrics of a traced run, plus the workload's
    design-named per-layer metrics and the self time per span name."""
    trace = res["trace"]
    spans, jobs_of, stages_of = _attribution(trace)
    tops = [s for s in spans.values() if s["parent"] not in spans]
    plan = []
    for s in tops:
        js = jobs_of.get(s["id"])
        if js:
            plan.append(max(0.0, (min(j["start_ms"] for j in js) -
                                  _epoch_ms(res, s["start_ns"])) / 1e3))
    ncalls = max(1, len(tops))
    all_stages = [st for sts in stages_of.values() for st in sts]
    task_s = sum(s["task_ms_sum"] for s in trace["stages"]) / 1e3
    layer = {
        "calls.plan_s": median(plan),
        "calls.spark_jobs": sum(len(v) for v in jobs_of.values()) / ncalls,
        "stages.input_bytes": _stage_sum(all_stages, "input_bytes") / ncalls,
        "stages.shuffle_write_bytes":
            _stage_sum(all_stages, "shuffle_write_bytes") / ncalls,
        "stages.exec_cpu_s": _stage_sum(all_stages, "cpu_ns") / 1e9 / ncalls,
        "stages.task_skew": _skew(all_stages),
        "spark.task_busy_share": task_s / (res["window_s"] * res["cores"]),
        "spark.scheduler_delay_s":
            sum(s["sched_delay_ms"] for s in trace["stages"]) / 1e3,
        "spark.gc_s": res["gc_s"],
        "spark.stages": len(trace["stages"]),
        "spark.tasks": sum(s["tasks"] for s in trace["stages"]),
    }
    selfs = self_times(list(spans.values()))
    by_name = {}
    for sid, ns in selfs.items():
        by_name[spans[sid]["name"]] = by_name.get(spans[sid]["name"], 0) + ns
    detail = {
        "self_s_by_span": {k: v / 1e9 for k, v in sorted(by_name.items())},
        "layer_self_s": _layer_self(by_name),
        "spill_bytes": _stage_sum(all_stages, "spill_bytes"),
        "checkpoint_jobs": sum(1 for j in trace["jobs"]
                               if j["call_site"].startswith("localCheckpoint")),
    }
    detail.update(_design_layers(res, ops, spans, jobs_of, stages_of, plan))
    return layer, detail


def _layer_self(by_name):
    out = {}
    for name, ns in by_name.items():
        layer = name.split(".")[0]
        out[layer] = out.get(layer, 0) + ns / 1e9
    return out


def _epoch_ms(res, ns):
    """A span's nanoTime stamp on the listener's epoch-millisecond clock."""
    return res["t0_epoch_ms"] + (ns - res["t0_ns"]) / 1e6


def _design_layers(res, ops, spans, jobs_of, stages_of, plan):
    """The per-layer metrics named in the benchmark's design, for the
    workload they apply to."""
    w = res["workload"]
    trace = res["trace"]
    tops = [s for s in spans.values() if s["parent"] not in spans]
    n = max(1, len(tops))

    def jobs_where(pred):
        return [j for js in jobs_of.values() for j in js if pred(j)]
    out = {}
    if w == "etl_refresh":
        # the CSV sink is each call's last Spark job: from its start to
        # the call's end (the write's final stage and the rename)
        csv = [(s["end_ns"] - s["start_ns"]) / 1e9 -
               (max(j["start_ms"] for j in jobs_of[s["id"]]) -
                _epoch_ms(res, s["start_ns"])) / 1e3
               for s in tops if s["id"] in jobs_of]
        out.update({
            "jobs.plan_s": median(plan),
            "jobs.spark_jobs": sum(len(v) for v in jobs_of.values()) / n,
            "jobs.csv_write_s": median(csv),
            "sources.read_bytes": sum(_stage_sum(v, "input_bytes")
                                      for v in stages_of.values()) / n,
        })
    elif w == "stream_ingest":
        prog = [json.loads(p) if isinstance(p, str) else p
                for p in trace["streaming"]]
        prog = [p for p in prog if p.get("numInputRows", 0) > 0]
        batch_ms = [p["durationMs"].get("triggerExecution", 0) for p in prog]
        waits = []


        def ts(p):
            return datetime.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
        for a, b in zip(prog, prog[1:]):
            # idle time between a batch's end and the next batch's start
            waits.append(max(0.0, ts(b) - ts(a) -
                             a["durationMs"].get("triggerExecution", 0) / 1e3))
        chk = res["check"]
        reads = [o["files_read"] for o in ops
                 if o["kind"] == "read" and o["files_read"] >= 0]
        out.update({
            "streaming.batch_s": median([m / 1e3 for m in batch_ms]),
            "streaming.trigger_wait_s": median(waits),
            "streaming.rows_per_batch": median(
                [p["numInputRows"] for p in prog]),
            "streaming.admit_ratio": chk["committed"] / chk["arrived"]
            if chk.get("arrived") else None,
            "plans.snapshot_commit_s": median(_durs(ops, "commit")),
            "plans.snapshot_compact_s": median(_durs(ops, "compact")),
            "plans.snapshot_write_amp": chk["table_bytes"] / chk["user_bytes"]
            if chk.get("user_bytes") else None,
            "plans.snapshot_files_read_per_read": median(reads),
        })
    return out
