"""Turn a driver result (`result.json`) into the benchmark's metrics.

End-to-end metrics (untraced run) share one name across workloads. The
op is a CDC window (ods_cdc) or an admission tick (llm_curation); every
other op is a maintenance op (ods_cdc: the backdate re-merge of the past
day, compaction, vacuum and the rollup republish; llm_curation: the
drain's retention pass), and a run holds as many of each:

  setup_s                    session start + fixture build + warm-up (wall)
  op_cpu_ms                  CPU time per regular op, median
  maint_op_cpu_ms            CPU time per maintenance op, median
  work_per_cpu_s             change rows / docs per CPU-second, all ops
  stored_bytes_per_live_row  on-disk bytes of the workload's stores / live rows

CPU time is the JVM's, without its JIT compiler threads (`Trace.op`).
Wall-clock latency and throughput (window_p50_ms, tick_maint_ms,
change_rows_per_s, ...), the JIT CPU and failed_ratio are printed in the
table above the JSON line but are not bounded metrics: on a shared VM
whose steal time swings, their run-to-run spread exceeds any usable
bound, while CPU time per op does not include stolen time (README,
"End-to-end metrics").

Per-layer metrics come from the traced run, where every timed op is
traced; a layer the workload does not call reads 0. `trace.op_cpu_ms` is
the regular ops' CPU median under tracing: its distance to `op_cpu_ms` of
untraced runs is the tracing overhead (`compare.py report` prints it);
`trace.op_p50_ms` is the traced wall median.
"""
import math
import statistics

OP_NAME = {"ods_cdc": "window", "llm_curation": "tick"}
WORK = {"ods_cdc": ("change_rows", "rows"), "llm_curation": ("docs", "docs")}

END_TO_END = [
    ("setup_s", "s"), ("op_cpu_ms", "ms"), ("maint_op_cpu_ms", "ms"),
    ("work_per_cpu_s", "1/cpu-s"), ("stored_bytes_per_live_row", "B"),
]

# (name, unit, better, how): how = ("span", name) median span duration per
# call; ("per_op", counter) mean per traced op; ("median_op", counter)
# median per traced op; ("ratio", num, den) summed counters; ("check", key)
# a figure the output checks compute; ("op_mean", field) mean of an op
# field; ("op", field) median of an op field over the regular ops
PER_LAYER = [
    ("sources.stage_ms", "ms", "lower", ("span", "sources.stage")),
    ("sources.staged_rows", "count", "higher", ("median_op", "sources.staged_rows")),
    ("sources.watermark_ms", "ms", "lower", ("span", "sources.watermark")),
    ("validate.check_ms", "ms", "lower", ("span", "validate.check")),
    ("pipeline.upsert_ms", "ms", "lower", ("span", "pipeline.upsert")),
    ("pipeline.apply_delta_ms", "ms", "lower", ("span", "pipeline.apply_delta")),
    ("pipeline.compact_ms", "ms", "lower", ("span", "pipeline.compact")),
    ("pipeline.vacuum_ms", "ms", "lower", ("span", "pipeline.vacuum")),
    ("pipeline.backdate_ms", "ms", "lower", ("span", "pipeline.backdate")),
    ("pipeline.bytes_written_per_change_row", "B/row", "lower",
     ("ratio", "pipeline.bytes_written", "sources.staged_rows")),
    ("pipeline.live_segments", "count", "lower", ("per_op", "pipeline.live_segments")),
    ("pipeline.reconcile_read_ms", "ms", "lower", ("span", "pipeline.reconcile_read")),
    ("pipeline.manifest_read_ms", "ms", "lower", ("span", "pipeline.manifest_read")),
    ("pipeline.pruned_read_ms", "ms", "lower", ("span", "pipeline.pruned_read")),
    ("pipeline.files_selected_ratio", "ratio", "lower",
     ("ratio", "pipeline.files_selected", "pipeline.files_total")),
    ("pipeline.scan_relations", "count", "lower", ("per_op", "pipeline.scan_relations")),
    ("meta.log_ms", "ms", "lower", ("span", "meta.log")),
    ("models.run_ms", "ms", "lower", ("span", "models.run")),
    ("marts.rollup_ms", "ms", "lower", ("span", "marts.rollup")),
    ("plans.rollup_build_ms", "ms", "lower", ("span", "plans.rollup_build")),
    ("plans.rewrite_ms", "ms", "lower", ("span", "plans.rewrite")),
    ("plans.rewrite_hit_ratio", "ratio", "higher",
     ("ratio", "plans.rewrite_hits", "plans.rewrite_eligible")),
    ("streaming.foreach_batch_ms", "ms", "lower", ("per_op", "streaming.foreach_batch_ms")),
    ("streaming.query_planning_ms", "ms", "lower", ("per_op", "streaming.query_planning_ms")),
    ("streaming.add_batch_ms", "ms", "lower", ("per_op", "streaming.add_batch_ms")),
    ("streaming.wal_commit_ms", "ms", "lower", ("per_op", "streaming.wal_commit_ms")),
    ("streaming.commit_offsets_ms", "ms", "lower", ("per_op", "streaming.commit_offsets_ms")),
    ("streaming.start_stop_ms", "ms", "lower", ("median_op", "streaming.start_stop_ms")),
    ("llm.retention_ms", "ms", "lower", ("ratio", "llm.retention_ms", "llm.retention_runs")),
    ("llm.admitted_ratio", "ratio", "lower", ("check", "admitted_ratio")),
    ("llm.false_admits", "count", "lower", ("check", "false_admits")),
    ("llm.index_segments", "count", "lower", ("per_op", "llm.index_segments")),
    ("catalyst.analysis_ms", "ms", "lower", ("per_op", "catalyst.analysis_ms")),
    ("catalyst.optimization_ms", "ms", "lower", ("per_op", "catalyst.optimization_ms")),
    ("catalyst.planning_ms", "ms", "lower", ("per_op", "catalyst.planning_ms")),
    ("codegen.compile_ms", "ms", "lower", ("per_op", "codegen.compile_ms")),
    ("codegen.classes_compiled", "count", "lower", ("per_op", "codegen.classes_compiled")),
    ("exec.jobs", "count", "lower", ("per_op", "exec.jobs")),
    ("exec.stages", "count", "lower", ("per_op", "exec.stages")),
    ("exec.tasks", "count", "lower", ("per_op", "exec.tasks")),
    ("exec.task_cpu_ms", "ms", "lower", ("per_op", "exec.task_cpu_ms")),
    ("exec.task_run_ms", "ms", "lower", ("per_op", "exec.task_run_ms")),
    ("exec.gc_ms", "ms", "lower", ("per_op", "exec.gc_ms")),
    ("exec.shuffle_read_bytes", "B", "lower", ("per_op", "exec.shuffle_read_bytes")),
    ("exec.shuffle_write_bytes", "B", "lower", ("per_op", "exec.shuffle_write_bytes")),
    ("exec.spill_bytes", "B", "lower", ("per_op", "exec.spill_bytes")),
    ("exec.input_bytes", "B", "lower", ("per_op", "exec.input_bytes")),
    ("exec.output_bytes", "B", "lower", ("per_op", "exec.output_bytes")),
    ("driver.nonjob_ms", "ms", "lower", ("median_op", "driver.nonjob_ms")),
    ("jvm.jit_cpu_ms", "ms", "lower", ("op_mean", "jit_cpu_ms")),
    ("jvm.jit_compile_ms", "ms", "lower", ("op_mean", "jit_ms")),
    ("trace.op_p50_ms", "ms", "lower", ("op", "ms")),
    ("trace.op_cpu_ms", "ms", "lower", ("op", "cpu_ms")),
]


def quantile(values, q):
    """Linear-interpolated quantile; +inf (a failed op) sorts last."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = q * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if v[hi] == math.inf:
        return math.inf
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def op_values(res, key, maint):
    """`key` of the regular (or maintenance) ops; a failed op is +inf."""
    return [o[key] if o["ok"] else math.inf for o in res["ops"] if o["maint"] == maint]


def end_to_end(workload, res, verdict):
    cpu, mcpu = op_values(res, "cpu_ms", False), op_values(res, "cpu_ms", True)
    lat, mlat = op_values(res, "ms", False), op_values(res, "ms", True)
    ok = [o for o in res["ops"] if o["ok"]]
    work = sum(o["counts"].get("rows", 0) for o in ok)
    cpu_s = sum(o["cpu_ms"] for o in ok) / 1000
    values = {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "op_cpu_ms": (quantile(cpu, 0.5), "ms"),
        "maint_op_cpu_ms": (quantile(mcpu, 0.5), "ms"),
        "work_per_cpu_s": (work / cpu_s if cpu_s else 0.0, "1/cpu-s"),
        "stored_bytes_per_live_row": (verdict["stored_bytes"] / verdict["live_rows"], "B"),
    }
    op, (thing, unit) = OP_NAME[workload], WORK[workload]
    n = len(res["ops"])
    failed = n - len(ok)
    wall = sum(o["ms"] for o in ok) / 1000
    jit = sum(o["jit_cpu_ms"] for o in ok)
    table = [
        f"workload {workload}: {n} {op}s ({len(mlat)} maintenance) in {res['loop_s']:.1f} s, "
        f"closed loop, 1 client",
        f"  setup_s                   {values['setup_s'][0]:12.3f} s   "
        f"(session {res['setup']['session_s']:.2f} + build {res['setup']['build_s']:.2f} "
        f"+ warm-up {res['setup']['warmup_s']:.2f})",
        f"  {op + '_p50_ms':<26}{quantile(lat, 0.5):12.1f} ms   (wall, regular ops; not bounded)",
        f"  {op + '_maint_ms':<26}{quantile(mlat, 0.5):12.1f} ms   (wall, maintenance ops; not bounded)",
        f"  {thing + '_per_s':<26}{work / wall if wall else 0:12.2f} {unit}/s (wall, not bounded)",
        f"  op_cpu_ms                 {values['op_cpu_ms'][0]:12.1f} ms",
        f"  maint_op_cpu_ms           {values['maint_op_cpu_ms'][0]:12.1f} ms",
        f"  work_per_cpu_s            {values['work_per_cpu_s'][0]:12.2f} {unit}/cpu-s",
        f"  stored_bytes_per_live_row {values['stored_bytes_per_live_row'][0]:12.2f} B",
        f"  jit_cpu_ms per op         {jit / max(1, len(ok)):12.1f} ms   (JIT compiler threads, "
        f"{jit / (jit + cpu_s * 1000) if cpu_s else 0:.0%} of the process CPU; excluded above)",
        f"  failed_ratio              {failed / max(1, n):12.4f}   ({failed} of {n})",
    ]
    return values, table


def per_layer(workload, res, verdict):
    traced = [o for o in res["ops"] if o["ok"]]
    spans = res.get("spans", [])
    traced_ids = {i for i, o in enumerate(res["ops"]) if o["ok"]}
    for o in traced:
        c = o["counts"]
        if "streaming.trigger_execution_ms" in c:
            c["streaming.start_stop_ms"] = o["ms"] - c["streaming.trigger_execution_ms"]
    by_name = {}
    for s in spans:
        if s["op"] in traced_ids:
            by_name.setdefault(s["name"], []).append(s)

    def total(counter):
        return sum(o["counts"].get(counter, 0.0) for o in traced)

    values = {}
    for name, unit, _better, how in PER_LAYER:
        kind = how[0]
        if kind == "span":
            ss = by_name.get(how[1], [])
            v = statistics.median(s["ms"] for s in ss) if ss else 0.0
        elif kind == "per_op":
            v = total(how[1]) / len(traced) if traced else 0.0
        elif kind == "median_op":
            xs = [o["counts"][how[1]] for o in traced if how[1] in o["counts"]]
            v = statistics.median(xs) if xs else 0.0
        elif kind == "ratio":
            den = total(how[2])
            v = total(how[1]) / den if den else 0.0
        elif kind == "check":
            v = float(verdict.get(how[1], 0.0))
        elif kind == "op_mean":
            v = sum(o[how[1]] for o in traced) / len(traced) if traced else 0.0
        else:
            v = quantile(op_values(res, how[1], False), 0.5)
        values[name] = (v, unit)

    # per-span-name table: calls, median duration, summed self time
    layers = {}
    for name, ss in sorted(by_name.items()):
        layers[name] = {"calls": len(ss), "median_ms": statistics.median(s["ms"] for s in ss),
                        "total_ms": sum(s["ms"] for s in ss),
                        "self_ms": sum(s["self_ms"] for s in ss)}
    table = [f"workload {workload} (traced): {len(traced)} ops; tracing overhead = trace.op_cpu_ms "
             f"here vs op_cpu_ms of untraced runs (compare.py report)",
             f"  {'span':<28}{'calls':>6}{'median ms':>12}{'total ms':>12}{'self ms':>12}"]
    for name, r in layers.items():
        table.append(f"  {name:<28}{r['calls']:>6}{r['median_ms']:>12.1f}{r['total_ms']:>12.1f}"
                     f"{r['self_ms']:>12.1f}")
    table.append(f"  {'metric':<40}{'value':>16}")
    for name, (v, unit) in values.items():
        table.append(f"  {name:<40}{v:>16.3f} {unit}")
    return values, table
