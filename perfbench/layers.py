"""Per-layer metrics of a traced run.

`per_layer` returns two things:
  * the full module breakdown (job-group sums and standalone module
    timings, named by module: `etl.job.tasks`, `ext.span_dedup_s`, ...),
    written to the run's report file;
  * the metrics every workload reports, printed on the result line: the
    same breakdown folded onto the workload's timed operations (`ops.*`,
    `phase.*`) plus the core and host layers.
"""
import statistics

SUMS = ("jobs", "tasks", "task_run_s", "shuffle_write_bytes", "spill_bytes")
UNITS = {"jobs": "count", "tasks": "count", "task_run_s": "s",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "busy_frac": "ratio",
         "input_bytes": "bytes", "output_bytes": "bytes"}

# job groups that hold each workload's timed operations
OP_GROUPS = {
    "etl_hourly": lambda g: g in ("etl.job", "saved"),
    "sql_suite": lambda g: g in ("queries", "ext"),
}

# ext kernel rows of sql_suite (perfbench.Bench.ExtRows) -> their row metric
EXT_ROWS = {"x36_line_dedup": "ext.line_dedup_row_s", "x37_span_dedup": "ext.span_dedup_row_s"}


def _fold(groups, names, cores, per=1):
    tot = {k: 0.0 for k in SUMS + ("input_bytes", "output_bytes", "wall_s")}
    for g in names:
        for k in tot:
            tot[k] += groups[g][k]
    out = {k: tot[k] / per for k in SUMS + ("input_bytes", "output_bytes")}
    out["busy_frac"] = tot["task_run_s"] / max(1e-9, tot["wall_s"] * cores)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(workload, doc, cores, leaked, check_host):
    groups = doc["trace"]["groups"]
    passes = doc["passes"]
    n_pass = max(1, len(passes))
    timed = [o for o in doc["ops"] if o["pass"] >= 1 and not o["error"]]

    modules = {}
    for g in sorted(groups):
        if g == "untagged":
            continue
        for k, v in _fold(groups, [g], cores).items():
            modules[f"{g}.{k}"] = v
    modules[f"{workload}.untagged.task_run_s"] = groups.get("untagged", {}).get(
        "task_run_s", 0.0)
    for name, s in doc["trace"].get("layers", {}).items():
        modules[f"{name}_s"] = s
    if workload == "etl_hourly":
        jobs = [o for o in timed if o["kind"] == "etl_job"]
        led = jobs[-1]["ledger"]
        modules["etl.job.output_files"] = doc["trace"]["output_files"]
        modules["etl.pruned_read_frac"] = (groups["etl.job"]["input_bytes"] / len(jobs)
                                           / doc["trace"]["requested_bytes"])
        modules["ledger.processed_frac"] = led["processed"] / led["listed"]
        phase_ops = [o for o in timed if o["kind"].startswith("saved:")]
        prefix = "saved"
    else:
        phase_ops = [o for o in timed if o["kind"] not in EXT_ROWS]
        prefix = "queries"
        for row, name in EXT_ROWS.items():
            modules[name] = _median([o["seconds"] for o in timed if o["kind"] == row])
    for ph in ("build_s", "plan_s", "exec_s"):
        modules[f"{prefix}.{ph}"] = _median([o[ph] for o in phase_ops if ph in o])
    if workload == "sql_suite":
        modules["queries.jobs_per_query"] = groups["queries"]["jobs"] / len(phase_ops)

    op_groups = [g for g in groups if OP_GROUPS[workload](g)]
    ops = _fold(groups, op_groups, cores, per=n_pass)
    traced = _median([p["seconds"] for p in passes])
    shown = {
        "core.session_start_s": (doc["setup"]["session_start_s"], "s"),
        "core.tables_load_s": (doc["setup"]["tables_load_s"], "s"),
    }
    for k, v in ops.items():
        shown[f"ops.{k}"] = (v, UNITS[k])
    shown["ops.jobs_per_op"] = (sum(groups[g]["jobs"] for g in op_groups) / max(1, len(timed)),
                                "count")
    shown["untagged.task_run_s"] = (
        groups.get("untagged", {}).get("task_run_s", 0.0) / n_pass, "s")
    for ph in ("build_s", "plan_s", "exec_s"):
        shown[f"phase.{ph}"] = (modules[f"{prefix}.{ph}"], "s")
    shown["host.steal_frac"] = (_median([p["steal_frac"] for p in passes]), "ratio")
    shown["host.load1"] = (_median([p["load1"] for p in passes]), "load")
    shown["host.check_steal_frac"] = (check_host["steal_frac"], "ratio")
    shown["host.tmp_dirs_leaked"] = (leaked, "count")
    shown["host.peak_rss_mb"] = (doc["peak_rss_mb"], "MB")
    shown["trace_overhead_frac"] = (traced / doc["untraced_pass_s"] - 1, "ratio")
    for k, (v, _) in shown.items():
        modules.setdefault(k, v)
    return modules, shown
