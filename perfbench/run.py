#!/usr/bin/env python3
"""The repository benchmark: the reference ETL job and a sample of the SQL
suite, each driven through the engine's public entry points on
local[nproc] from one thread.

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds perfbench.Main (sbt,
offline) into perfbench/target; later runs reuse it while the sources are unchanged.
Everything a run writes goes under .perfbench/ and is removed when the run
ends, apart from the build stamp, the oracle cache and last-run reports.
The last line of standard output is the result JSON; see README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import fixture  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# the sf0.1 test set (TESTDATA.md) and the Spark jars the engine builds against
TESTDATA = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
DEADLINE_S = 170  # the whole run, build excluded

# workload -> settings of its JVM run: `warmup` untimed passes, then at
# least `minPasses` timed ones
WORKLOADS = {
    # 2 x 250 per-building files, as in the reference's AK job, with
    # one day of 15-minute rows each (the job is bound by file count)
    "etl_hourly": {"buildings": 250, "days": 1, "warmup": 2, "minPasses": 1},
    # the SQL row sample, etl_slice and two ext kernel rows
    # (perfbench.Bench); the seed shuffles each pass
    "sql_suite": {"sf": TESTDATA, "warmup": 3, "minPasses": 3},
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_group(cmd, timeout, **kw):
    """Run `cmd` as the leader of its own process group and wait for it;
    the whole group is killed on timeout or any other way out. Returns the
    exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine plus perfbench.Main; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "build", f"classpath-{source_stamp()}.txt")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building perfbench.Main (sbt compile)")
    shutil.rmtree(os.path.dirname(stamp_file), ignore_errors=True)
    os.makedirs(os.path.dirname(stamp_file))
    build_log = os.path.join(os.path.dirname(stamp_file), "sbt.log")
    with open(build_log, "w") as logf:
        code = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], 840, cwd=HERE, env=env,
                         stdout=logf, stderr=subprocess.STDOUT)
    with open(build_log) as f:
        lines = f.read().strip().splitlines()
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ------------------------------------------------------------------- host

def cpu_sample():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return (vals[7] if len(vals) > 7 else 0), sum(vals), load1


def host_between(a, b):
    return {"steal_frac": (b[0] - a[0]) / max(1, b[1] - a[1]), "load1": b[2]}


def count_graft_dirs(tmp):
    return len(glob.glob(os.path.join(tmp, "graft_*")))


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Latency at the highest percentile with >= 10 executions beyond it,
    and that percentile; None while that percentile is below the median."""
    s = sorted(xs)
    k = len(s) - 11
    if k < len(s) / 2:
        return None, None
    return s[k], (k + 1) / len(s)


# -------------------------------------------------------------------- run

def run_jvm(cp, workload, args, run_dir, extra, deadline):
    cores = os.cpu_count() or 1
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "measurements.json")
    for d in (tmp, os.path.join(run_dir, "work"), os.path.join(run_dir, "check")):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the engine's own JVM settings (build.sbt): default tiered JIT, same heap
    cmd += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", cp, "perfbench.Main",
            f"workload={workload}", f"seed={args.seed}", f"seconds={args.seconds}",
            f"trace={args.trace}", f"cores={cores}", f"out={out}",
            f"work={os.path.join(run_dir, 'work')}", f"check={os.path.join(run_dir, 'check')}"]
    cmd += [f"{k}={v}" for k, v in extra.items()]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        code = run_group(cmd, max(5, deadline - time.monotonic()), cwd=run_dir,
                         stdout=logf, stderr=subprocess.STDOUT)
    if code is None:
        return None, "benchmark JVM timed out"
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None, f"benchmark JVM exited with {code}"
    with open(out) as f:
        return json.load(f), None


def etl_checks(doc, planted, tmp):
    fails = []
    want = {k: planted[k] for k in ("listed", "processed", "bypassed",
                                    "input_rows", "output_rows")}
    jobs = [o for o in doc["ops"] if o["kind"] == "etl_job" and not o["error"]]
    for o in jobs:
        led = o["ledger"]
        got = {k: led[k] for k in want}
        if got != want:
            fails.append(f"pass {o['pass']} ledger {got} vs planted {want}")
        if led["discrepancies"] != [planted["corrupt_file"]]:
            fails.append(f"pass {o['pass']} discrepancies {led['discrepancies']}")
        drift = [(d["file"].split(":", 1)[-1], d["missing"], d["extra"])
                 for d in led["schema_drift"]]
        if drift != [(planted["drift_file"], [fixture.DRIFT_MISSING], [fixture.DRIFT_EXTRA])]:
            fails.append(f"pass {o['pass']} schema drift {drift}")
    answers = {}
    for o in doc["ops"]:
        if o["kind"].startswith("saved:") and not o["error"]:
            answers.setdefault(o["kind"][6:], []).append(o["answer"])
    # the first warm-up pass (-1) keeps its output for this check
    checked = [o for o in jobs if o["pass"] == -1]
    if not checked:
        return fails + ["no job output to check"]
    fails += check.etl_output(planted, checked[0]["data_out"], doc["saved_sql"], answers, tmp)
    return fails


def split_ops(workload, doc):
    """The run's timed operations, split into the workload's heavy and
    light kinds (see README.md): two lists of (kind, seconds)."""
    timed = [o for o in doc["ops"] if o["pass"] >= 1 and not o["error"]]
    heavy = {"etl_job"} if workload == "etl_hourly" else set(layers.EXT_ROWS)
    return ([(o["kind"], o["seconds"]) for o in timed if o["kind"] in heavy],
            [(o["kind"], o["seconds"]) for o in timed if o["kind"] not in heavy])


def mean_of_kinds(ops):
    """Mean over operation kinds of each kind's median time. The kinds'
    latencies differ severalfold, so a median over all operations would
    jump from one kind to another between runs."""
    by_kind = {}
    for kind, s in ops:
        by_kind.setdefault(kind, []).append(s)
    return statistics.fmean(median(xs) for xs in by_kind.values()) if by_kind else float("nan")


def metrics(workload, doc):
    heavy, light = split_ops(workload, doc)
    s = doc["setup"]
    return {
        "setup_s": doc["jvm_to_main_s"] + s["session_start_s"] + s["tables_load_s"]
        + s["warmup_s"],
        "pass_s": median([p["seconds"] for p in doc["passes"]]),
        "heavy_op_s": mean_of_kinds(heavy),
        "light_op_s": mean_of_kinds(light),
    }


def main():
    # SIGTERM unwinds like Ctrl-C, so the benchmark JVM is stopped on the way out
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    cfg = dict(WORKLOADS[args.workload])
    if "sf" in cfg and not os.path.isfile(os.path.join(cfg["sf"], "documents.parquet")):
        fail(f"test data not found at {cfg['sf']}")
    cp = build()
    started = time.monotonic()  # the build has its own, longer allowance
    deadline = started + DEADLINE_S

    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        planted = None
        if args.workload == "etl_hourly":
            fx = os.path.join(run_dir, "fixture")
            planted = fixture.make(fx, args.seed, cfg.pop("buildings"), cfg.pop("days"))
            cfg["fixture"] = fx
            os.sync()  # write the fixture back now, not during the timed passes
        wall = {"inputs_s": time.monotonic() - started}
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        doc, err = run_jvm(cp, args.workload, args, run_dir, cfg, deadline)
        if doc is None:
            fail(err, 3)
        # the temp root starts empty, so whatever is left in it leaked
        leaked = count_graft_dirs(tmp)
        wall["jvm_s"] = time.monotonic() - started - wall["inputs_s"]

        errors = [f"{o['kind']} (pass {o['pass']}): {o['error']}" for o in doc["ops"]
                  if o["error"]]
        h0 = cpu_sample()
        if args.workload == "etl_hourly":
            check_fails = etl_checks(doc, planted, tmp)
        else:
            check_fails = check.oracle_rows(cfg["sf"], os.path.join(run_dir, "check"),
                                            doc["oracle_sql"], os.path.join(STATE, "oracle"),
                                            tmp)
        check_host = host_between(h0, cpu_sample())
        wall["check_s"] = time.monotonic() - started - wall["inputs_s"] - wall["jvm_s"]
        for e in errors + check_fails:
            log(f"FAILED {e}")
        attempted = len(doc["ops"])
        failed = len(errors) + len(check_fails)
        e2e = metrics(args.workload, doc)
        e2e["ok_frac"] = max(0.0, (attempted - failed) / attempted)
        light = [sec for _, sec in split_ops(args.workload, doc)[1]]
        light_tail, pct = tail(light)
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "end_to_end": e2e, "passes": doc["passes"], "setup": doc["setup"],
                  "check_host": check_host, "tmp_dirs_leaked": leaked,
                  "failures": errors + check_fails, "wall": wall,
                  "light_op_tail": {"seconds": light_tail, "percentile": pct,
                                    "samples": len(light)},
                  "warmup_passes": doc["warmup_passes"],
                  "ops": [{k: o[k] for k in ("kind", "pass", "seconds")} for o in doc["ops"]]}
        if args.trace:
            report["layers"], shown = layers.per_layer(args.workload, doc, os.cpu_count() or 1,
                                                       leaked, check_host)
            for k, v in sorted(report["layers"].items()):
                log(f"{k:<44} {v:.6g}")
        os.makedirs(os.path.join(STATE, "last"), exist_ok=True)
        with open(os.path.join(STATE, "last", f"{args.workload}-trace{args.trace}.json"),
                  "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        units = {"setup_s": "s", "pass_s": "s", "heavy_op_s": "s", "light_op_s": "s",
                 "ok_frac": "ratio"}
        if args.trace:
            shown_metrics = {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}
        else:
            shown_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": shown_metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
