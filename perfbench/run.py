#!/usr/bin/env python3
"""The repository's benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload curate|maintain --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The command

1. builds the benchmark's JVM side (`perfbench/harness`, an sbt project of
   its own that depends on the repository's build, so the engine compiles
   from the checkout's sources), once per source state;
2. generates the workload's input snapshots from the seed (`gen.py`);
3. runs the workload closed loop with one client in a fresh JVM
   (`graft.perfbench.Main`), measuring for `--seconds`;
4. checks every output outside the timed region: each dumped query result
   against its DuckDB oracle SQL (the comparison rules of
   `scripts/check_oracle.py`), and the JVM's own checks (read-after-write
   probes, maintained index == from-scratch index);
5. prints each metric by name with unit and sample count, and as its last
   line one JSON object: the end-to-end metrics (`--trace 0`) or the
   per-layer metrics (`--trace 1`) named in BENCHMARK.json.

The full end-to-end record goes to `perfbench/out/<workload>.json` (and each
untraced `op_p50_s`, with the build stamp, to `<workload>.untraced.jsonl`;
each calibration reading to `calibration.jsonl`); a traced run writes its
per-layer report to `perfbench/out/<workload>.trace.json`.
A failed operation or check makes the command exit 1 (after printing the
result); a missing engine source tree, a failed build or a failed JVM run
exits 2 without a result.

Environment: PERFBENCH_WRONG_EXPECTED=1 corrupts every expected result (the
oracle rows here; the probe expectations and from-scratch index references in
the JVM), to show that a wrong answer fails the run.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_LIMIT_S = 170
# A calibration reading slower by more than this share than the other
# reading of the run, or off by more than it, either way, from the median of
# the checkout's earlier readings, flags the measurement window as noisy: a
# host running faster than usual moves the timings as much as one loaded.
NOISE_BAND = 0.10
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
WORKLOADS = ("curate", "maintain")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HARNESS, "src/**/*"), recursive=True) +
                   [os.path.join(d, f) for d in (ROOT, HARNESS)
                    for f in ("build.sbt", "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the JVM classpath and the
    source stamp."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "build.classpath")
    stamp = source_stamp()
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the build's scratch files inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


# ---- inputs --------------------------------------------------------------

def make_inputs(workload, seed, data):
    """Snapshots derived from the run seed: the set-up snapshot uses seed
    1000*seed; curate's measured iteration runs on a fresh one, seed
    1000*seed + 100 (maintain draws its batches from the set-up snapshot)."""
    t0 = time.time()
    gen.generate(os.path.join(data, "setup"), 1000 * seed)
    if workload == "curate":
        gen.generate(os.path.join(data, "iter0"), 1000 * seed + 100)
    return time.time() - t0


# ---- the JVM run ---------------------------------------------------------

def run_jvm(cp, a, data, out, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--data", data, "--out", out,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    log = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"JVM run exceeded its time limit (log: {log.name})")
    finally:
        log.close()
    rec_file = os.path.join(out, "run.json")
    if rc != 0 or not os.path.exists(rec_file):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM run failed with code {rc}")
    with open(rec_file) as f:
        return json.load(f)


# ---- correctness ---------------------------------------------------------

def load_check_oracle():
    path = os.path.join(ROOT, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(co, con, files, sql, wrong):
    """check_oracle.py's rules: hash-safe types on both sides, same column
    names, equal sorted row multisets with exact values."""
    sres = con.sql(f"SELECT * FROM read_parquet({files!r})")
    scols = [d[0] for d in sres.description]
    stypes = dict(zip(scols, [co.hash_class(t) for t in sres.types]))
    srows = co.rows_of(sres.fetchall(), scols)
    dres = con.sql(sql)
    dcols = [d[0] for d in dres.description]
    dtypes = dict(zip(dcols, [co.hash_class(t) for t in dres.types]))
    if any(t == "hugeint" for t in dtypes.values()):
        return "oracle type hazard (HUGEINT)"
    if stypes != dtypes:
        return f"type drift {stypes} vs {dtypes}"
    drows = co.rows_of(dres.fetchall(), dcols)
    if wrong:
        drows = drows + [tuple(None for _ in dcols)]
    if srows != drows:
        return f"value mismatch: engine {len(srows)} rows, oracle {len(drows)} rows"
    return None


def oracle_checks(rec):
    """One (name, error-or-None) per dumped result."""
    co = load_check_oracle()
    wrong = os.environ.get("PERFBENCH_WRONG_EXPECTED") == "1"
    cons, out = {}, []
    for d in rec["dumps"]:
        snap, q = d["snapshot"], d["query"]
        if snap not in cons:
            cons[snap] = co.connect(snap)
        con = cons[snap]
        try:
            if q not in rec["oracle_sql"]:
                err = "no oracle SQL"
            else:
                files = glob.glob(os.path.join(d["dir"], "*.parquet"))
                err = (compare(co, con, files, rec["oracle_sql"][q], wrong)
                       if files else "no engine output")
        except Exception as e:  # a failing oracle is a failed check
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        out.append((f"oracle:{q}:{os.path.basename(snap)}", err))
    return out


# ---- metrics -------------------------------------------------------------

def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None, None
    return xs[len(xs) - 11], round(100.0 * (len(xs) - 10) / len(xs), 1)


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


# The workload-specific names the generic end-to-end metrics stand for.
NAMES = {
    "curate": {"op_p50_s": "curate.run_p50_s", "work_per_s": "curate.docs_per_s",
               "probe_p50_s": "curate.readback_p50_s", "tail": "curate.run_tail_s"},
    "maintain": {"op_p50_s": "maintain.fresh_p50_s", "work_per_s": "maintain.docs_per_s",
                 "probe_p50_s": "maintain.probe_p50_s", "tail": "maintain.fresh_tail_s"},
}


def end_to_end(rec):
    """The end-to-end metrics under their BENCHMARK.json names, and the same
    under the workload's own names plus the ungated ones."""
    ok = [o for o in rec["ops"] if o["ok"]]
    op_s = [o["s"] for o in ok]
    probes = rec["probes_s"]
    m = {
        "setup_s": metric(rec["session_s"] + rec["setup_pass_s"], "s", 1),
        "op_p50_s": metric(statistics.median(op_s) if op_s else None, "s", len(op_s)),
        "work_per_s": metric(sum(o["units"] for o in ok) / sum(op_s) if op_s else None,
                             "1/s", len(op_s)),
        "probe_p50_s": metric(statistics.median(probes) if probes else None, "s",
                              len(probes)),
    }
    names = NAMES[rec["workload"]]
    named = {names[k]: v for k, v in m.items() if k in names}
    t, pct = tail(op_s)
    named[names["tail"]] = dict(metric(t, "s", len(op_s)), percentile=pct)
    named["session_s"] = metric(rec["session_s"], "s", 1)
    named["peak_rss_mb"] = metric(rec["peak_rss_mb"], "MB", 1)
    return m, named


def layer_report(rec, files):
    """Per-operation self times and Spark counters of the measured
    operations, by layer and by span name, from the traced run's spans."""
    spans = {s["id"]: s for s in rec["spans"]}

    def root(s):
        while s["parent"] != -1:
            s = spans[s["parent"]]
        return s["name"]
    measured = [s for s in spans.values() if root(s) != "setup"]
    setup = [s for s in spans.values() if root(s) == "setup"]
    roots = [s for s in measured if s["parent"] == -1]
    n = max(1, sum(1 for s in roots if not s["name"].startswith("probe:")))

    def total(xs, key):
        return sum(x[key] for x in xs)

    def counters(xs, wall):
        return {"self_s": total(xs, "self_s") / n, "jobs": total(xs, "jobs") / n,
                "tasks": total(xs, "tasks") / n, "task_s": total(xs, "task_s") / n,
                "util": total(xs, "task_s") / (wall * rec["cpus"]) if wall > 0 else 0.0,
                "shuffle_mb": total(xs, "shuffle_mb") / n,
                "spill_mb": total(xs, "spill_mb") / n, "gc_s": total(xs, "gc_s") / n,
                "driver_gap_s": total(xs, "driver_gap_s") / n}

    def group(key):
        out = {}
        for k in sorted({key(s) for s in measured}):
            xs = [s for s in measured if key(s) == k]
            out[k] = dict(counters(xs, total(xs, "self_s")),
                          wall_s=total(xs, "wall_s") / n, count=len(xs))
        return out
    by_name = group(lambda s: f"{s['layer']}.{s['name'].split(':')[0]}")
    sites = {}
    for s in measured:
        for k, v in s["sites_s"].items():
            sites[k] = sites.get(k, 0.0) + v / n

    def get(name, field):
        return by_name.get(name, {}).get(field, 0.0)
    publish = sum(v for k, v in sites.items() if re.match(r"(save|count) at RunPipeline", k))
    arrivals = sum(o["units"] for o in rec["ops"] if o["kind"] == "fresh") / n
    refresh = [s for s in measured if s["name"].startswith(("refresh.", "apply_batch."))]
    named = {
        "operators.build_s": get("operators.build", "self_s"),
        "operators.action_s": get("operators.action", "self_s"),
        "operators.PipelineOps.q117_s": get("tools.run_pipeline", "wall_s") - publish,
        "operators.ScriptDedupOps.q221_s": get("operators.q221_script_pipeline", "wall_s"),
        "engine.staging_s": sum(v for k, v in sites.items()
                                if re.match(r"(local)?[cC]heckpoint at", k)),
        "engine.release_s": get("engine.release", "self_s"),
        "plans.plan_s": get("plans.plan", "self_s"),
        "sources.publish_s": publish,
        "sources.append_s": get("sources.append", "self_s"),
        "sources.refresh.mh_s": get("sources.refresh.mh", "wall_s"),
        "sources.refresh.ssim_s": get("sources.refresh.ssim", "wall_s"),
        "sources.refresh.cluster_s": get("streaming.apply_batch.cluster", "wall_s"),
        "sources.refresh.lines_s": get("streaming.apply_batch.lines", "wall_s"),
        "sources.refresh.phash_s": get("streaming.apply_batch.phash", "wall_s"),
        "streaming.apply_batch_s": sum(get(f"streaming.apply_batch.{f}", "self_s")
                                       for f in ("cluster", "lines", "phash")),
        "sources.rows_read_per_delta_row":
            total(refresh, "records_read") / n / arrivals if arrivals else 0.0,
        "sources.scan_s": get("sources.scan", "self_s"),
        "sources.table_files": files,
        "engine.tables_load_s": total([s for s in setup if s["name"] == "tables_load"],
                                      "self_s"),
        "index_build_s": total([s for s in setup if s["name"] == "create_index"], "wall_s"),
    }
    spark = {f"spark.{k}": v for k, v in counters(measured, total(roots, "wall_s")).items()
             if k != "self_s"}
    layers = {}
    for layer in sorted({s["layer"] for s in measured}):
        xs = [s for s in measured if s["layer"] == layer]
        layers[layer] = counters(xs, total(xs, "self_s"))
    return {"per_op_of": n, "named": named, "spark": spark, "layers": layers,
            "spans": by_name,
            "call_sites_s": dict(sorted(sites.items(), key=lambda kv: -kv[1])[:25])}


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f]


def append_jsonl(path, row):
    with open(path, "a") as f:
        f.write(json.dumps(row) + "\n")


def noise_guard(cal, nproc):
    """Compare the run's two calibration readings with each other and with
    the median of this checkout's earlier readings on as many cores, so
    that a window loaded from start to end, or on a host running faster
    than usual, shows too; then record them."""
    path = os.path.join(OUT, "calibration.jsonl")
    earlier = [ms for r in read_jsonl(path) if r["nproc"] == nproc for ms in r["ms"]]
    ref = statistics.median(earlier) if earlier else min(cal)
    drift = max(cal) / min(cal) - 1.0
    vs_ref = max((ms / ref - 1.0 for ms in cal), key=abs)
    append_jsonl(path, {"nproc": nproc, "ms": cal})
    return {"calibration_ms": cal, "drift": drift, "reference_ms": ref,
            "reference_readings": len(earlier), "vs_reference": vs_ref,
            "band": NOISE_BAND, "noisy_window": max(drift, abs(vs_ref)) > NOISE_BAND}


def table_files(out):
    """Data files the run's tables hold: the maintained warehouse, or the
    published pipeline tables."""
    return sum(len(glob.glob(os.path.join(out, d, "**", "*.parquet"), recursive=True))
               for d in ("warehouse", "pipe"))


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "scripts", "check_oracle.py"))):
        die("run from the root of a checkout of the engine (src/main/scala/graft "
            "and scripts/check_oracle.py not found)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, stamp = build()
    deadline = time.time() + RUN_LIMIT_S
    load0 = os.getloadavg()
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    gen_s = make_inputs(a.workload, a.seed, data)
    t_jvm = time.time()
    rec = run_jvm(cp, a, data, out, deadline - 15)
    load1 = os.getloadavg()
    t_check = time.time()
    checks = [(c["name"], None if c["ok"] else c["detail"]) for c in rec["checks"]]
    checks += oracle_checks(rec)
    phases = {"input_gen_s": gen_s, "jvm_s": t_check - t_jvm,
              "oracle_s": time.time() - t_check}

    # attempted: measured operations, probes, checks, and the other steps
    # that can fail (a failed operation is in both ops and failures)
    ops_failed = sum(1 for o in rec["ops"] if not o["ok"])
    attempted = len(rec["ops"]) + len(rec["probes_s"]) + len(checks) + \
        len(rec["failures"]) - ops_failed
    failed = len(rec["failures"]) + sum(1 for _, err in checks if err)
    os.makedirs(OUT, exist_ok=True)
    cal = rec["calibration_ms"]
    noise = dict(noise_guard(cal, rec["cpus"]), seed=a.seed, nproc=rec["cpus"],
                 loadavg_start=load0, loadavg_end=load1)
    e2e, named = end_to_end(rec)
    named["failed_frac"] = metric(failed / attempted, "frac", attempted)
    named["input_gen_s"] = metric(gen_s, "s", 1)

    history = os.path.join(OUT, f"{a.workload}.untraced.jsonl")
    if a.trace:
        report = layer_report(rec, table_files(out))
        flat = dict(report["named"], **report["spark"])
        # only untraced runs of this source state and window length compare
        untraced = [r["op_p50_s"] for r in read_jsonl(history)
                    if r.get("stamp") == stamp and r.get("seconds") == a.seconds]
        base = statistics.median(untraced) if untraced else None
        traced = e2e["op_p50_s"]["value"]
        report["tracing_overhead"] = {
            "op_p50_s_traced": traced, "op_p50_s_untraced": base,
            "untraced_runs": len(untraced),
            "overhead_frac": traced / base - 1.0 if base and traced else None,
            "against": "the median over the untraced runs of this workload, "
                       "source state and --seconds in this checkout"}
        metrics = {m["name"]: metric(flat.get(m["name"]), m["unit"], report["per_op_of"])
                   for m in spec["per_layer"]}
        with open(os.path.join(OUT, f"{a.workload}.trace.json"), "w") as f:
            json.dump(dict(report, workload=a.workload, seed=a.seed, noise=noise,
                           end_to_end=e2e), f, indent=1)
    else:
        metrics = {m["name"]: dict(e2e[m["name"]], unit=m["unit"])
                   for m in spec["end_to_end"]}
        if e2e["op_p50_s"]["value"] is not None:
            append_jsonl(history, {"seed": a.seed, "seconds": a.seconds, "stamp": stamp,
                                   "op_p50_s": e2e["op_p50_s"]["value"]})
        with open(os.path.join(OUT, f"{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": e2e,
                       "named": named, "noise": noise, "phases_s": phases,
                       "samples_s": {"ops": [o["s"] for o in rec["ops"]],
                                     "probes": rec["probes_s"]},
                       "checks": [{"name": k, "error": e} for k, e in checks],
                       "failures": rec["failures"], "extra": rec["extra"]}, f, indent=1)

    for k, err in checks:
        if err:
            print(f"FAILED {k}: {err}")
    for f in rec["failures"]:
        print(f"FAILED {f['op']}: {f['error'][:300]}")
    print(f"noise: calibration {cal[0]:.1f} -> {cal[1]:.1f} ms (drift {noise['drift']:+.1%}, "
          f"{noise['vs_reference']:+.1%} against the reference {noise['reference_ms']:.1f} ms "
          f"of {noise['reference_readings']} readings, band {NOISE_BAND:.0%}"
          f"{', NOISY WINDOW' if noise['noisy_window'] else ''}); "
          f"seed {a.seed}; nproc {rec['cpus']}; loadavg {load0[0]:.2f} -> {load1[0]:.2f}")
    for name, m in list(metrics.items()) + ([] if a.trace else list(named.items())):
        print(f"{name} {m['value']} {m['unit']} n={m['n']}")
    correct = failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                                  for k, m in metrics.items()}}))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
