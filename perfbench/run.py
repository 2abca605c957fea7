#!/usr/bin/env python3
"""The repository benchmark: times the graft engine end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload graph-dedup --seed 1 --seconds 8 --trace 0

Workloads, their ops and the layer each per-layer metric belongs to are in
`perfbench/workloads.json`. One run:

1. builds the engine and the JVM harness (`perfbench/build.sbt`, sbt,
   offline) unless the build is up to date;
2. writes the fixture tables (`gen_fixtures.py`) unless they exist;
3. starts one fresh JVM with its own empty tmpdir and Spark local dir under
   `perfbench/.work/`, which runs the workload (see `Harness.scala`);
4. checks every op's output against `expected.json` (and the schema-lint
   calls against the seeded schema generator) and prints one JSON line.

With `--trace 0` the line holds the end-to-end metrics, with `--trace 1`
the per-layer ones. `--seed` sets the op order of each pass and the
schema-lint schema. Other modes:

    python3 perfbench/run.py --self-test   # a throwing op and a wrong op must fail
    python3 perfbench/run.py --record      # re-record expected.json (DuckDB cross-check)
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_DEADLINE_S = 165.0
# set-ups per run (setup_s takes their median), untimed passes after the
# output check, and the fewest timed passes a run makes
SETUP_REPS, WARMUP_PASSES, MIN_PASSES = 3, 1, 3
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def load_json(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    for path in sorted(files):
        st = os.stat(path)
        h.update(f"{os.path.relpath(path, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    log("building engine and harness with sbt")
    out = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800, stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def fixtures(scale):
    """The fixture tables for `scale`, written once per checkout."""
    gen = os.path.join(BENCH, "gen_fixtures.py")
    with open(gen, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, f"fixtures-{scale}-{tag}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, str(scale)], check=True,
                       stdin=subprocess.DEVNULL)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


# ---------------------------------------------------------------- one JVM

def run_jvm(cp, workload, spec, seed, seconds, trace, fixture_dir, extra=()):
    """Runs the harness in a fresh JVM; returns its raw result dict. A JVM
    still running after JVM_DEADLINE_S is killed and the run fails."""
    cores = os.cpu_count() or 1
    run_dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    out_file = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
           # the schema-lint Derby fixture's catalog must fit its page cache
           # (default 1000 pages): when it does not, its metadata calls
           # thrash and catalog.reflect turns bimodal from run to run
           "-Dderby.storage.pageCacheSize=20000",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--fixtures", fixture_dir, "--work", run_dir,
            "--out", out_file, "--cores", str(cores),
            "--ops", ",".join(spec.get("ops", [])),
            "--state-ops", ",".join(spec.get("state_ops", [])),
            "--setup-reps", str(spec.get("setup_reps", SETUP_REPS)),
            "--warmup-passes", str(spec.get("warmup_passes", WARMUP_PASSES)),
            "--min-passes", str(spec.get("min_passes", MIN_PASSES)),
            "--tables", str(spec.get("tables", 0)), *extra]
    log_path = os.path.join(run_dir, "jvm.log")
    launch_ms = time.time() * 1000.0
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    try:
        if rc != 0:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"harness JVM failed ({rc})")
        with open(out_file) as f:
            raw = json.load(f)
        raw["boot_s"] = (raw["main_ms"] - launch_ms) / 1000.0
        # the latest raw result and trace of each workload, for inspection
        with open(os.path.join(WORK, f"last-{workload}.json"), "w") as f:
            json.dump(raw, f)
        shutil.copy(log_path, os.path.join(WORK, f"last-{workload}.log"))
        trace_file = os.path.join(run_dir, "trace.json")
        if os.path.exists(trace_file):
            shutil.copy(trace_file, os.path.join(WORK, f"last-{workload}.trace.json"))
        return raw
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- checks

def digest_matches(got, want):
    if "error" in got or want is None:
        return False
    if (got["rows"], got["key"], got["dcnt"]) != (want["rows"], want["key"], want["dcnt"]):
        return False
    if len(got["dsum"]) != len(want["dsum"]):
        return False
    for gs, ws, ga, wa in zip(got["dsum"], want["dsum"], got["dabs"], want["dabs"]):
        tol = 1e-7 * max(1.0, abs(wa or 0.0))
        for g, w in ((gs, ws), (ga, wa)):
            if g is None or w is None:
                if g is not w:
                    return False
            elif abs(g - w) > tol:
                return False
    return True


LINT_CALLS = {"catalog.reflect", "catalog.jdbc", "rules.eval", "report.write"}


def wrong_ops(raw, expected):
    """Ops whose checked output is wrong (or that threw while checked)."""
    bad = set()
    for name, got in raw["digests"].items():
        if not digest_matches(got, expected.get(name)):
            log(f"output check failed for {name}: got {got}, want {expected.get(name)}")
            bad.add(name)
    c = raw["lint_check"]
    if c and not (c["issues_match"] and c["csv_match"]
                  and c["columns"] == c["columns_expected"] == c["columns_jdbc"]
                  and c["issues"] == c["issues_expected"] == c["issues_jdbc"]):
        log(f"schema-lint check failed: {c}")
        bad |= LINT_CALLS
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def setup_s(raw):
    """JVM start and session once, plus the median of the repeated set-ups."""
    prep = median([sum(r.values()) for r in raw["setup_runs"]]) if raw["setup_runs"] else 0.0
    return raw["boot_s"] + raw["session_s"] + prep


def end_to_end(raw, bad):
    passes = [p for p in raw["passes"] if not p["traced"]]
    op_times, per_op = [], {}
    for p in passes:
        for o in p["ops"]:
            if o["error"] is None and o["name"] not in bad:
                t = o["build_s"] + o["exec_s"]
                op_times.append(t)
                per_op.setdefault(o["name"], []).append(t)
    walls = [p["wall_s"] for p in passes]
    geo = math.exp(statistics.fmean(math.log(max(median(v), 1e-9)) for v in per_op.values())) \
        if per_op else float("nan")
    # too few op samples per run for a gated p90 (fewer than ten lie beyond
    # it), so it is logged with its sample count instead of reported
    log(f"passes={len(walls)} pass_s q1/median/q3="
        f"{quantile(walls, .25):.4f}/{median(walls):.4f}/{quantile(walls, .75):.4f} "
        f"op_s p50/p90={quantile(op_times, .5):.4f}/{quantile(op_times, .9):.4f} "
        f"over {len(op_times)} op samples")
    return {
        "setup_s": (setup_s(raw), "s"),
        "pass_s": (median(walls), "s"),
        "op_s.p50": (quantile(op_times, 0.5), "s"),
        "op_geomean_s": (geo, "s"),
    }


def per_layer(raw, cores):
    traced = [p for p in raw["passes"] if p["traced"]]

    def per_pass(fn, ops=None):
        vals = []
        for p in traced:
            vals.append(sum(fn(o) for o in p["ops"] if ops is None or o["name"] in ops))
        return median(vals)

    def field(k):
        return per_pass(lambda o: o[k])

    mb = 1024.0 * 1024.0
    n_ops = median([len(p["ops"]) for p in traced]) or 1
    stages = field("stages")
    op_wall = per_pass(lambda o: o["build_s"] + o["exec_s"])
    task_s = field("task_s")
    state_builds = [sum(v for k, v in r.items() if k != "derby_schema")
                    for r in raw["setup_runs"]]
    m = {
        "ops.build_s": (field("build_s"), "s"),
        "ops.exec_s": (field("exec_s"), "s"),
        "ops.release_s": (field("release_s"), "s"),
        "ops.jobs": (field("jobs") / n_ops, "count"),
        "ops.driver_s": (field("driver_s"), "s"),
        "ops.boundary_mb": (field("block_b") / mb, "MB"),
        "ops.boundary_blocks": (field("blocks"), "count"),
        "spark.stages": (stages, "count"),
        "spark.tasks": (field("tasks"), "count"),
        "spark.tasks_per_stage": (field("tasks") / stages if stages else 0.0, "count"),
        "spark.sched_delay_s": (field("sched_s"), "s"),
        "spark.task_s": (task_s, "s"),
        "spark.cpu_s": (field("cpu_s"), "s"),
        "spark.gc_s": (field("gc_s"), "s"),
        "spark.core_util": (task_s / (op_wall * cores) if op_wall else 0.0, "frac"),
        "spark.shuffle_write_mb": (field("shuffle_write_b") / mb, "MB"),
        "spark.shuffle_read_mb": (field("shuffle_read_b") / mb, "MB"),
        "spark.spill_mb": (field("spill_b") / mb, "MB"),
        "spark.plan_s": (field("plan_s"), "s"),
        "sources.scan_mb": (field("scan_b") / mb, "MB"),
        "sources.scan_rows": (field("scan_rows"), "count"),
        "sources.state_build_s": (median(state_builds) if state_builds else 0.0, "s"),
        "sources.state_files": (raw["state_files"], "count"),
        "sources.state_mb": (raw["state_bytes"] / mb, "MB"),
        "jvm.peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    for name, ops in (("catalog.reflect_s", {"catalog.reflect"}),
                      ("catalog.jdbc_s", {"catalog.jdbc"}),
                      ("rules.eval_s", {"rules.eval"}),
                      ("report.write_s", {"report.write"})):
        m[name] = (per_pass(lambda o: o["build_s"] + o["exec_s"], ops) if traced else 0.0, "s")
    lint = raw["lint_check"]
    m["catalog.columns"] = (float(lint.get("columns", 0)), "count")
    m["rules.issues"] = (float(lint.get("issues", 0)), "count")
    m["report.bytes"] = (float(lint.get("csv_bytes", 0)), "bytes")
    for layer in ("harness", "ops", "spark", "catalog", "rules", "report"):
        m[f"self.{layer}_s"] = (raw["self_s"].get(layer, 0.0) / max(1, len(traced)), "s")
    # each traced pass against the mean of the untraced passes around it,
    # which cancels the warm-up trend across the run
    seq = raw["passes"]
    m["trace.overhead_s"] = (median([
        seq[i]["wall_s"] - (seq[i - 1]["wall_s"] + seq[i + 1]["wall_s"]) / 2
        for i in range(1, len(seq) - 1) if seq[i]["traced"]]), "s")
    return m


# ---------------------------------------------------------------- modes

def measure(workload, seed, seconds, trace, inject=(), expected_extra=None, override=None):
    cfg = load_json("workloads.json")
    spec = cfg["workloads"].get(workload)
    if spec is None:
        die(f"unknown workload {workload}; have {', '.join(cfg['workloads'])}")
    spec = dict(spec, **(override or {}))
    cp = build()
    fx = fixtures(spec["scale"])
    expected = load_json("expected.json")["digests"]
    expected.update(expected_extra or {})
    extra = ["--inject", ",".join(inject)] if inject else []
    raw = run_jvm(cp, workload, spec, seed, seconds, trace, fx, extra)
    bad = wrong_ops(raw, expected)
    attempted = failed = 0
    for p in raw["passes"]:
        for o in p["ops"]:
            attempted += 1
            if o["error"] is not None or o["name"] in bad:
                failed += 1
                if o["error"] is not None:
                    log(f"{o['name']} failed: {o['error']}")
    cores = raw["cores"]
    metrics = per_layer(raw, cores) if trace else end_to_end(raw, bad)
    if trace:
        metrics["failed_frac"] = (failed / attempted if attempted else 1.0, "frac")
    result = {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a metric with no sample (every op failed) prints as null, not NaN
        "metrics": {k: {"value": None if isinstance(v, float) and math.isnan(v) else v,
                        "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, raw


def self_test():
    """A throwing op and a wrong-answer op must both count as failed and
    contribute no time; the real ops beside them must still pass."""
    want_wrong = {"selftest_wrong": {"rows": 10, "key": "0", "dcnt": [], "dsum": [], "dabs": []}}
    res, raw = measure("scan-lint", 1, 1, 0, inject=("selftest_throw", "selftest_wrong"),
                       expected_extra=want_wrong,
                       override={"ops": ["q14_top_orders"], "tables": 0, "setup_reps": 1,
                                 "min_passes": 2})
    passes = [p for p in raw["passes"] if not p["traced"]]
    n_ops = len(passes[0]["ops"])
    checks = {
        "every execution attempted": res["attempted"] == n_ops * len(passes),
        "both injected ops fail in every pass": res["failed"] == 2 * len(passes),
        "run reported incorrect": res["correct"] is False,
        "throwing op recorded its error": all(
            o["error"] for p in passes for o in p["ops"] if o["name"] == "selftest_throw"),
        "real ops untouched": all(
            o["error"] is None for p in passes for o in p["ops"]
            if not o["name"].startswith("selftest_")),
    }
    # failed executions must not reach the op-time samples
    good = [o["build_s"] + o["exec_s"] for p in passes for o in p["ops"]
            if not o["name"].startswith("selftest_")]
    checks["failed ops contribute no time"] = (
        abs(res["metrics"]["op_s.p50"]["value"] - quantile(good, 0.5)) < 1e-12)
    for k, ok in checks.items():
        log(f"self-test: {'ok  ' if ok else 'FAIL'} {k}")
    print(json.dumps({"self_test": all(checks.values()), "checks": checks}))
    return 0 if all(checks.values()) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        die("engine sources not found: run from the repository root")
    if a.self_test:
        return self_test()
    if a.record:
        import record
        return record.main(sys.modules[__name__])
    if not a.workload:
        die("--workload is required")
    res, raw = measure(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
