#!/usr/bin/env python3
"""The repository benchmark: seeded closed-loop workloads over the graft
program, with end-to-end metrics (`--trace 0`) or per-layer metrics from
a traced run (`--trace 1`).

    python3 perfbench/run.py --workload star_short --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and
the program from source with sbt (cached under `.bench_build/`). Each
run generates its inputs from the seed, runs the harness JVM, checks
every output against a reference (the DuckDB oracle `scripts/check.py`
for registry queries, a plain replay for the table-format workload),
prints every metric by name with its unit, and ends with one JSON line.
"""
import argparse
import hashlib
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s",
             "op_p50_s": "s", "op_tail_s": "s", "cpu_s": "s",
             "retained_heap_mb": "MB"}
REPORTED_ONLY = {"fail_ratio": "ratio", "write_amp": "ratio",
                 "space_amp": "ratio"}
LAYER_UNITS = {"ops": "count", "fail": "count", "jobs": "count",
               "stages": "count", "tasks": "count", "slot_util": "ratio",
               "skew": "ratio", "commits": "count", "versions": "count",
               "live_files": "count", "skip_ratio": "ratio",
               "files_in": "count", "files_out": "count",
               "batches": "count", "candidate_pairs": "count",
               "lsh_precision": "ratio", "span_coverage": "ratio",
               "rows_per_s": "rows/s"}


def unit_of(metric):
    short = metric.split(".", 1)[1]
    if short in LAYER_UNITS:
        return LAYER_UNITS[short]
    return "MB" if "_mb" in short else "s"


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and return (exit code, stdout).
    The whole group is killed if it outlives `timeout` or if this process
    is told to stop, so no child is ever left behind."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {os.path.basename(cmd[0])} timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Digest of everything the harness build depends on."""
    h = hashlib.sha256(b"jars-v1")
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build the harness and the program once per source state. Returns
    the classpath (jars only, so the JVM can archive its classes) and
    the source stamp."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = sources_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"], stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"] + (
        [f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else [])))
    for old in os.listdir(BUILD):  # archives of earlier builds
        if old.startswith("classes-") and old.endswith(".jsa"):
            os.remove(os.path.join(BUILD, old))
    log("building the harness and the program with sbt")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
         "export Runtime/fullClasspathAsJars"],
        840, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in out.splitlines()
             if ln.endswith(".jar") and os.pathsep in ln
             and not ln.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1], stamp


def run_jvm(cp, stamp, args, work, deadline):
    """Run the harness in its own process group; kill it on timeout.

    The first run after a build archives the classes it loaded
    (class-data sharing); later runs map that archive, which roughly
    halves session start-up."""
    archive = os.path.join(BUILD, f"classes-{stamp[:16]}.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java", "-Xmx4g", cds, "-Xlog:cds=off",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        return run_group(cmd, deadline - time.time(), stdout=logf,
                         stderr=subprocess.STDOUT)[0]


def oracle_check(check_dir, input_dir):
    """Compare the check pass's registry outputs with the DuckDB oracle.
    Returns the names that failed and the row counts of those that
    passed."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    if not names:
        return [], {}
    _, out = run_group(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"),
         check_dir, input_dir, ",".join(names)],
        120, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    failed = re.findall(r"^FAIL (\S+?):", out, re.M)
    if not re.search(r"== \d+ pass, \d+ fail ==", out):
        raise SystemExit("perfbench: oracle check did not finish\n"
                         + out[-2000:])
    passed = dict(re.findall(r"^PASS (\S+) \((\d+) rows\)", out, re.M))
    return (failed + [n for n in names if n not in passed and n not in failed],
            {n: int(r) for n, r in passed.items()})


def input_rows(workload, manifest, result):
    if workload == "lakehouse_rw":
        return statistics.median(p["counters"]["input_rows"]
                                 for p in result["passes"])
    tables = (["documents", "embeddings"] if workload == "llm_corpus"
              else list(manifest["tables"]))
    return sum(manifest["tables"][t]["rows"] for t in tables)


def end_to_end(workload, manifest, result, setup_s, failed, attempted):
    passes = [p for p in result["passes"] if not p["traced"]]
    lat = [r["construct_s"] + r["plan_s"] + r["exec_s"]
           for p in passes for r in p["ops"]]
    tail_v, tail_p, n = stats.tail(lat)
    pass_s = statistics.median(p["pass_s"] for p in passes)
    m = {"setup_s": setup_s, "pass_s": pass_s,
         "rows_per_s": input_rows(workload, manifest, result) / pass_s,
         "op_p50_s": statistics.median(lat), "op_tail_s": tail_v,
         "cpu_s": statistics.median(p["cpu_s"] for p in passes),
         "retained_heap_mb": result["retained_heap_mb"],
         "fail_ratio": failed / attempted}
    if workload == "lakehouse_rw":
        m["write_amp"] = statistics.median(
            (p["fs_bytes_written"] + p["counters"]["sources.log_mb"] * 1e6)
            / p["counters"]["input_bytes"] for p in passes)
        m["space_amp"] = statistics.median(
            p["counters"]["table_bytes"] / p["counters"]["live_bytes"]
            for p in passes)
    return m, {"op_tail_percentile": tail_p, "op_samples": n,
               "timed_passes": len(passes)}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    started = time.time()
    for need in ("src/main/scala", "scripts/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} is missing; run from a "
                             "checkout of the repository")
    cp, stamp = classpath()
    # everything after the build has its own time limit
    deadline = time.time() + RUN_LIMIT_S
    base = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(base, ignore_errors=True)
    t0 = time.time()
    manifest = gen.generate(a.workload, a.seed, os.path.join(base, "input"))
    gen_s = time.time() - t0
    work = os.path.join(base, "work")
    out = os.path.join(base, "result.json")
    code = run_jvm(cp, stamp, ["--workload", a.workload,
                        "--input", os.path.join(base, "input"),
                        "--work", work, "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--out", out],
                   work, deadline)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(os.path.join(work, "jvm.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as f:
        result = json.load(f)
    setup_s = result["setup_done_ms"] / 1e3 - t0
    t1 = time.time()
    bad, oracle_rows = oracle_check(os.path.join(work, "check"),
                                    os.path.join(base, "input"))
    for r in result["check_pass"]["ops"]:
        r["rows"] = oracle_rows.get(r["name"], r["rows"])
    check_s = time.time() - t1
    all_passes = [result["check_pass"]] + result["passes"]
    attempted = sum(len(p["ops"]) for p in all_passes)
    errors = [f"pass {p['pass']} {r['name']}: {r['error']}"
              for p in all_passes for r in p["ops"] if not r["ok"]]
    # a timed pass must return what the check pass returned
    expect = {r["index"]: r["rows"] for r in result["check_pass"]["ops"]}
    drift = [f"pass {p['pass']} {r['name']}: {r['rows']} rows, "
             f"check pass {expect[r['index']]}"
             for p in result["passes"] for r in p["ops"]
             if r["ok"] and r["rows"] != expect[r["index"]]]
    mism = bad + [m for p in all_passes for m in p["mismatches"]]
    failed = len(errors) + len(drift) + len(mism)
    for e in errors + drift + [f"output mismatch: {m}" for m in mism]:
        log(e)
    e2e, tail_info = end_to_end(a.workload, manifest, result, setup_s,
                                failed, attempted)
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "seconds": a.seconds, "cores": result["cores"],
                "inputs": manifest, "generate_s": gen_s, "check_s": check_s,
                "end_to_end": e2e, **tail_info,
                "failures": errors + drift + mism,
                "passes": all_passes}
    if a.trace:
        metrics = stats.per_layer(result, result["cores"])
        report = {k: (v, unit_of(k)) for k, v in metrics.items()}
        artifact["per_layer"] = metrics
        artifact["self_time_s"] = stats.self_time_table(result["spans"])
        artifact["spans"] = result["spans"]
        artifact["traced_pass_s"] = [p["pass_s"] for p in result["passes"]
                                     if p["traced"]]
        artifact["untraced_pass_s"] = [p["pass_s"] for p in result["passes"]
                                       if not p["traced"]]
        for layer, row in sorted(artifact["self_time_s"].items()):
            print(f"self_time {layer} " + " ".join(
                f"{k}={v:.4f}s" for k, v in sorted(row.items())))
    else:
        report = {k: (v, E2E_UNITS.get(k) or REPORTED_ONLY[k])
                  for k, v in e2e.items()}
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    with open(os.path.join(BUILD, "artifacts", f"{a.workload}-seed{a.seed}"
                           f"-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f)
    for k, (v, u) in report.items():
        print(f"{k} {v:.6g} {u}")
    if not a.trace:
        print(f"op_tail_s is p{tail_info['op_tail_percentile']:.1f} of "
              f"{tail_info['op_samples']} samples")
    shutil.rmtree(base, ignore_errors=True)
    keep = E2E_UNITS if not a.trace else report
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": report[k][0], "unit": report[k][1]}
                    for k in keep}}))
    log(f"done in {time.time() - started:.1f}s")


if __name__ == "__main__":
    main(sys.argv[1:])
