#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one JSON line.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
graft with the repository's own sbt build, then the Scala harness in
benchmark/src against it, and writes the catalog tables
(benchmark/gen_tables.py); later runs reuse both while the sources are
unchanged. Everything it writes stays under benchmark/work/ and the
sbt target directories.

Workloads (see benchmark/NOTES.md):
  catalog        a fixed stratified sample of floor-bound, data-bound and CkptMemo-consuming
                 queries at sf0.1, closed loop, memo builds paid in every pass
  stream-orders  the reference streaming fan-out, open loop at a fixed rate

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of a separate traced run. The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": v, "unit": u}}}
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("catalog", "stream-orders")
RUN_LIMIT_S = 170  # every run, build excluded, ends well inside 180 s

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "suite_s": "s",
    "ok_share": "ratio",
    "correct_share": "ratio",
    "retained_heap_mb": "MB",
}


def layer_unit(name):
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_ms") or name == "warmup.ms":
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name == "shuffle.skew":
        return "ratio"
    if name.endswith("_rows") or name in ("state.rows_total", "state.rows_dropped_late",
                                           "scan.records"):
        return "rows"
    return "count"


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def sbt(cwd, args, env_extra=None):
    """Run sbt in batch mode offline; return its stdout lines."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update(env_extra or {})
    with open(os.path.join(WORK, "build.log"), "a") as logf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args, cwd=cwd,
                           env=env, stdout=subprocess.PIPE, stderr=logf,
                           stdin=subprocess.DEVNULL, text=True)
        logf.write(p.stdout)
    if p.returncode != 0:
        raise SystemExit(f"sbt {' '.join(args)} failed in {cwd}; see {WORK}/build.log")
    return p.stdout.splitlines()


def exported_classpath(lines):
    cps = [l.strip() for l in lines if os.pathsep in l or l.strip().endswith((".jar", "classes"))]
    cps = [c for c in cps if not c.startswith("[")]
    if not cps:
        raise SystemExit("sbt export printed no classpath")
    return cps[-1]


def source_digest():
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src", os.path.join("benchmark", "build.sbt"),
                 os.path.join("benchmark", "project"), os.path.join("benchmark", "src")):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            if "target" not in os.path.relpath(d, ROOT).split(os.sep) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness unless the sources are unchanged; return the classpath."""
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read()
    t = time.time()
    graft_cp = exported_classpath(sbt(ROOT, ["compile", "export Compile/fullClasspath"]))
    bench_cp = exported_classpath(sbt(HERE, ["compile", "export Compile/fullClasspath"],
                                      {"GRAFT_CLASSPATH": graft_cp}))
    with open(cp_file, "w") as f:
        f.write(bench_cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built graft and the harness in {time.time() - t:.0f} s")
    return bench_cp


def stratified_draw(pop, k, key, rng):
    """k names from pop: sort by recorded time, cut into k equal strata, one per stratum."""
    ranked = sorted(pop, key=lambda q: (q[key], q["name"]))
    bounds = [round(i * len(ranked) / k) for i in range(k + 1)]
    return [rng.choice(ranked[bounds[i]:bounds[i + 1]])["name"] for i in range(k)]


def draw(workload, seed):
    """The workload's sample, drawn with its fixed sample seed, in an order drawn with `seed`.

    A sample per run seed moved the catalog medians by 20-35% from seed to
    seed (a handful of queries cannot represent a population whose times
    span 30x), more than any bound could absorb; so the sample is fixed
    and the run seed only orders it."""
    spec = json.load(open(os.path.join(HERE, "populations.json")))[workload]
    rng = random.Random(f"{workload}:{spec['sample_seed']}")
    names = []
    for part in spec["draw"]:
        pop = [q for q in spec["queries"] if q["set"] == part["set"]]
        names += stratified_draw(pop, part["count"], spec["rank_by"], rng)
    random.Random(f"{workload}:{seed}").shuffle(names)
    return spec, names


def jvm_opts(run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ([a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["--add-exports", "java.management/sun.management=ALL-UNNAMED",
             # the safepoint counter (jvm.safepoint_ms) needs perf data; kept
             # in memory, so no hsperfdata file is written outside the checkout
             "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+PerfDisableSharedMem",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             f"-Dderby.system.home={run_dir}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"])


def run_jvm(cmd, run_dir, deadline):
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"run exceeded {RUN_LIMIT_S} s; see {run_dir}/jvm.log")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit(f"no graft sources under {ROOT}: run from a checkout of the repository")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "check"))
    data = os.path.join(WORK, "data")
    harness = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", run_dir,
              "--cores", str(len(os.sched_getaffinity(0)))]
    drawn = []
    if a.workload == "catalog":
        spec, drawn = draw(a.workload, a.seed)
        with open(os.path.join(run_dir, "queries.txt"), "w") as f:
            f.write("\n".join(drawn) + "\n")
        sf_dir = gen_tables.write(spec["scale"], os.path.join(data, f"sf{spec['scale']}"))
        # the warm-up pass runs at sf0.01, the scale of the repository's
        # oracle gate, and its outputs are the ones checked
        check_dir = gen_tables.write(0.01, os.path.join(data, "sf0.01"))
        # whole passes, as many as fit in --seconds at the calibrated pass time
        passes = max(1, round(a.seconds / spec["seconds_per_pass"]))
        harness += ["--passes", str(passes), "--queries", os.path.join(run_dir, "queries.txt"),
                   "--data", sf_dir, "--check-data", check_dir]

    launch_ms = int(time.time() * 1000)
    cmd = ["java"] + jvm_opts(run_dir) + ["-cp", classpath, "graftbench.Main"] + harness + [
        "--launch-ms", str(launch_ms)]
    rc = run_jvm(cmd, run_dir, deadline)
    jvm_s = time.time() - launch_ms / 1000
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"harness exited with {rc}; see {run_dir}/jvm.log")
    res = json.load(open(result_file))
    checked, wrong = res["checked"], res["wrong"]
    mismatches = []
    if a.workload == "catalog":
        mismatches = oracle.compare(os.path.join(run_dir, "check"), check_dir)
        wrong = len(mismatches)
        if not a.trace:
            res["metrics"]["correct_share"] = 1.0 - wrong / max(1, checked)
    for note in res["notes"] + mismatches:
        log(note)
    log(f"harness JVM {jvm_s:.1f} s, output check {time.time() - launch_ms / 1000 - jvm_s:.1f} s")

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["metrics"].items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({"drawn": drawn, "checked": checked, "wrong": wrong, "mismatches": mismatches,
                   "notes": res["notes"], "metrics": metrics}, f, indent=1)
    # bulky outputs go; the report, trace, plans and progress stay
    for bulky in ("check", "stream", "warm", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, bulky), ignore_errors=True)
    print(json.dumps({"correct": wrong == 0 and checked > 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
