#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads over a generated warehouse.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # each workload once at sf0.001

Run from the root of a checkout. The first run builds the benchmark
(graft's sources plus perfbench/src, with sbt) and generates the sf0.01
warehouse; later runs reuse both. Each run starts one JVM with
`local[nproc]` and one client thread, sets up once (session, seeded
inputs, untimed warm-up), then runs chains of operations for --seconds
and prints, as its last line, {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The full result (every operation, stamps, spans) goes to
perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("etl_daily", "corpus_ingest", "query_mix")
DATA_SEED = 42  # the warehouse is fixed; --seed varies what each workload does with it
SF = 0.01       # sized so that a full measurement (4 + 22 x 2 runs) fits its time budget (README)
SMOKE_SF = 0.001

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every input of the build, for the staleness stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return jars


def build():
    """Compile with sbt when any source changed; returns the classpath."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "perfbench.stamp")
    fp = fingerprint(sources())
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == fp:
        return open(cp_file).read().strip(), fp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.sparkJars={spark_jars()}", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f}s")
    with open(stamp_file, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip(), fp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# A fixed 3 GB heap with a fixed young generation: G1's adaptive sizing
# otherwise moves the JVM's peak RSS by a third between identical runs.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-XX:+UnlockExperimentalVMOptions",
              "-XX:G1NewSizePercent=20", "-XX:G1MaxNewSizePercent=20"]


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, workload, seed, seconds, trace, data, out, extra):
    work = os.path.join(WORK, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JVM_MEMORY, *ADD_OPENS,
           f"-Djava.io.tmpdir={work}", "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
           "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--data", data,
           "--work", work, "--out", out, *extra]
    # stderr goes to a file: a stuck JVM's progress marks and thread dump
    # must survive its watchdog's halt
    err_path = os.path.join(RESULTS, os.path.basename(out).replace(".json", ".stderr"))
    with open(err_path, "w") as err_f:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=err_f)
        # the JVM stops itself after 160 s (perfbench.Main's watchdog)
        try:
            proc.wait()
        finally:
            if proc.poll() is None:  # interrupted: never leave the JVM behind
                proc.kill()
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    err = open(err_path, errors="replace").read()
    for line in err.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"{workload}: JVM exited with {proc.returncode} (stderr: {err_path})")
    with open(out) as f:
        return json.load(f)


def one(cp, fp, workload, seed, seconds, trace, sf, extra):
    data = gen.generate(os.path.join(WORK, "data", f"sf{sf}"), sf, DATA_SEED)
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, f"{workload}-sf{sf}-seed{seed}-trace{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    res = run_jvm(cp, workload, seed, seconds, trace, data, out, extra)
    res["stamp"] = {"seed": seed, "nproc": res["nproc"], "driver_heap_mb": res["driver_heap_mb"],
                    "spark_version": res["spark_version"], "git_commit": git_commit(),
                    "source_sha256": fp, "sf": sf, "seconds": seconds, "trace": trace,
                    "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    return res, out


def summary(res, trace):
    metrics = res["per_layer"] if trace else res["end_to_end"]
    return {"correct": res["failed"] == 0 and res["attempted"] >= 1,
            "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}


def main():
    # a terminated run unwinds through the `finally` blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="each workload once at sf0.001")
    ap.add_argument("--record-digests", action="store_true",
                    help="query_mix: rewrite digests.tsv for this sf from this commit's outputs")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no graft sources under {ROOT}: run from the root of a graft checkout")
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")
    cp, fp = build()

    if a.smoke:
        ok = True
        for w in ([a.workload] if a.workload else WORKLOADS):
            extra = ["--smoke"]
            if a.record_digests:
                extra.append("--record-digests")
            res, out = one(cp, fp, w, a.seed, 0, 1, SMOKE_SF, extra)
            s = summary(res, 0)
            ok &= s["correct"]
            log(f"smoke {w}: correct={s['correct']} attempted={s['attempted']} failed={s['failed']} -> {out}")
        print(json.dumps({"smoke": "pass" if ok else "fail"}))
        sys.exit(0 if ok else 1)

    extra = ["--record-digests"] if a.record_digests else []
    res, out = one(cp, fp, a.workload, a.seed, a.seconds, a.trace, SF, extra)
    s = summary(res, a.trace)
    for k, v in s["metrics"].items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"{a.workload} fail_ratio = {res['fail_ratio']:.6g} (n={res['attempted']}); "
          f"op_tail_s = {res['op_tail_s']:.6g} s (p{res['op_tail_percentile']:.1f} of n={res['op_n']}); "
          f"result: {out}")
    print(json.dumps(s))


if __name__ == "__main__":
    main()
