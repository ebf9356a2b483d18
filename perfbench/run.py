#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {etl,curation} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the library and
the harness from the checkout's sources (sbt, offline) into
`perfbench/target`; later runs reuse the build while the sources are
unchanged. Each run then

 1. generates the workload's inputs from the seed (`gen.py`) under
    `.bench_build/runs/`,
 2. runs the JVM harness (`perfbench.Main`): setup, a cold pass that
    writes every result to parquet, an untimed warm-up pass, then warm
    passes through the `noop` sink for S seconds and at least five of
    them; with `--trace 1` the warm passes alternate traced and
    untraced and the per-layer metrics come from the traced ones,
 3. checks the cold pass's results against DuckDB (`oracle.py`),
    after the harness has ended,
 4. prints every metric with its unit, the verdict and the input
    manifest, and as its last line one JSON object with `correct`,
    `attempted`, `failed` and `metrics`.

The span trace of a traced run is kept in `.bench_build/traces/`.

    python3 perfbench/run.py --bridge DATA_DIR

instead records the bridging board: every declared query of the
enrich, curate and ann lists timed under `count()` and under the
`noop` sink on DATA_DIR (a directory of the project's test tables),
stamped with nproc, the Spark and JDK versions and `graft.Bench`'s
calibration-probe reading, into `perfbench/records/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import oracle   # noqa: E402

RUN_LIMIT_S = 150  # harness limit; the gate and the report follow within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt (offline) unless the sources are unchanged since
    the last build; return the runtime classpath."""
    stamp = os.path.join(build_dir, "build.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("digest") == digest and os.path.isdir(st["classpath"].split(":")[0]):
            return st["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith(os.path.join(HERE, "target"))]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def java_cmd(classpath, tmp, bench_jvm=True):
    """The harness JVM. Benchmark runs use C1 only: a run ends long before
    C2's compiles pay back at this input size, and C2's compile bursts
    (18-25 CPU-s inside a 10 s warm pass on four cores) were the largest
    source of run-to-run variance. C1 alone gets the 48 MiB code cache of
    a non-tiered JVM, which a curation run fills; the cache is sized so
    compiled code is never flushed and compiled again. The serial
    collector with a fixed young generation sizes the heap from what the
    program allocates and keeps alive: G1 grew it with its pause times,
    so peak RSS followed the host's load. Compile thresholds are a tenth
    of the default, so most code is compiled in the cold pass rather
    than a little more in each warm pass. The bridging board keeps the
    default JVM of the boards it is read against."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jvm = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           "-XX:CompileThresholdScaling=0.1", "-XX:+UseSerialGC",
           "-Xmn256m"] if bench_jvm else []
    return [java, *opens, *jvm, "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath]


def run_jvm(cmd, log, deadline):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded the run limit; log in {log}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited {rc}; log in {log}")


# The units whose latency `batch_s_p50` pools, by name prefix: etl's
# daily ingest batches, and curation's MinHash-LSH dedup of the corpus
# (the one curation unit that is a batch step of the curation pipeline).
BATCH_UNITS = {"etl": "ingest_", "curation": "d2_minhash_lsh"}


def end_to_end(res, workload):
    warm = [p for p in res["passes"][1 + res["warm_up_passes"]:] if not p["traced"]]
    batches = [u["s"] for p in warm for u in p["units"]
               if u["name"].startswith(BATCH_UNITS[workload])]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "cold_pass_s": res["passes"][0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "batch_s_p50": statistics.median(batches),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def bridge(root, classpath, data_dir):
    build_dir = os.path.join(root, ".bench_build")
    tmp = os.path.join(build_dir, "bridge", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = os.cpu_count() or 1
    env = dict(os.environ, SPARK_GRAFT_PROBE_ONLY="1", SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_PROBE_BASELINE="", SPARK_LOCAL_DIRS=tmp)
    probe = subprocess.run(java_cmd(classpath, tmp, bench_jvm=False) + ["graft.Bench"], env=env,
                           capture_output=True, text=True, check=True,
                           stdin=subprocess.DEVNULL)
    probe = json.loads(probe.stdout.strip().splitlines()[-1])
    out = os.path.join(build_dir, "bridge", "board.json")
    run_jvm(java_cmd(classpath, tmp, bench_jvm=False) + [
        "perfbench.Bridge", "--dir", os.path.abspath(data_dir),
        "--work", os.path.join(build_dir, "bridge", "work"),
        "--cores", str(cores), "--out", out],
        os.path.join(build_dir, "bridge", "jvm.log"), time.time() + 3600)
    with open(out) as f:
        board = json.load(f)
    name = os.path.basename(os.path.normpath(data_dir))
    board.update(dir=name, nproc=cores, probe=probe)
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    path = os.path.join(HERE, "records", f"bridge_{name}.json")
    with open(path, "w") as f:
        json.dump(board, f, indent=1)
        f.write("\n")
    for q in board["queries"]:
        print(f"{q['query']:24s} " + (f"count {q['count_s']:8.3f} s  noop {q['noop_s']:8.3f} s"
                                     if "error" not in q else q["error"]))
    print(f"wrote {path}")


def steal_ticks():
    """Host steal time of all vCPUs so far (clock ticks), 0 where the
    kernel does not report it: a run's figures are only comparable with
    runs that saw similar steal."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--bridge", metavar="DATA_DIR",
                    help="record the count() vs noop bridging board instead")
    ap.add_argument("--workload", choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    a = ap.parse_args()
    if not a.bridge and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    start = time.time()
    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no graft sources under ./src/main/scala: run from a checkout root")
    if not os.path.exists(bench_json):
        fail("no BENCHMARK.json in the working directory")
    with open(bench_json) as f:
        spec = json.load(f)
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)
    if a.bridge:
        return bridge(root, classpath, a.bridge)

    deadline = time.time() + RUN_LIMIT_S
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(start)}"
    run_dir = os.path.join(build_dir, "runs", run_id)
    inputs, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(run_dir, "tmp"))
    manifest = gen.generate(a.workload, a.seed, inputs)
    t_gen = time.time()
    steal0 = steal_ticks()
    cores = os.cpu_count() or 1
    run_jvm(java_cmd(classpath, os.path.join(run_dir, "tmp")) + [
        "perfbench.Main", "--workload", a.workload, "--input", inputs,
        "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--run-id", run_id],
        os.path.join(run_dir, "jvm.log"), deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    t_jvm = time.time()
    steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (cores * (t_jvm - t_gen))

    ingest = [c for c in res["checks"] if c["name"].startswith("ingest_")]
    checks = oracle.check_queries(
        inputs, [c for c in res["checks"] if c not in ingest],
        os.path.join(build_dir, "oracle"))
    if ingest:
        checks += oracle.check_ingest(inputs, ingest)
    t_gate = time.time()
    failed_checks = [c for c in checks if not c[1]]
    attempted = res["attempted"] + len(checks)
    failed = len(res["errors"]) + len(failed_checks)

    values = res["layers"] if a.trace else end_to_end(res, a.workload)
    metrics = {m["name"]: (values[m["name"]], m["unit"])
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    if a.trace:
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(traces, f"{run_id}.jsonl"))

    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  "
          f"spark {res['versions']['spark']}  java {res['versions']['java']}")
    print("inputs:")
    for t, v in manifest["tables"].items():
        print(f"  {t:40s} rows {v['rows']:>8d}  files {v['files']:>3d}  "
              f"row groups {v['row_groups']:>3d}")
    for k, v in res["facts"].items():
        print(f"  {k:40s} {v}")
    jvm = "  ".join(f"{k} {v:.1f}" for k, v in res["phases_s"].items())
    print("passes (wall / cpu / gc / jit s; W warm-up, T traced): " + ", ".join(
        f"{p['wall_s']:.2f}/{p['cpu_s']:.1f}/{p['gc_s']:.2f}/{p['jit_s']:.1f}"
        + ("W" if 0 < i <= res["warm_up_passes"] else "T" if p["traced"] else "")
        for i, p in enumerate(res["passes"])))
    print(f"run time: generate {t_gen - start:.1f} s, harness {t_jvm - t_gen:.1f} s "
          f"({jvm}), gate {t_gate - t_jvm:.1f} s; host steal {steal:.1%} of vCPU time")
    print("metrics:")
    for k, (v, unit) in metrics.items():
        print(f"  {k:40s} {v:14.6f} {unit}")
    if a.trace:
        lay = res["layers"]
        own = {k[:-len(".eager_s")]: lay[k] + lay[k[:-7] + "plan_s"] + lay[k[:-7] + "exec_s"]
               for k in lay if k.endswith(".eager_s")}
        # every parquet sink of the workloads runs an Enrich plan, and
        # Sources.write_s is the writing part of those Enrich calls
        own["Enrich"] -= lay["Sources.write_s"]
        own.update({"Sources": lay["Sources.write_s"], "GraftSession": lay["GraftSession.sweep_s"]})
        print(f"self time per layer, median traced pass of {lay['trace.pass_s']:.3f} s "
              f"(untraced {lay['trace.untraced_pass_s']:.3f} s, tracing overhead "
              f"{lay['trace.overhead_s']:+.3f} s):")
        for k, v in sorted(own.items(), key=lambda kv: -kv[1]):
            if v > 0:
                print(f"  {k:40s} {v:10.3f} s  {v / lay['trace.pass_s']:6.1%}")
        for c in res["calls"]:
            print(f"  call {c['layer'] + '.' + c['name']:35s} eager {c['eager_s']:.3f}  "
                  f"plan {c['plan_s']:.3f}  exec {c['exec_s']:.3f}  jobs {c['jobs']}  "
                  f"kernels {c['kernel_nodes']}  topk {c['topk_nodes']}")
    print(f"checks: {len(checks) - len(failed_checks)} pass, {len(failed_checks)} fail")
    for name, ok, detail in checks:
        print(f"  {'ok  ' if ok else 'FAIL'} {name:28s} {detail}")
    for e in res["errors"]:
        print(f"  FAIL {e}")
    print(f"verdict: {'correct' if failed == 0 else 'INCORRECT'} "
          f"({failed} of {attempted} operations failed)")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
