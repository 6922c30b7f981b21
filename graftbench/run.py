#!/usr/bin/env python3
"""graft's benchmark: one workload, one JVM, whole timed passes.

    python3 graftbench/run.py --workload <sql|cdr> --seed <n> \
        --seconds <s> --trace <0|1> [--smoke]

Run from the root of a graft checkout. The first run builds graft and
the benchmark driver with sbt (graftbench/build.sbt); later runs reuse
the build while the sources are unchanged. Set-up (input generation,
the DuckDB oracle, Spark session start and two warm-up passes) is timed
as `setup_s`; then whole passes of the workload's op mix run for
`--seconds`, at least one. The last stdout line is one JSON
object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json, or with `--trace 1` its per-layer
metrics, taken with Spark listeners attached. `--smoke` runs every op
and check once at toy scale. Run artifacts (result detail, spans, JVM
log) go to graftbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

# Inputs are fixed by these seeds; --seed picks the op order (sql) and
# the record count (cdr).
DATA_SEED = 20260101
SCALE = {
    "sql": {"sf": 0.01},
    "cdr": {"records": 100_000},
}
SMOKE_SCALE = {
    "sql": {"sf": 0.001},
    "cdr": {"records": 10_000},
}
# A fixed heap (-Xms = -Xmx) and young generation (-Xmn): G1 resizes
# neither, so peak RSS counts the fixed young generation, the old
# generation's peak and off-heap memory. The heap is not pre-touched.
# Left to adaptive young sizing, peak RSS of `sql` read 2208 to 2600 MB
# over five runs.
HEAP, YOUNG = "2g", "512m"
JVM_BUDGET_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose jars/ the build compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("graftbench: set SPARK_HOME to a Spark distribution (the build uses its jars/)")


def build():
    """Compile graft + the driver once per source state; returns the classpath."""
    stamp = os.path.join(TARGET, "graftbench-build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["digest"] == digest:
            return built["classpath"]
    log("building graft and the benchmark driver (sbt)")
    # offline: every dependency comes from the local caches
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    env["SPARK_HOME"] = spark_home()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.log"), "w") as blog:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=blog, text=True)
        blog.write(p.stdout)
    if p.returncode != 0:
        sys.exit(f"graftbench: build failed, see {os.path.join(OUT, 'build.log')}")
    classpath = p.stdout.strip().splitlines()[-1]
    oracle_sql = os.path.join(TARGET, "oracle_sql.json")
    subprocess.run(java_cmd(classpath, os.path.join(TARGET, "tmp"))
                   + ["graft.bench.Main", "oracle-sql", oracle_sql], check=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def java_cmd(classpath, tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    extra = os.environ.get("SPARK_GRAFT_JVM_OPTS", "").split()
    return (["java"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UseDynamicNumberOfCompilerThreads",
                                "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
                                "-Dspark.ui.enabled=false"] + extra + ["-cp", classpath])


def prepare_inputs(workload, scale, work, args):
    """Input generation (timed as set-up). Returns the JVM's extra arguments."""
    import datagen
    data = os.path.join(work, "data")
    os.makedirs(data)
    if workload == "sql":
        import oracle
        datagen.relational(data, scale["sf"], DATA_SEED)
        with open(os.path.join(TARGET, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        expected = os.path.join(work, "expected.json")
        with open(expected, "w") as f:
            json.dump(oracle.expected_hashes(data, oracle_sql), f)
        return ["--data", data, "--expected", expected]
    # cdr: the JVM writes the corpus itself through graft's generator;
    # the seed moves the record count, so the expected counts move too
    records = scale["records"] + (args.seed % 100) * 7
    return ["--records", str(records)]


def metric_names(kind):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="toy scale")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        sys.exit("graftbench: graft's sources (src/main/scala/graft) are not next to the benchmark")
    kind = "per_layer" if args.trace else "end_to_end"
    names = metric_names(kind)

    classpath = build()
    t0 = time.time()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    work = os.path.join(OUT, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    scale = (SMOKE_SCALE if args.smoke else SCALE)[args.workload]
    extra = prepare_inputs(args.workload, scale, work, args)
    result_path = os.path.join(OUT, f"{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = java_cmd(classpath, os.path.join(work, "tmp")) + [
        "graft.bench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--t0", str(int(t0 * 1000)),
        "--work", work, "--out", result_path, "--spans", os.path.join(OUT, f"{tag}.spans.json"),
    ] + extra
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    jvm_log = os.path.join(OUT, f"{tag}.log")
    with open(jvm_log, "w") as jl:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, JVM_BUDGET_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"graftbench: JVM exceeded its time budget, see {jvm_log}")
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result_path):
        sys.exit(f"graftbench: JVM failed (exit {rc}), see {jvm_log}")
    with open(result_path) as f:
        res = json.load(f)

    got = res[kind]
    metrics = {}
    for name, unit in names.items():
        if name in got:
            metrics[name] = {"value": got[name], "unit": unit}
        elif name.startswith("op."):  # an op of another workload
            metrics[name] = {"value": 0.0, "unit": unit}
        else:
            sys.exit(f"graftbench: the JVM reported no {name}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
