#!/usr/bin/env python3
"""The engine's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine together with the
benchmark driver (sbt, cached by a hash of the sources), generates the
workload's inputs from the seed (cached per seed and size under
.bench_build/inputs), runs one JVM that sets up, warms up and times
passes, checks the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The full record of the run (failure reasons, environment, spans)
goes to .bench_build/results/. The exit code is 0 only for a correct run.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
ENGINE_SOURCES = [ROOT / "src" / "main"]
BENCH_SOURCES = [HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
# A run must end within 180 s; the first run of a checkout may build first.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def wait(proc, deadline, what):
    """Output of `proc` once it exits with code 0; on a non-zero exit or at
    the deadline (its whole process group killed) the run fails."""
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} exceeded its time limit")
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"{what} exited with code {proc.returncode}")
    return out


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if top.is_file() else sorted(p for p in top.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; return the runtime classpath."""
    stamp = tree_hash(ENGINE_SOURCES + BENCH_SOURCES)
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists():
        saved_stamp, cp = cp_file.read_text().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    t0 = time.time()
    out = wait(subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True), t0 + BUILD_LIMIT_S, "build")
    lines = out.strip().splitlines()
    if not lines:
        fail("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(stamp + "\n" + cp)
    print(f"built in {time.time() - t0:.1f} s")
    return cp


def inputs(workload, seed):
    """Generated input dir for (workload, seed) at the current sizes, made once."""
    size = gen.SIZES[workload]
    tag = f"s{seed}"
    key = hashlib.sha256(json.dumps(size, sort_keys=True).encode() +
                         (HERE / "gen.py").read_bytes()).hexdigest()[:10]
    out = BUILD / "inputs" / f"{workload}-{tag}-{key}"
    if (out / "truth.json").exists():
        return out, 0.0
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    gen.generate(workload, seed, str(tmp), size)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, time.time() - t0


def check_oracle(input_dir, out_dir):
    """Run the registry's DuckDB oracle over the dumped results; return the
    failing query names with their reasons."""
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(str(input_dir), str(out_dir))
    bad = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL") or line.startswith("OK~"):
            name, _, why = line.split(None, 1)[1].partition(":")
            bad[name] = line.split(None, 1)[0] + why
    return bad


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def run_jvm(cp, args, in_dir, work, artifact, deadline):
    cmd = [java(), *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--input", str(in_dir),
           "--work", str(work), "--artifact", str(artifact)]
    (work / "tmp").mkdir(parents=True)
    out = wait(subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True),
               deadline, "benchmark JVM")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: the engine sources (src/main/scala) are missing")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}

    BUILD.mkdir(exist_ok=True)
    cp = build()
    if time.time() - start > 20:  # the build took the run's time: time from now on
        start = time.time()
    in_dir, gen_s = inputs(args.workload, args.seed)
    print(f"inputs {in_dir.name}: " + (f"generated in {gen_s:.2f} s" if gen_s else "cached"))

    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    artifact = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    try:
        res = run_jvm(cp, args, in_dir, work, artifact, start + RUN_LIMIT_S)
        if args.workload == "query_mix":
            ran = sorted(json.loads((work / "after" / "oracle_sql.json").read_text()))
            listed = json.loads((HERE / "spec.json").read_text())["workloads"]["query_mix"]["queries"]
            if ran != sorted(listed):
                fail(f"query_mix ran {ran}, spec.json lists {sorted(listed)}")
            bad = check_oracle(in_dir, work / "after")
            passes = (len(res["env"]["warmup_seconds"]) + res["env"]["passes"] +
                      res["env"]["traced_passes"])
            res["failed"] += len(bad) * passes
            res["failures"] += [f"{n}: oracle {why.strip()}" for n, why in sorted(bad.items())]
            res["correct"] = res["failed"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["env"]["generation_s"] = gen_s
    full = json.loads(artifact.read_text())
    full.update(res)
    artifact.write_text(json.dumps(full, indent=1))

    got = {name: m["unit"] for name, m in res["metrics"].items()}
    if got != want:
        fail(f"metrics {sorted(set(got.items()) ^ set(want.items()))} differ from BENCHMARK.json")
    env = res["env"]
    print(f"env: {env['master']} nproc={env['nproc']} parallelism={env['default_parallelism']} "
          f"shuffle_partitions={env['shuffle_partitions']} heap={env['heap_max_mb']:.0f}MB "
          f"spark={env['spark_version']} jdk={env['jdk_version']} seed={args.seed} "
          f"rows={env['input_rows']:.0f} passes={env['passes']}+{env['traced_passes']}")
    for f in res["failures"]:
        print(f"failure: {f}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
