#!/usr/bin/env python3
"""Run one workload of the graft benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness from source with sbt; the build is cached under perfbench/.build and
redone whenever a source or build file changes. Each run then starts one JVM,
forwards its log to stderr and prints the result JSON as the last line of
stdout. Scratch files stay under perfbench/.work and are removed at exit;
traced runs leave their spans under perfbench/out.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
CATALOG = os.path.join(ROOT, "BENCHMARK.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """The engine's and the harness's sources and build definitions."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Builds if the sources changed; returns the runtime classpath and the
    engine's JVM flags."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not next to perfbench/")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    out_file = os.path.join(BUILD_DIR, "build.json")
    stamp = fingerprint()
    if os.path.isfile(out_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(out_file) as fh2:
                    built = json.load(fh2)
                return built["classpath"], built["jvm_options"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath", "perfbench/printJavaOptions"]
    try:
        res = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in res.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[")
               and all(os.path.exists(p) for p in l.split(os.pathsep))), None)
    jvm_options = [l[len("jvm-option "):] for l in lines if l.startswith("jvm-option ")]
    if res.returncode != 0 or cp is None or not jvm_options:
        sys.stderr.write(res.stdout)
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(out_file, "w") as fh:
        json.dump({"classpath": cp, "jvm_options": jvm_options}, fh)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, jvm_options


def result_line(raw, catalog):
    """The JVM's verdict and values, with every metric of `catalog` and its
    unit; metrics the run did not measure read 0."""
    values = raw.pop("values")
    unknown = sorted(set(values) - {m["name"] for m in catalog})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {', '.join(unknown)}")
    raw["metrics"] = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                      for m in catalog}
    return raw


def main():
    if not os.path.isfile(CATALOG):
        fail("BENCHMARK.json is not next to perfbench/")
    with open(CATALOG) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, jvm_options = build()
    java = shutil.which("java") or fail("java not found")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the heap flag comes last: the JVM takes the last -Xmx it is given
    cmd = [java] + jvm_options + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data", "sf0.1"),
            "--work", work, "--out", os.path.join(HERE, "out")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"run failed with exit code {proc.returncode}")
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    catalog = bench["per_layer" if args.trace else "end_to_end"]
    print(json.dumps(result_line(json.loads(lines[-1]), catalog)))


if __name__ == "__main__":
    main()
