#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload crawl_rpc --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine is compiled from `src/` (plus
the test-scope JSON-RPC stub and this directory's Scala harness) with the
Scala compiler that ships in Spark's jars, into `$CARGO_TARGET_DIR`
(default `.bench_build`); a source hash skips unchanged rebuilds. The
harness JVM runs the workload and prints raw observations; this script
applies the output gates and derives the metrics named in
BENCHMARK.json: the end-to-end set with `--trace 0`, the per-layer set
(listeners and Spark job spans on) with `--trace 1`. Each run's raw
observations are kept as `raw/<workload>-seed<seed>-trace<0|1>.json`
under the build directory.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # a run writes only under the build directory
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402

WORKLOADS = ("crawl_rpc", "tail_rpc", "queries")
STUB_SOURCE = "src/test/scala/graft/rpc/StubRpcServer.scala"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt compiles against (Spark ships the Scala compiler)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return os.path.join(m.group(1), "*")


def sources(root):
    files = sorted((root / "src/main/scala").rglob("*.scala"))
    files.append(root / STUB_SOURCE)
    files += sorted((HERE / "scala").rglob("*.scala"))
    return files


def build(root, build_dir):
    """Compile the engine and harness unless the sources are unchanged."""
    files = sources(root)
    resources = sorted(p for p in (root / "src/main/resources").rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files + resources:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = build_dir / "classes"
    stamp_file = build_dir / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    log = build_dir / "compile.log"
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", spark_jars(root),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", spark_jars(root), "-d", str(classes),
             "@" + str(argfile)],
            stdout=out, stderr=subprocess.STDOUT, cwd=root)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit("perfbench: compile failed (log: %s)" % log)
    for r in resources:
        dst = classes / r.relative_to(root / "src/main/resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    stamp_file.write_text(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    bench = json.loads((root / "BENCHMARK.json").read_text())
    for need in ("src/main/scala", STUB_SOURCE, "build.sbt"):
        if not (root / need).exists():
            raise SystemExit("perfbench: %s not found; run from the repository root" % need)
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not build_dir.is_absolute():
        build_dir = root / build_dir
    build_dir.mkdir(parents=True, exist_ok=True)
    classes = build(root, build_dir)

    work = build_dir / "work" / ("%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cp = "%s:%s" % (classes, spark_jars(root))
    # everything the JVMs write stays under the work directory: no
    # /tmp perf-data files, Spark scratch and temp files under `work`
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Djava.io.tmpdir=%s" % (work / "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--data", str(HERE / "data" / "sf0.01"), "--classpath", cp]
    log = build_dir / ("%s.stderr.log" % args.workload)
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=root, env=env,
                                    text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("perfbench: run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log))
        lines = [l for l in stdout.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(log.read_text()[-4000:])
            raise SystemExit("perfbench: harness exited %d without a result" % proc.returncode)
        raw = json.loads(lines[-1])
        kept = build_dir / "raw"
        kept.mkdir(exist_ok=True)
        (kept / ("%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace))).write_text(
            lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = json.loads((HERE / "expected" / "queries_sf0.01.json").read_text())
    result, failures = benchlib.result_line(bench, args.workload, raw, args.trace == 1, expected)
    for i, why in failures:
        sys.stderr.write("perfbench: check failed (op %d): %s\n" % (i, why))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
