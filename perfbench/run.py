#!/usr/bin/env python3
"""Benchmark of the graft engine: builds it from source, runs one
workload in one JVM, checks the workload's outputs and prints one JSON
result line as the last line of stdout.

    python3 perfbench/run.py --workload batch --seed 7 --seconds 12 --trace 0

Run it from the repository root. The first run compiles
`src/main/scala` and `perfbench/src` with the Scala compiler from the
Spark jar directory (`$SPARK_HOME/jars`, else the `unmanagedBase` that
build.sbt names) into `$CARGO_TARGET_DIR` (default `.bench_build`);
later runs reuse that build while the sources are unchanged. Every
file a run writes stays under that directory.

`--trace 1` measures four half-windows, untraced / traced / traced /
untraced, with the tracer's listeners registered in the traced ones,
and prints the per-layer metrics instead of the end-to-end ones. Spans
go to `<build>/traces/<workload>-seed<seed>.jsonl`.

`--survey` times every registered query on the batch
tables (`perfbench/tables`) instead (see Survey.scala); `baskets.json`
was chosen from it.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
WORKLOADS = ("stream_live", "batch")
RUN_LIMIT_S = 170      # a run must end within 180 s ...
BUILD_LIMIT_S = 880    # ... or 900 s when it also builds
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jar directory the engine compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BenchError("no Spark jar directory: set SPARK_HOME")


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not main:
        raise BenchError("no engine sources under src/main/scala")
    if not bench:
        raise BenchError("no benchmark sources under perfbench/src")
    return main, bench


def scalac(jars: Path, classpath: str, out: Path, files) -> None:
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    proc = subprocess.run(cmd + ["@" + str(argfile)], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError(f"compilation into {out} failed")


def build(jars: Path) -> bool:
    """Compile engine and benchmark unless the stamp matches; True if built."""
    main, bench = sources()
    digest = hashlib.sha256()
    for f in main + bench:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "stamp"
    classes, bench_classes = BUILD / "classes", BUILD / "bench-classes"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and bench_classes.is_dir():
        return False
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    for d in (classes, bench_classes):
        shutil.rmtree(d, ignore_errors=True)
    scalac(jars, "", classes, main)
    scalac(jars, str(classes), bench_classes, bench)
    stamp.write_text(digest.hexdigest())
    return True


def java_cmd(jars: Path, work: Path, main_class: str, args) -> list:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([str(BUILD / "bench-classes"), str(BUILD / "classes"), str(jars / "*")])
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m"] + opens +
            [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main_class] + [str(a) for a in args])


def run_jvm(cmd, log: Path, deadline: float) -> list:
    """Run one JVM to completion; its stdout lines, or BenchError. The
    JVM is killed and reaped if this process stops waiting for it."""
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM timed out; log in {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.communicate()
    if proc.returncode != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise BenchError(f"JVM exited with {proc.returncode}; log in {log}\n{tail}")
    return out.splitlines()


def tagged(lines, tag):
    return [l[len(tag) + 1:] for l in lines if l.startswith(tag + " ")]


def declared(trace: int) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_workload(jars: Path, a, deadline: float) -> dict:
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
                "--trace", a.trace, "--work", work, "--bench-dir", BENCH, "--out", BUILD / "traces"]
        lines = run_jvm(java_cmd(jars, work, "graft.perfbench.Main", args),
                        BUILD / "logs" / f"{a.workload}-{a.seed}.log", deadline)
        results = tagged(lines, "RESULT")
        if not results:
            raise BenchError("the workload printed no result")
        result = json.loads(results[-1])
        for line in tagged(lines, "INFO"):
            print(line)
        values, units = result["metrics"], declared(a.trace)
        if set(values) - set(units):
            raise BenchError(f"metrics missing from BENCHMARK.json: {sorted(set(values) - set(units))}")
        if not a.trace and set(units) - set(values):
            raise BenchError(f"metrics not reported: {sorted(set(units) - set(values))}")
        # a layer the workload does not exercise reads 0
        result["metrics"] = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}
        samples = json.loads((tagged(lines, "SAMPLES") or ["{}"])[-1])
        for n, m in result["metrics"].items():
            print(f"{n:40s} {m['value']:>14.4f} {m['unit']:6s} n={samples.get(n, '-')}")
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--survey", action="store_true")
    a = p.parse_args()
    if not a.survey and not a.workload:
        p.error("--workload is required")
    # on SIGTERM unwind normally, so a running compiler or JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    try:
        jars = spark_jars()
        built = build(jars)
        deadline = t0 + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
        if a.survey:
            work = BUILD / "work" / f"survey-{os.getpid()}"
            shutil.rmtree(work, ignore_errors=True)
            try:
                args = ["--work", work, "--bench-dir", BENCH]
                lines = run_jvm(java_cmd(jars, work, "graft.perfbench.Survey", args),
                                BUILD / "logs" / "survey.log", time.monotonic() + 7200)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            for line in tagged(lines, "SURVEY"):
                print(line)
            return 0
        result = run_workload(jars, a, deadline)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
