#!/usr/bin/env python3
"""graft benchmark: build the engine from source, run one workload, print metrics.

Run from the repository root:

    python3 graftbench/run.py --workload cdc_replicate --seed 1 --seconds 20 --trace 0

Workloads are ``cdc_replicate`` and ``query_mix`` (see graftbench/README.md).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Other modes:

    python3 graftbench/run.py --check              # helper checks
    python3 graftbench/run.py --report --seed 1    # writes graftbench/REPORT.md
    python3 graftbench/run.py --record-reference   # rewrites graftbench/reference.json

Everything built or written goes under ``.bench_build/graftbench`` (or
``$CARGO_TARGET_DIR/graftbench`` when that is set); each run's scratch
directory is removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import signal
import subprocess
import sys

BENCH = pathlib.Path("graftbench")
WORKLOADS = ["cdc_replicate", "query_mix"]
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_root():
    return pathlib.Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve() / "graftbench"


def spark_jars():
    """The jar directory the sbt build compiles against: $SPARK_HOME/jars,
    else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', pathlib.Path("build.sbt").read_text())
    if m and pathlib.Path(m.group(1)).is_dir():
        return pathlib.Path(m.group(1))
    fail("no Spark jar directory: set SPARK_HOME")


def sources(*roots):
    files = sorted(p for r in roots for p in pathlib.Path(r).rglob("*.scala"))
    if not files:
        fail(f"no Scala sources under {', '.join(map(str, roots))}")
    return files


def compile_once(name, srcs, classpath):
    """Compile ``srcs`` with scalac into a directory keyed by their content;
    reuse it when it already exists."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    out = build_root() / f"{name}-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    for old in build_root().glob(f"{name}-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    compiler = [str(next(jars.glob(f"scala-{m}-2.13.*.jar"))) for m in ("compiler", "library", "reflect")]
    args = tmp.parent / f"{name}.args"
    args.write_text("\n".join(["-classpath", classpath, "-d", str(tmp), "-nowarn"]
                              + [str(f) for f in srcs]) + "\n")
    print(f"graftbench: compiling {len(srcs)} files ({name})", file=sys.stderr)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", f"@{args}"])
    if r.returncode != 0:
        fail(f"compilation of {name} failed")
    (tmp / ".ok").touch()
    tmp.rename(out)
    return out


def jar_classpath():
    return ":".join(str(j) for j in sorted(spark_jars().glob("*.jar")))


def build():
    if not pathlib.Path("src/main/scala").is_dir() or not (BENCH / "src").is_dir():
        fail("run from the repository root: src/main/scala and graftbench/src are needed")
    return compile_once("classes", sources("src/main/scala", BENCH / "src"), jar_classpath())


def java_cmd(classes, main, work):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m"]
            + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dspark.hadoop.hadoop.tmp.dir={work}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Dlog4j2.configurationFile={(BENCH / 'log4j2.properties').resolve()}",
               "-cp", f"{classes}:{jar_classpath()}", main])


def run_workload(classes, workload, seed, seconds, trace,
                 check=("--reference", str((BENCH / "reference.json").resolve()))):
    """Run one workload in its own JVM; returns its stdout lines. ``check``
    names the fingerprint reference to compare against (or to record)."""
    root = build_root()
    work = root / "work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log = root / "out" / f"{workload}-seed{seed}-trace{trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = java_cmd(classes, "graft.gbench.Main", work) + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", str(work), "--data", str(root / "data"),
        "--out", str(root / "out"), *check]
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except BaseException as e:
                proc.kill()
                proc.wait()
                if isinstance(e, subprocess.TimeoutExpired):
                    fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s (log: {log})")
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{workload} exited with {proc.returncode} (log: {log})")
    return lines


def summary(workload, seed, trace):
    return json.loads((build_root() / "out" / f"{workload}-seed{seed}-trace{trace}.json").read_text())


def report(classes, seed, seconds):
    """Run every workload untraced, then traced, and write graftbench/REPORT.md."""
    rows = ["# graftbench traced-run report", "",
            f"Seed {seed}, `--seconds {seconds}`, `local[4]`, one client. "
            "Generated by `python3 graftbench/run.py --report`.", ""]
    for w in WORKLOADS:
        run_workload(classes, w, seed, seconds, 0)
        run_workload(classes, w, seed, seconds, 1)
        plain, traced = summary(w, seed, 0), summary(w, seed, 1)
        rows += [f"## {w}", "", f"attempted {traced['attempted']}, failed {traced['failed']} (traced run)", "",
                 "### Tracing overhead (traced − untraced)", "",
                 "| metric | untraced | traced | difference |", "|---|---|---|---|"]
        for k, m in plain["end_to_end"].items():
            t = traced["end_to_end"][k]["value"]
            rows.append(f"| {k} ({m['unit']}) | {m['value']:.4g} | {t:.4g} | {t - m['value']:+.4g} |")
        rows += ["", "### Self time by layer (traced run, whole run)", "", "| layer | self s |", "|---|---|"]
        rows += [f"| {layer} | {s:.3f} |" for layer, s in traced["self_s"].items()]
        rows += ["", "### Per-layer metrics", "", "| metric | value | unit |", "|---|---|---|"]
        rows += [f"| {k} | {m['value']:.4g} | {m['unit']} |" for k, m in traced["per_layer"].items()]
        rows += ["", "### Tails (untraced run)", ""] + [f"- {t}" for t in plain["tails"]] + [""]
    (BENCH / "REPORT.md").write_text("\n".join(rows))
    print(f"wrote {BENCH / 'REPORT.md'}")


def check(classes):
    tests = compile_once("test-classes", sources(BENCH / "test"), f"{classes}:{jar_classpath()}")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{tests}:{classes}:{jar_classpath()}",
                        "graft.gbench.StatsChecks"])
    sys.exit(r.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--check", action="store_true")
    mode.add_argument("--report", action="store_true")
    mode.add_argument("--record-reference", action="store_true")
    a = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so a running JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes = build()
    if a.check:
        check(classes)
    elif a.report:
        report(classes, a.seed, a.seconds)
    elif a.record_reference:
        run_workload(classes, "query_mix", a.seed, 1, 0,
                     ["--record", str((BENCH / "reference.json").resolve())])
        print(f"wrote {BENCH / 'reference.json'}")
    elif a.workload:
        for line in run_workload(classes, a.workload, a.seed, a.seconds, a.trace):
            print(line)
    else:
        ap.error("give --workload, --check, --report or --record-reference")


if __name__ == "__main__":
    main()
