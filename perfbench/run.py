#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload session --seed 1 --seconds 10 --trace 0

Workloads: session, corpus, analytic (see BENCHMARK.json and
perfbench/METRICS.md). The runner builds the engine and the benchmark
package from source when they changed (sbt, offline), runs one JVM
directly (no `sbt run`, so nothing prefixes the output), checks the
outputs, and prints a readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end set, with --trace 1 the
per-layer set. A traced run also prints its tracing overhead: traced
minus untraced end-to-end values, against the untraced run of the same
workload and seed on the same sources, when there was one. Everything
the run writes stays under `.perfbench/` at the repository root; the
per-run work directory is removed at the end and traced runs keep their
spans in `.perfbench/trace/`.

`python3 perfbench/run.py --self-test` runs the checks' self-test.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
WORKLOADS = ("session", "corpus", "analytic")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def source_digest():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*")
                                               if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, limit_s, log, env=None, cwd=None):
    """Run `cmd` in its own process group; kill the group at the limit
    and wait for it. Returns the exit code (None on timeout)."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def build(limit_s, digest):
    """Compile engine + benchmark when any source changed; returns the
    runtime classpath."""
    stamp, cp_file = STATE / "build" / "stamp", STATE / "build" / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    (STATE / "build").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = STATE / "build" / "sbt.log"
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], limit_s, log, env=env, cwd=HERE)
    if code != 0:
        die(f"build failed (exit {code}):\n{tail(log)}", 3)
    lines = [l for l in log.read_text().splitlines() if "scala-2.13/classes" in l and ":" in l]
    if not lines:
        die(f"build printed no classpath:\n{tail(log)}", 3)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def jvm(cp, workload, seed, seconds, trace, work, limit_s):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cpus = str(min(4, os.cpu_count() or 1))
    flags = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *flags, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
           "--out", str(work / "result.json")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    env.pop("SPARK_GRAFT_PREFER_SMJ", None)
    env.pop("SPARK_GRAFT_SHJ_LOCAL_MAP", None)
    log = work / "jvm.log"
    code = run_bounded(cmd, limit_s, log, env=env, cwd=work)
    if code != 0:
        die(f"{workload} run failed (exit {code}):\n{tail(log)}", 4)
    return json.loads((work / "result.json").read_text())


def tracing_overhead(workload, seed, digest, trace, metrics, end_to_end, units):
    """Report lines: traced minus untraced end-to-end values. An
    untraced run stores its values under (workload, seed); a traced run
    compares against them only when they came from the same sources."""
    base_file = STATE / "untraced" / f"{workload}-{seed}.json"
    if not trace:
        base_file.parent.mkdir(parents=True, exist_ok=True)
        base_file.write_text(json.dumps({"digest": digest,
                                         "metrics": {m: metrics[m] for m in end_to_end}}))
        return []
    base = json.loads(base_file.read_text()) if base_file.exists() else {}
    if base.get("digest") != digest:
        return [f"tracing overhead: unmeasured (no untraced run of {workload} seed {seed} "
                "on these sources)"]
    lines = []
    for m in end_to_end:
        t, u = metrics[m], base["metrics"][m]
        lines.append(f"tracing overhead {m}: traced {t:.6g} - untraced {u:.6g} = "
                     f"{t - u:+.4g} {units[m]} ({(t - u) / u:+.1%})")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala)")
    if not a.self_test and not a.workload:
        die("--workload is required")
    sp = spec()
    end_to_end = [m["name"] for m in sp["end_to_end"]]
    per_layer = [m["name"] for m in sp["per_layer"]]
    units = {m["name"]: m["unit"] for m in sp["end_to_end"] + sp["per_layer"]}

    fresh_build = not (STATE / "build" / "stamp").exists()
    digest = source_digest()
    cp = build(BUILD_LIMIT_S, digest)
    limit = (BUILD_LIMIT_S + RUN_LIMIT_S if fresh_build else RUN_LIMIT_S) - (time.monotonic() - t_start)

    if a.self_test:
        work = STATE / f"work-selftest-{os.getpid()}"
        try:
            res = jvm(cp, "selftest", 1, 1, 0, work, limit)
            import checks
            py_fail = checks.self_test()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for n in res["notes"]:
            print(n)
        bad = res["failures"] + py_fail
        for f in bad:
            print("SELF-TEST FAILED:", f)
        print("self-test:", "ok" if not bad else f"{len(bad)} failed")
        sys.exit(1 if bad else 0)

    work = STATE / f"work-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t_jvm = time.monotonic()
        res = jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, limit)
        t_checks = time.monotonic()
        failures = list(res["failures"])
        attempted, failed = int(res["attempted"]), int(res["failed"])
        metrics = dict(res["metrics"])
        extra_attempted, extra_failures = 0, []
        if a.workload in ("corpus", "analytic"):  # checked against DuckDB
            import checks
            extra_attempted, extra_failures = checks.run(a.workload, work)
        attempted += extra_attempted
        failed += len(extra_failures)
        failures += extra_failures
        res["notes"] += [f"wall: jvm {t_checks - t_jvm:.1f} s, "
                         f"checks outside the jvm {time.monotonic() - t_checks:.1f} s"]
        if a.trace:
            (STATE / "trace").mkdir(parents=True, exist_ok=True)
            spans = work / "spans.jsonl"
            if spans.exists():
                shutil.copy(spans, STATE / "trace" / f"{a.workload}-{a.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for n in res["notes"]:
        print(n)
    for f in failures:
        print("FAILED:", f)
    for k in sorted(metrics):
        print(f"{k} = {metrics[k]:.6g} {units.get(k, '')}")
    missing = [m for m in end_to_end if metrics.get(m) is None]
    if missing:
        die(f"end-to-end metrics not produced: {missing}", 5)
    for line in tracing_overhead(a.workload, a.seed, digest, a.trace, metrics, end_to_end, units):
        print(line)
    if a.trace:
        # per-layer metrics of layers this workload never calls read 0
        idle = [m for m in per_layer if metrics.get(m) is None]
        print(f"not measured on {a.workload} (reported as 0): {', '.join(idle)}")
        metrics.update({m: 0.0 for m in idle})
    wanted = per_layer if a.trace else end_to_end
    out = {m: {"value": metrics[m], "unit": units[m]} for m in wanted}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
