"""User-path benchmark of replibytespark: `dump create -i` -> `dump restore`
and `corpus run`, end to end and layer by layer.

    python3 perfbench/run.py --workload dump-full --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --selftest

Builds the program from source on first use (see build.py), generates
the workload's inputs from --seed (cached), then runs one JVM that
drives graft.Cli in process. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero when an
operation or an output check failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ["dump-full", "dump-subset", "dump-escapes", "corpus"]
# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
# a fixed-size heap: the peak resident set then varies with the
# program's own footprint, not with how far the collector grew the heap
HEAP = "1536m"
# seconds one operation may take before it counts as failed; the corpus
# chain runs for minutes before it fails today
CAP = {"dump-full": 120, "dump-subset": 120, "dump-escapes": 120, "corpus": 360}


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(classpath, main, args, timeout):
    """Run one benchmark JVM; return (exit code, stdout lines)."""
    base = build.build_dir()
    tmp = base / "work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # JVM warnings go to stderr: stdout carries only the result line
    cmd = (["java", "-Xlog:all=warning:stderr"] + [f"--add-opens={o}=ALL-UNNAMED" for o in OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", os.pathsep.join(str(p) for p in classpath), main] + args)
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=str(tmp))
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env, timeout=timeout,
                           stderr=sys.stderr, cwd=build.ROOT)
        code, out = r.returncode, r.stdout
    except subprocess.TimeoutExpired as e:  # the child is killed and reaped
        print(f"perfbench: JVM exceeded {timeout}s and was stopped", file=sys.stderr)
        code, out = 124, (e.stdout or b"").decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
    finally:
        shutil.rmtree(base / "work", ignore_errors=True)
    return code, [l for l in out.splitlines() if l.strip()]


def run_args(workload, a):
    return ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", str(build.ROOT), "--build", str(build.build_dir()),
            "--cap", str(CAP[workload])]


def run_one(classpath, workload, a):
    # dump runs must end within 180 s; the corpus run is given its cap
    timeout = 175 if workload != "corpus" else CAP[workload] + 150
    code, lines = jvm(classpath, "perfbench.PerfBench", run_args(workload, a), timeout)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return code, result


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")
    if not (build.ROOT / "src" / "main" / "scala").is_dir():
        print(f"perfbench: {build.ROOT} holds no program sources (src/main/scala)", file=sys.stderr)
        return 2
    classpath = build.build()
    if a.selftest:
        code, lines = jvm(classpath, "perfbench.SelfTest", ["--root", str(build.ROOT),
                                                            "--build", str(build.build_dir())], 900)
        print("\n".join(lines))
        return code
    if a.workload != "all":
        code, result = run_one(classpath, a.workload, a)
        if result is None:
            print("perfbench: no result from the benchmark JVM", file=sys.stderr)
            return code or 1
        print(json.dumps(result))
        return code
    return run_all(classpath, a)


# end-to-end metrics each workload reports when it succeeds
DUMP_E2E = ["setup_s", "create_rows_per_s", "restore_rows_per_s", "roundtrip_s",
            "stored_bytes_per_source_byte", "peak_rss_mb"]
E2E = {"dump-full": DUMP_E2E, "dump-subset": DUMP_E2E, "dump-escapes": DUMP_E2E,
       "corpus": ["setup_s", "corpus_docs_per_s", "peak_rss_mb"]}


def run_all(classpath, a):
    """Every workload in turn: a table of every end-to-end metric (or,
    traced, every per-layer one) on stderr, a failed workload's missing
    ones marked; one merged JSON line on stdout; exit 1 if anything
    failed.
    """
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rows = []
    worst = 0
    for w in WORKLOADS:
        code, result = run_one(classpath, w, a)
        worst = worst or code
        result = result or {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        merged["correct"] = merged["correct"] and result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        ms = dict(result["metrics"])
        ms["failed_frac"] = {"value": result["failed"] / max(1, result["attempted"]), "unit": "ratio"}
        for k in (list(ms) if a.trace else E2E[w] + ["failed_frac"]):
            if k in ms:
                merged["metrics"][f"{w}/{k}"] = ms[k]
                rows.append((w, k, f"{ms[k]['value']:.6g}", ms[k]["unit"]))
            else:
                rows.append((w, k, "not measured", "(failed)"))
    for w, k, v, u in rows:
        print(f"{w:12s} {k:32s} {v:>14s} {u}", file=sys.stderr)
    print(json.dumps(merged))
    return 0 if merged["correct"] and not worst else 1


if __name__ == "__main__":
    sys.exit(main())
