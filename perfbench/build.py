"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark (perfbench/src, perfbench/test) with the Scala
compiler that ships in Spark's jars directory. No sbt, no network.

Outputs go under <build dir> as class directories keyed by a hash of
the sources, so an unchanged tree is compiled once per checkout.

    python3 perfbench/build.py            # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


def build_dir() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not base.is_absolute():
        base = ROOT / base
    return base / "perfbench"


def spark_jars() -> Path:
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt's
    `unmanagedBase` names (the jars the sbt build compiles against).
    """
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m is None:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
    return Path(m.group(1))


def scala_compiler(jars: Path) -> Path:
    compiler = next(iter(sorted(jars.glob("scala-compiler-*.jar"))), None)
    if compiler is None:
        raise SystemExit(f"perfbench: no Scala compiler under {jars} (set SPARK_HOME)")
    return compiler


def sources(*dirs: Path) -> list:
    out = []
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"perfbench: source directory {d} is missing")
        out += sorted(p for p in d.rglob("*.scala") if p.is_file())
    if not out:
        raise SystemExit("perfbench: no sources to compile")
    return out


def digest(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()[:20]


def compile_to(files: list, classpath: list, out: Path, jars: Path) -> None:
    """Compile `files` into the class directory `out` unless it is
    already there.
    """
    if out.is_dir():
        return
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    # -usejavacp puts Spark's jars on the compile classpath
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-encoding", "UTF-8", "-nowarn", "-d", str(tmp)]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(str(c) for c in classpath)]
    cmd.append("@" + str(argfile))
    print(f"perfbench: compiling {len(files)} files into {out.name}", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    # renamed only when complete: an interrupted build leaves no `out`
    tmp.rename(out)


def prune(base: Path, prefix: str, keep: Path) -> None:
    for p in base.glob(prefix + "*"):
        if p != keep:
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
            else:
                p.unlink()


def build() -> list:
    """Compile what changed; return the run classpath (list of paths)."""
    jars = spark_jars()
    base = build_dir()
    base.mkdir(parents=True, exist_ok=True)
    main_src = sources(ROOT / "src" / "main" / "scala")
    main_key = digest(main_src, scala_compiler(jars).name)
    main_out = base / f"main-{main_key}"
    compile_to(main_src, [], main_out, jars)
    prune(base, "main-", main_out)
    bench_src = sources(HERE / "src", HERE / "test")
    bench_out = base / f"bench-{digest(bench_src, main_key)}"
    compile_to(bench_src, [main_out], bench_out, jars)
    prune(base, "bench-", bench_out)
    return [bench_out, main_out, jars / "*"]


if __name__ == "__main__":
    print(os.pathsep.join(str(p) for p in build()))
