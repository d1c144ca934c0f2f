#!/usr/bin/env python3
"""Pipeline benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale full|smoke]

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into the build directory
($CARGO_TARGET_DIR, else .bench_build), packs the classes into one jar and
records a class-data-sharing archive of the classes a run loads at start;
later runs reuse all three while the sources are unchanged. Each run gets a
private temp root under the build directory (Spark warehouse and local
dirs, stream state, Derby) that is removed when it ends.

The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json untraced (--trace 0) or its
per-layer metrics traced (--trace 1). The line before it is the full
record: host stamp, the workload's own named metrics and every check.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("etl_batch", "cdc_stream", "serve")
# Traced, each workload must report every per-layer metric of BENCHMARK.json
# whose name starts with one of its prefixes, and the run-wide ones; the
# others do not apply to it and print as 0. BENCHMARK.json lists etl_batch
# and cdc_stream; a traced cdc_stream run also runs serve's traced measure
# (Main.Hosted), so it reports serve's layers too.
SERVE_LAYERS = ("io.http.", "ext.retrieval.", "io.csv.", "entry.")
LAYERS = {
    "etl_batch": ("io.csv.", "ops.normalize.", "rules.", "ops.merge.",
                  "io.jdbc."),
    "cdc_stream": ("streaming.", "ops.merge.") + SERVE_LAYERS,
    "serve": SERVE_LAYERS,
}
RUN_WIDE = ("jvm.", "trace.", "run.")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"
ARCHIVE = "perfbench.jsa"  # class-data-sharing archive, next to the jar
YOUNG = "512m"  # fixed young generation: peak RSS then tracks live data
# what SparkSession needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    engine = ROOT / "src" / "main" / "scala"
    files = sorted(p for p in engine.rglob("*.scala"))
    files += sorted(p for p in (HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return files


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else ROOT / d).resolve()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        home = str(Path(exe).resolve().parent.parent) if exe else None
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return Path(home) / "jars"


def ensure_built(bdir, digest):
    """The harness jar, built if the sources changed since the last build."""
    classes = bdir / "sbt-target" / "scala-2.13" / "classes"
    jar = bdir / "perfbench.jar"
    stamp = bdir / "source.sha256"
    if jar.exists() and stamp.exists() and stamp.read_text() == digest:
        return jar
    stamp.unlink(missing_ok=True)
    if not shutil.which("sbt"):
        fail("sbt not found")
    log(f"building into {bdir}")
    env = dict(os.environ, PERFBENCH_BUILD_DIR=str(bdir))
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not classes.is_dir():
        fail("build failed", 3)
    # one jar: a class-data-sharing archive takes classes only from jars
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    train_archive(jar, bdir)
    stamp.write_text(digest)
    return jar


def train_archive(jar, bdir):
    """Record the classes a run loads at start (perfbench.Train) into a
    class-data-sharing archive that every run then maps. Without it runs
    still work, only their JVM starts slower."""
    archive = bdir / ARCHIVE
    archive.unlink(missing_ok=True)
    root = Path(tempfile.mkdtemp(prefix="train-", dir=bdir))
    try:
        code = run_java(jar, root, [f"-XX:ArchiveClassesAtExit={archive}"],
                        ["perfbench.Train", str(root)])
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if code != 0:
        log("class-data-sharing training failed; runs go without it")
        archive.unlink(missing_ok=True)


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_java(jar, root, jvm_flags, main_args):
    """Run one JVM on the harness jar and the Spark jars in `root`, its
    output on stderr; returns the exit code (-1 on timeout)."""
    cp = f"{jar}{os.pathsep}{spark_jars()}/*"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:+UseG1GC", "-Duser.timezone=UTC",
            "-Duser.language=en", "-Duser.country=US",
            f"-Djava.io.tmpdir={root}"] + opens + jvm_flags +
           ["-cp", cp] + main_args)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("JVM timed out; killing it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def run_jvm(jar, args, root, out, trace_out):
    archive = jar.parent / ARCHIVE
    flags = [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []
    return run_java(jar, root, flags, [
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--root", str(root), "--out", str(out),
        "--trace-out", str(trace_out)])


def catalog_checks(out_dir):
    """Each query's parquet output against its DuckDB oracle SQL over the
    same generated tables: columns, row count and every cell."""
    import duckdb
    import pandas as pd

    data = Path((out_dir / "data_dir.txt").read_text())
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data / (t + '.parquet')}/*.parquet')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    checks = []
    for name, sql in sorted(oracle.items()):
        try:
            got = norm(pd.read_parquet(out_dir / name))
            exp = norm(con.sql(sql).df())
            if list(got.columns) != list(exp.columns):
                detail = f"columns {list(got.columns)} != {list(exp.columns)}"
            elif len(got) != len(exp):
                detail = f"rows {len(got)} != {len(exp)}"
            elif len(got) == 0:
                detail = "empty result"
            else:
                bad = [c for c in got.columns
                       if not all(_same(a, b) for a, b in
                                  zip(got[c].tolist(), exp[c].tolist()))]
                detail = f"cells differ in {bad}" if bad else ""
        except Exception as e:  # a failing oracle is a failed check
            detail = f"oracle compare failed: {e}"
        checks.append({"name": f"catalog.{name}.oracle", "ok": not detail,
                       "detail": detail})
    return checks


def _same(a, b):
    if _null(a) and _null(b):
        return True
    a = a.tolist() if hasattr(a, "tolist") else a
    b = b.tolist() if hasattr(b, "tolist") else b
    return a == b


def _null(x):
    return x is None or (isinstance(x, float) and math.isnan(x))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found at the checkout root")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala) not found: run from a checkout")
    spec = json.loads(spec_path.read_text())

    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    digest = source_digest()
    jar = ensure_built(bdir, digest)

    (bdir / "tmp").mkdir(exist_ok=True)
    (bdir / "traces").mkdir(exist_ok=True)
    root = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=bdir / "tmp"))
    try:
        out = root / "record.json"
        trace_out = bdir / "traces" / f"{args.workload}-{args.seed}.json"
        code = run_jvm(jar, args, root, out, trace_out)
        if code != 0 or not out.exists():
            fail(f"benchmark JVM failed (exit {code})", 1)
        rec = json.loads(out.read_text())
        if (root / "catalog_out").is_dir():
            rec["checks"] += catalog_checks(root / "catalog_out")
    finally:
        shutil.rmtree(root, ignore_errors=True)

    rec["stamp"].update(git_commit=git_commit(), source_sha256=digest,
                        heap=HEAP)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = rec["layer"] if args.trace else rec["e2e"]
    applies = LAYERS[args.workload] + RUN_WIDE
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in source:
            value = source[name]
        elif args.trace and not name.startswith(applies):
            value = 0
        else:
            fail(f"workload did not report {name}", 1)
        if value is None:
            fail(f"workload reported no value for {name}", 1)
        metrics[name] = {"value": value, "unit": m["unit"]}
    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    for c in failed_checks:
        log(f"check failed: {c['name']}: {c['detail']}")
    print(json.dumps({"record": rec}, sort_keys=True))
    print(json.dumps({
        "correct": bool(rec["checks"]) and not failed_checks,
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
