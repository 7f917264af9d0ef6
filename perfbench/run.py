#!/usr/bin/env python3
"""Benchmark of the graft sinks and queries.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles `src/main/scala`
and `perfbench/src` with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, else the pyspark package's jars) into
`.bench_build/`. Each run then generates its input tables from the seed
into a fresh directory under `.bench_work/`, runs one JVM at local[N]
(N = usable CPUs), checks the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. The end-to-end metrics
are printed with `--trace 0`, the per-layer metrics with `--trace 1`;
the names and units come from BENCHMARK.json. The line before it
labels the reading (CPUs, load average, heap, commit). The exit code is
not 0 when a check fails or the program cannot be built.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
HEAP = "3g"
JVM_DEADLINE_S = 160  # after any build; a run must end within 180 s

# tables, their scale factor (1.0 ~ 6 M lineitem rows) and the number
# of timed set-ups (query_mix: one cold and one warm artifact build)
WORKLOADS = {
    "parity_ingest": ("lineitem", 0.02, 3),
    "stream_ingest": ("lineitem", 0.02, 3),
    "query_mix": ("all", 0.004, 2),
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
    except ImportError:
        fail("no Spark jars: set SPARK_HOME or install pyspark")
    return Path(pyspark.__file__).parent / "jars"


def sources(base):
    return sorted(Path(p) for p in glob.glob(str(base / "**" / "*.scala"), recursive=True))


def fingerprint(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def java_cmd(classpath, heap, extra=()):
    return (["java", "-XX:-UsePerfData", f"-Xmx{heap}", *extra]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", "-cp", classpath])


def compile_jar(srcs, classpath, jar, jars):
    """scalac, then the classes into `jar` (a class-data archive can
    only hold classes that come from jars)."""
    if jar.exists():
        return
    tmp = jar.with_suffix(".classes")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(p) for name in ("scala-compiler", "scala-library", "scala-reflect")
                for p in jars.glob(f"{name}-2.13*.jar")]
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", str(cpus()),
           "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compile failed: {jar.name}")
    staged = jar.with_suffix(".tmp")
    with zipfile.ZipFile(staged, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    staged.rename(jar)


def train(classpath, archive):
    """Record the classes a run loads into a class-data archive, from
    one short pass of every workload on small tables, so that each
    measured JVM starts without re-parsing and verifying them."""
    if archive.exists():
        return
    data, out = BUILD / "train-data", BUILD / "train-out"
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    sys.path.insert(0, str(HERE))
    import datagen
    datagen.write_all(str(data), 0, 0.002)
    staged = archive.with_suffix(".tmp")
    cmd = java_cmd(classpath, HEAP, [f"-XX:ArchiveClassesAtExit={staged}"]) + [
        f"-Djava.io.tmpdir={out}", "perfbench.Main", "--workload", "train",
        "--data", str(data), "--out", str(out), "--seconds", "0", "--trace", "0",
        "--setups", "1", "--cpus", str(cpus())]
    r = subprocess.run(cmd, capture_output=True, text=True)
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    if r.returncode != 0 or not staged.exists():
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("class-data training run failed")
    staged.rename(archive)


def build(jars):
    """Compile the program and the benchmark and train the class-data
    archive, once per source tree. Returns (tree fingerprint,
    classpath, archive)."""
    main_src = sources(ROOT / "src" / "main" / "scala")
    if not main_src:
        fail("no src/main/scala here: run from the repository root")
    bench_src = sources(HERE / "src") + [HERE / "log4j2.properties", HERE / "datagen.py"]
    listing = ",".join(sorted(p.name for p in jars.glob("*.jar")))
    main_fp = fingerprint(main_src, listing)
    bench_fp = fingerprint(bench_src, main_fp)
    main_jar = BUILD / f"main-{main_fp}.jar"
    bench_jar = BUILD / f"bench-{bench_fp}.jar"
    archive = BUILD / f"classes-{bench_fp}.jsa"
    BUILD.mkdir(exist_ok=True)
    for stale in BUILD.iterdir():
        if stale not in (main_jar, bench_jar, archive):
            shutil.rmtree(stale, ignore_errors=True) if stale.is_dir() else stale.unlink()
    compile_jar(main_src, f"{jars}/*", main_jar, jars)
    compile_jar([s for s in bench_src if s.suffix == ".scala"],
                os.pathsep.join([str(main_jar), f"{jars}/*"]), bench_jar, jars)
    classpath = os.pathsep.join([f"{jars}/*", str(bench_jar), str(main_jar)])
    train(classpath, archive)
    return main_fp, classpath, archive


def commit_label(tree_fp):
    """The git commit, with the source-tree hash appended when the
    working tree differs from it; the tree hash alone outside git."""
    if (ROOT / ".git").exists():
        def git(*args):
            return subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True)
        head, status = git("rev-parse", "HEAD"), git("status", "--porcelain")
        if head.returncode == 0 and status.returncode == 0:
            dirty = f"-dirty-{tree_fp}" if status.stdout.strip() else ""
            return head.stdout.strip() + dirty
    return f"tree-{tree_fp}"


def normalise(df):
    """Columns by name, cells as repr strings, rows sorted."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if hasattr(v, "tolist"):
            v = v.tolist()
        return repr(v)
    out = df.apply(lambda c: c.map(cell))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def oracle_check(data, out):
    """Each query_mix result against the DuckDB oracle SQL on the same
    tables. Returns the names that differ."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(Path(data).glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    bad = []
    for name, sql in json.loads((out / "oracle_sql.json").read_text()).items():
        try:
            got = normalise(con.sql(f"SELECT * FROM '{out}/results/{name}/*.parquet'").df())
            want = normalise(con.sql(sql).df())
            ok = list(got.columns) == list(want.columns) and got.equals(want)
        except Exception as e:  # a query the oracle cannot run is a failed check
            print(f"perfbench: oracle {name}: {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    jars = spark_jars()
    tree_fp, classpath, archive = build(jars)
    t_built = time.monotonic()
    load_before = os.getloadavg()

    run_dir = WORK / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = run_dir / "data", run_dir / "out"
    data.mkdir(parents=True)
    (out / "tmp").mkdir(parents=True)

    sys.path.insert(0, str(HERE))
    import datagen
    tables, scale, setups = WORKLOADS[a.workload]
    if tables == "all":
        datagen.write_all(str(data), a.seed, scale)
    else:
        datagen.write_lineitem(str(data), a.seed, scale)

    n = cpus()
    cmd = java_cmd(classpath, HEAP, [f"-XX:SharedArchiveFile={archive}"]) + [
        f"-Djava.io.tmpdir={out / 'tmp'}", "perfbench.Main", "--workload", a.workload,
        "--data", str(data), "--out", str(out), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--setups", str(setups), "--cpus", str(n)]
    t_jvm = time.monotonic()
    budget = JVM_DEADLINE_S - (t_jvm - t_built)
    with open(run_dir / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"timed out; see {run_dir / 'jvm.log'}", 1)
    jvm_s = time.monotonic() - t_jvm
    if r.returncode != 0 or not (out / "result.json").exists():
        fail(f"JVM exited with {r.returncode}; see {run_dir / 'jvm.log'}", 1)
    res = json.loads((out / "result.json").read_text())
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "query_mix":
        bad = oracle_check(data, out)
        attempted += len(json.loads((out / "oracle_sql.json").read_text()))
        failed += len(bad)
        res["info"]["oracle_mismatch"] = " ".join(bad)

    # every listed metric; a per-layer one that does not apply reads 0
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = res["metrics"].get(m["name"])
        if v is None and kind == "end_to_end":
            fail(f"metric {m['name']} missing from the run", 1)
        metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}

    labels = {
        "workload": a.workload, "seed": a.seed, "cpus": n, "heap": f"-Xmx{HEAP}",
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in os.getloadavg()],
        "commit": commit_label(tree_fp), "run_dir": str(run_dir.relative_to(ROOT)),
        "jvm_s": round(jvm_s, 2), "run_s": round(time.monotonic() - t_start, 2),
        **res["info"],
    }
    (run_dir / "labels.json").write_text(json.dumps(labels, indent=1))
    for c in res["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']} {c['detail']}", file=sys.stderr)
    # keep the run's small records, drop its data and outputs
    shutil.rmtree(data, ignore_errors=True)
    for p in out.iterdir():
        if p.name not in ("result.json", "spans.jsonl", "oracle_sql.json"):
            shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink()

    print("perfbench-labels " + json.dumps(labels))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
