#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Builds the engine (src/main/scala) and the harness (perfbench/src) with the
Scala compiler that ships in Spark's jars, generates the workload's seeded
input tables, runs the workload in one JVM, checks its outputs, and prints
one JSON object as the last stdout line: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

Everything it writes goes under .bench_build/ in the working directory.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

# importing gendata and tools/compare.py must leave no bytecode in the tree
sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
BUILD = Path(".bench_build")
SPARK_JARS = None  # set by main(): Spark's jars, which hold the Scala compiler too
JVM_TIMEOUT_S = 160

# per-layer metrics of layers a workload does not run, reported as 0
NOT_RUN = {"query_mix": ("stream.", "postings.", "erasure.", "store.")}

# the JDK 17 module openings Spark needs outside spark-submit (build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# input tables per workload: testdata scale factor
INPUTS = {
    "query_mix": 0.01,
    "stream_ingest": None,  # the stream generates its own events in the JVM
}
# query_mix's tables are the same for every --seed, which sets only the
# query order of each pass
DATA_SEED = 1


T0 = time.time()


def note(msg):
    print(f"perfbench: [{time.time() - T0:6.1f}s] {msg}", file=sys.stderr)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    return files


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        die("set SPARK_HOME: build.sbt names no unmanagedBase")
    return Path(m.group(1))


def build(root):
    """Compile engine + harness once per source digest; returns the jar."""
    files = sources(root)
    if not SPARK_JARS.is_dir():
        die(f"Spark jars not found at {SPARK_JARS}")
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not out.is_dir():
            tmp = BUILD / "classes.tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir()
            cp = f"{SPARK_JARS}/*"
            argfile = BUILD / "sources.txt"
            argfile.write_text("\n".join(str(f) for f in files) + "\n")
            t0 = time.time()
            r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                                "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                print(r.stdout[-4000:], file=sys.stderr)
                die("compilation failed")
            print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f}s", file=sys.stderr)
            # a jar, because the JVM's class-data-sharing archive only
            # takes classes from jars
            subprocess.run(["jar", "cf", str(tmp / "classes.jar"), "-C", str(tmp), "graft",
                            "-C", str(tmp), "org"], check=True)
            tmp.rename(out)
            for old in BUILD.glob("classes-*"):  # earlier builds and their archives
                if old != out:
                    shutil.rmtree(old, ignore_errors=True)
    return out / "classes.jar"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit(root):
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def make_inputs(workload, sf):
    """The workload's input tables, generated once per scale factor."""
    data = BUILD / "data" / workload
    if INPUTS[workload] is None:
        return data
    sf = sf or INPUTS[workload]
    stamp, key = data / "_input", f"{DATA_SEED} {sf}"
    if not (stamp.exists() and stamp.read_text() == key):
        shutil.rmtree(data, ignore_errors=True)
        sys.path.insert(0, str(HERE))
        import gendata
        gendata.generate(data, DATA_SEED, sf)
        stamp.write_text(key)
    return data


def jvm_options():
    # one task slot on four cores: the driver thread (or stream_ingest's
    # micro-batch and generator threads), the JIT compiler threads, which
    # keep compiling through a run at about a core's worth (`timed.jit_ms`
    # in the ledger), and the GC each keep a core. Paired runs with two
    # slots were slower, and slower still on a busy host
    cores = nproc()
    return ["--slots", str(max(1, cores - 3)), "--nproc", str(cores)]


def jvm(jar, flags, workload, data, args):
    """Run graft.perfbench.Main in a fresh work dir; returns its out dir, or
    None (after printing the log's tail) when it fails."""
    # every earlier run's scratch goes first, whatever its workload: files
    # it left would otherwise be written back to disk during this run
    shutil.rmtree(BUILD / "work", ignore_errors=True)
    work = BUILD / "work" / workload
    out = work / "out"
    (work / "tmp").mkdir(parents=True)
    out.mkdir()
    # a 1 GB initial heap: a run does not grow its heap from a small start
    # at moments that differ from run to run (five seeds of stream_ingest
    # spread half as much as without it)
    cmd = (["java", *ADD_OPENS, "-Xms1g", "-Xmx3g", "-Xss8m", *flags,
            f"-Djava.io.tmpdir={work.resolve()}/tmp", f"-Dderby.system.home={work.resolve()}",
            "-cp", f"{jar.resolve()}:{SPARK_JARS}/*", "graft.perfbench.Main",
            "--workload", workload, "--data", str(data.resolve()), "--work", str(work.resolve()),
            "--out", str(out.resolve())] + args)
    log = work / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not (out / "result.json").exists():
        sys.stderr.write(log.read_text()[-6000:])
        print(f"perfbench: JVM exit {rc}", file=sys.stderr)
        return None
    return out


def class_archive(jar):
    """The JVM class-data-sharing archive: loading Spark's classes from it
    instead of the jars takes seconds off every run's start. It is dumped
    once per build by a short stream_ingest run, which loads nearly every
    Spark class the workloads use, so no measured run pays for it."""
    archive = jar.parent / "classes.jsa"
    if not archive.exists():
        tmp = jar.parent / "classes.jsa.tmp"
        tmp.unlink(missing_ok=True)
        if jvm(jar, [f"-XX:ArchiveClassesAtExit={tmp.resolve()}"], "stream_ingest", BUILD / "data",
               ["--seed", "0", "--seconds", "1", "--trace", "0"] + jvm_options()) is None:
            die("class archive training run failed")
        tmp.rename(archive)
    return archive


def oracle_mismatches(root, data, results):
    """Compare each query_mix result with its DuckDB oracle under
    tools/compare.py's canonicalisation. Returns (compared, mismatches)."""
    sys.path.insert(0, str(root / "tools"))
    import compare
    import pyarrow.parquet as pq
    oracle = json.loads((results / "oracle_sql.json").read_text())
    con = compare.fresh_con(str(data))
    bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = compare.canon(pq.read_table(results / name).to_pandas())
            ok = got == compare.canon(con.execute(sql).fetchdf())
        except Exception as e:  # a missing result or a failing oracle is a mismatch
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: oracle mismatch in {name}", file=sys.stderr)
            bad += 1
    con.close()
    return len(oracle), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override query_mix's scale factor")
    a = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if not (root / "src" / "main" / "scala").is_dir():
        die("no engine sources under src/main/scala: run from the repository root")
    global SPARK_JARS
    SPARK_JARS = spark_jars(root)
    jar = build(root)
    archive = class_archive(jar)
    note("built")
    data = make_inputs(a.workload, a.sf)
    note("inputs ready")
    options = jvm_options() + ["--commit", commit(root)]
    out = jvm(jar, [f"-XX:SharedArchiveFile={archive.resolve()}"], a.workload, data,
              ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)] + options)
    if out is None:
        die("benchmark JVM failed")
    res = json.loads((out / "result.json").read_text())
    note("workload done")

    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "query_mix":
        n, bad = oracle_mismatches(root, data, out / "results")
        attempted += n
        failed += bad
        note("outputs checked")
    # p90 is per-layer: query_mix has too few samples for ten to lie beyond it
    layer = dict(res["layer"], latency_p90_s=res["e2e"]["latency_p90_s"], error_rate=failed / attempted)
    for m in spec["per_layer"] if a.trace else []:
        if m["name"] not in layer:
            if not m["name"].startswith(NOT_RUN.get(a.workload, ())):
                die(f"the run reported no {m['name']}")
            layer[m["name"]] = 0.0
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    source = res["e2e"] if a.trace == 0 else layer
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    # the run record and ledger, for a reader of this run's output
    print(json.dumps({"ledger": res["ledger"], "e2e": res["e2e"], "layer": layer}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
