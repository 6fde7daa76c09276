#!/usr/bin/env python3
"""Benchmark of the harvest product path and the e0x pipelines.

Usage, from the root of a checkout:

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark program from source (sbt; skipped when
the sources are unchanged since the last build in this checkout), makes the
workload's inputs from the seed, runs one JVM with `local[nproc]`, checks
every timed call's outputs outside the timed window, and prints one JSON
object as the last line of stdout. Everything it writes stays under
`.bench_build/` and `.bench_work/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

# Corpus size of the harvest workloads, in concepts (about 2.1 binding
# rows per concept).
CONCEPTS = 30000
# harvest_rerun is not in BENCHMARK.json: the library currently builds a
# re-run's SQLite artifact from the cached pre-run store (see NOTES.md), so
# its check fails. It stays runnable as the reproducer.
WORKLOADS = ("harvest_first", "harvest_rerun", "pipelines_sf0001")
# Kill the JVM if a run takes longer than this; the run then fails.
JVM_TIMEOUT_S = 165

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def _sources():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile the library and the benchmark program; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("no library sources next to the benchmark: nothing to build")
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    log("building the library and the benchmark program with sbt ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-J-Djava.io.tmpdir={BUILD / 'tmp'}", "-J-XX:-UsePerfData",
         "compile", "export bench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def java_cmd(cp, run_dir, args):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", "-Xmx3g", "-XX:ReservedCodeCacheSize=2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.BenchMain", *args]


def harvest_inputs(seed, concepts=CONCEPTS):
    """Seeded corpus, cached per (seed, size): the base file and a
    directory holding base + increment, which is the re-run's input."""
    d = WORK / "cache" / f"corpus-{seed}-{concepts}"
    base, inc = gen.corpus(seed, concepts, str(d))
    return base, [base, inc], d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(run_dir), "--cpus", str(cpus)]
    if a.workload.startswith("harvest_"):
        base, corpus_files, corpus_dir = harvest_inputs(a.seed)
        args += ["--base", base, "--corpus", str(corpus_dir)]
        checks = {"base": lambda c: check.check_base(c, base),
                  "first": lambda c: check.check_first(c, base),
                  "rerun": lambda c: check.check_rerun(c, base, corpus_files)}
    else:
        names = ["e01_pretrain_pipeline", "e02_rag_retrieval", "e03_incremental_ingest",
                 "e04_training_batches", "e05_eval_suite", "e06_community_mart",
                 "e07_multimodal_curation", "e08_index_maintenance"]
        random.Random(a.seed).shuffle(names)
        args += ["--tables", str(HERE / "data" / "sf0.001"), "--order", ",".join(names)]
        checks = {"pipelines": lambda c: check.check_pipelines(
            c, json.loads(Path(c["oracle"]).read_text()))}

    proc = subprocess.Popen(java_cmd(cp, run_dir, args), cwd=run_dir, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("@@CHECK "):
                c = json.loads(line[len("@@CHECK "):])
                try:
                    bad = checks[c["kind"]](c)
                except Exception as e:  # a check that cannot run is a failed check
                    bad = f"check error: {e!r}"
                if bad:
                    log(f"check failed ({c['kind']}): {bad}")
                proc.stdin.write("ok\n" if bad is None else bad.replace("\n", " ") + "\n")
                proc.stdin.flush()
            elif line.startswith("@@RESULT "):
                result = json.loads(line[len("@@RESULT "):])
            else:
                sys.stderr.write(line)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or result is None:
        raise SystemExit(f"benchmark JVM failed (exit {code})")

    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if v is not None:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        elif not result["failed"]:
            raise SystemExit(f"metric {m['name']} was not measured")
    # a metric is missing only when every call failed its check
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
