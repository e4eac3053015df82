#!/usr/bin/env python3
"""Benchmark of the upload -> upsert -> browse pipeline. See README.md.

    python3 perfbench/run.py --workload import_fresh --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark from source on first use (sbt, offline),
runs one workload in one JVM, checks every output against expected.py and
prints the result as the last line of standard output.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import expected as E  # noqa: E402

WORKLOADS = ["import_fresh", "browse_pages"]
HEAP = "3g"
CPUS = 2
RUN_LIMIT_S = 170


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def cpus():
    """Spark threads and sink connections: half the cores, at most CPUS.
    On a shared 4-core host a run that kept all four busy followed the
    hypervisor's steal time; see README.md."""
    return max(1, min(CPUS, len(os.sched_getaffinity(0)) // 2))


# ---- build ----------------------------------------------------------------

def sources():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the benchmark; returns (classpath, jvm options).
    Each build is kept under .build/<hash>/, keyed by a hash of every source
    file, with its own copy of the program's and the benchmark's jars: sbt
    rewrites them in target/ on every build, so a later build of another
    commit in the same checkout does not change what an earlier key runs."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"perfbench: no program sources under {ROOT}")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BENCH / ".build" / h.hexdigest()[:16]
    if not (out / "launch.json").exists():
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = Path.home() / ".sbt" / "repositories"
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building program and benchmark with sbt")
        t = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=700)
        if r.returncode != 0:
            sys.exit("perfbench: build failed")
        launch = json.loads((BENCH / "target" / "launch.json").read_text())
        tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        cp = []
        for i, entry in enumerate(launch["classpath"]):
            src = Path(entry).resolve()
            if ROOT in src.parents:  # built from this checkout: keep a copy
                dst = tmp / f"{i}-{src.name}"
                if src.is_dir():
                    shutil.copytree(src, dst)
                else:
                    shutil.copy2(src, dst)
                entry = dst.name
            cp.append(entry)
        launch["classpath"] = cp
        (tmp / "launch.json").write_text(json.dumps(launch))
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
        log(f"built in {time.time() - t:.1f} s")
    launch = json.loads((out / "launch.json").read_text())
    return [str(out / c) for c in launch["classpath"]], launch["java_options"]


# ---- one run --------------------------------------------------------------

def measure(workload, seed, seconds, trace, work):
    """Runs the workload in one JVM. Returns (observed, peak RSS in MB)."""
    cp, jopts = build()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java"] + jopts + [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
                               f"-Dderby.system.home={work}", "-Dderby.system.durability=test",
                               "-Dderby.storage.pageCacheSize=16000", "-cp", os.pathsep.join(cp),
                               "perfbench.Main", "--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", "1" if trace else "0",
                               "--work", str(work), "--cpus", str(cpus()),
                               "--fresh_rows", str(E.FRESH_ROWS), "--page_rows", str(E.PAGE_ROWS)])
    # every file the JVM writes stays under the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    deadline = time.time() + RUN_LIMIT_S
    pid = 0
    try:
        while not pid:
            if time.time() > deadline:
                sys.exit("perfbench: run exceeded its time limit")
            time.sleep(0.05)
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
    finally:
        if not pid:  # time limit, SIGTERM or an error: stop the JVM and reap it
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        sys.exit(f"perfbench: benchmark JVM exited with {code}")
    return json.loads((work / "observed.json").read_text()), ru.ru_maxrss / 1024.0


def check_ops(workload, obs, work):
    """One bool per operation: did its output match the expected result?"""
    if workload == "import_fresh":
        return check.check_imports(obs, work, E.checksum(E.fresh_table()))
    return check.check_pages(work / "pages.jsonl")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def setup_s(obs):
    total = obs["session_s"]
    for v in obs["setup"].values():
        total += median(v) if isinstance(v, list) else v
    return total


def op_ms(workload, obs):
    if workload == "import_fresh":
        return [r["s"] * 1e3 for r in obs["rounds"]]
    return obs["page_ms"]


def end_to_end(workload, obs):
    return {"setup_s": (setup_s(obs), "s"),
            "op_p50_ms": (median(op_ms(workload, obs)), "ms")}


def per_layer(workload, obs, rss_mb):
    """Every per-layer metric; a layer the workload does not use reads 0."""
    m = dict.fromkeys(
        ["sources.parse_s", "sources.rows", "sources.jdbc_scan_s", "operators.dedup_s",
         "operators.dedup_rows_in", "operators.dedup_rows_out", "operators.dedup_keep_ratio",
         "operators.page_s", "sinks.write_s", "sinks.connections", "sinks.chunks",
         "sinks.chunk_p50_ms",
         "sinks.update_attempts", "sinks.update_hits", "sinks.update_hit_ratio",
         "sinks.inserts", "sinks.stored_bytes_per_row"], 0.0)
    m.update(obs["per_round"])
    m["jvm.peak_rss_mb"] = rss_mb
    lay = obs.get("layers", {})
    if workload == "import_fresh":
        write_s = median([r["s"] for r in obs["rounds"]])
        out = lay["rows_out"]
        # what the sink sent to the database in the timed imports, per import
        sink, n = obs["sink"], len(obs["rounds"])
        m.update({
            "sources.parse_s": lay["parse_s"], "sources.rows": lay["rows_in"],
            "operators.dedup_s": lay["parse_dedup_s"] - lay["parse_s"],
            "operators.dedup_rows_in": lay["rows_in"], "operators.dedup_rows_out": out,
            "operators.dedup_keep_ratio": out / lay["rows_in"],
            "sinks.write_s": write_s - lay["parse_dedup_s"],
            "sinks.connections": sink["connections"] / n,
            "sinks.chunks": len(sink["chunk_ms"]) / n,
            "sinks.chunk_p50_ms": median(sink["chunk_ms"]),
            "sinks.update_attempts": sink["update_attempts"] / n,
            "sinks.update_hits": sink["update_hits"] / n,
            "sinks.update_hit_ratio": sink["update_hits"] / sink["update_attempts"],
            "sinks.inserts": sink["inserts"] / n,
            "sinks.stored_bytes_per_row": median(
                [r["stored_bytes"] / r["table_rows"] for r in obs["rounds"]])})
    else:
        m.update({"sources.jdbc_scan_s": lay["jdbc_scan_s"],
                  "operators.page_s": median(obs["page_ms"]) / 1e3 - lay["jdbc_scan_s"],
                  "sinks.stored_bytes_per_row": obs["stored_bytes_per_row"]})
    return m


def summary(workload, obs):
    """Workload-specific figures, for the log: rows/s and each import's time,
    or the page latency deciles with the 90th percentile."""
    ms = op_ms(workload, obs)
    if workload == "import_fresh":
        r = obs["rounds"]
        return {"setup": obs["setup"], "session_s": obs["session_s"],
                "import_rows_per_s": median([E.FRESH_ROWS / x["s"] for x in r]),
                "rounds": len(r), "op_ms": [round(x) for x in ms]}
    q = statistics.quantiles(ms, n=10)
    return {"setup": obs["setup"], "session_s": obs["session_s"], "page_p50_ms": median(ms), "page_p90_ms": q[8], "pages": len(ms),
            "deciles_ms": [round(x, 1) for x in q],
            "mean_ms_by_20": [round(statistics.mean(ms[i:i + 20]), 1) for i in range(0, len(ms), 20)]}


def main():
    # a SIGTERM unwinds like an error, so the JVM is stopped and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    work = BENCH / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    try:
        obs, rss = measure(a.workload, a.seed, a.seconds, a.trace == 1, work)
        oks = check_ops(a.workload, obs, work)
        log(a.workload, json.dumps(summary(a.workload, obs)))
        if a.trace:
            metrics = {k: (v, unit_of(k)) for k, v in per_layer(a.workload, obs, rss).items()}
            tdir = BENCH / "traces"
            tdir.mkdir(exist_ok=True)
            (tdir / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(
                {"spans": obs["spans"], "metrics": {k: v for k, (v, _) in metrics.items()},
                 "sink": obs.get("sink"),
                 "op_p50_ms": median(op_ms(a.workload, obs))}, indent=1))
        else:
            metrics = end_to_end(a.workload, obs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = oks.count(False)
    print(json.dumps({"correct": failed == 0, "attempted": len(oks), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_per_row"):
        return "B"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
