#!/usr/bin/env python3
"""Layered benchmark for the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--out DIR]

Builds the engine and the benchmark package from source on first use, runs
one workload as a single-process closed loop on a local[4] Spark session,
checks every result, writes a result file and prints one JSON line last:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
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

import oracle

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("registry_build_heavy", "registry_scan_write", "mr_shared_traversal")
# the sf0.1 tables graft.Bench reads, under the same override
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
# A fixed heap (-Xms = -Xmx) keeps peak RSS from depending on when G1
# decided to grow the heap.
HEAP = "3g"
# C1 only. With C2, ops kept getting faster for tens of passes, longer
# than a run can last, so the timed passes measured how far the JIT had
# got, and that depends on the host's load. With C1, op times are flat
# within a few passes.
JIT = "-XX:TieredStopAtLevel=1"
DEADLINE_S = 170
SOURCES = ("src", "build.sbt", "project/build.properties",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads: the build stamp, and the code
    identity a result file records (a checkout need not be a git repo)."""
    h = hashlib.sha1()
    for rel in SOURCES:
        p = ROOT / rel
        files = sorted(p.rglob("*")) if p.is_dir() else [p]
        for f in files:
            if f.is_file() and "target" not in f.relative_to(ROOT).parts:
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def build(build_dir, digest):
    """Compiles the engine and the benchmark with sbt once per source
    digest and caches the runtime classpath; returns whether it built."""
    stamp, cp_file = build_dir / "stamp", build_dir / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return False
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = build_dir / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = log.read_text().strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return True


def run_jvm(cp, args, work, log_path, deadline):
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [JIT, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def quantile(xs, q):
    """Nearest-rank quantile of a sorted list."""
    return xs[min(len(xs) - 1, max(0, int(q * len(xs) + 0.5) - 1))]


def tail(xs):
    """The highest of p99/p95/p90/p75/p50 with at least 10 samples beyond
    it; with fewer than 20 samples no percentile qualifies and the maximum
    is reported."""
    xs = sorted(xs)
    for pct in (99, 95, 90, 75, 50):
        if len(xs) * (100 - pct) / 100 >= 10:
            return quantile(xs, pct / 100), f"p{pct}"
    return xs[-1], "max"


def main():
    t0 = time.time()
    # on SIGTERM, unwind so the JVM is killed and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", help="directory for the result file")
    a = ap.parse_args()
    deadline = t0 + DEADLINE_S

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT}")
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    if not Path(SF_DIR, "documents.parquet").is_file():
        fail(f"test data not found at {SF_DIR}")

    build_root = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    digest = source_digest()
    if build(build_root, digest):
        # the first run in a checkout builds; set-up starts after the build
        t0 = time.time()
        deadline = t0 + DEADLINE_S
    cp = (build_root / "classpath.txt").read_text().strip()

    work = build_root / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir = Path(a.out) if a.out else build_root / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t0)}-{os.getpid()}"
    jvm_out, spans = work / "jvm.json", out_dir / f"{stem}.spans.json"
    try:
        rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--sf", SF_DIR, "--work", str(work),
                          "--out", str(jvm_out), "--spans", str(spans),
                          "--t0-ms", str(int(t0 * 1000))],
                     work, work / "jvm.log", deadline)
        if rc != 0 or not jvm_out.exists():
            sys.stderr.write("".join((work / "jvm.log").read_text().splitlines(True)[-40:]))
            fail("benchmark JVM timed out" if rc is None else f"benchmark JVM exited with {rc}")
        r = json.loads(jvm_out.read_text())
        verdicts = oracle.check(a.workload, r["checks"], SF_DIR)
    finally:
        if (work / "jvm.log").exists():
            shutil.copy(work / "jvm.log", out_dir / f"{stem}.log")
        shutil.rmtree(work, ignore_errors=True)

    # an op fails if it threw, or if its result differs from the checked one
    timed = [o for o in r["ops"] if not o["traced"]]
    for o in r["ops"]:
        v = verdicts.get(o["kind"], {"ok": False, "fingerprint": None})
        o["ok"] = not o["error"] and v["ok"] and o["fingerprint"] == v["fingerprint"]
    attempted = len(r["ops"])
    failed = sum(1 for o in r["ops"] if not o["ok"])
    lat = [o["s"] for o in timed]
    tail_s, tail_pct = tail(lat)
    writes = [o["s"] for o in timed if o["write"]]
    # the median pass, so that one pass the host stalled does not set the rate
    rates = [p["ops"] / p["wall_s"] for p in r["passes"] if not p["traced"]]
    e2e = {
        "setup_s": (r["setup_s"], "s"),
        "ops_per_s": (statistics.median(rates), "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }
    extra = {"failed_frac": (failed / attempted, "1")}
    if writes:
        extra["write_op_p50_s"] = (statistics.median(writes), "s")
    result = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "context": dict(r["context"], sf=SF_DIR, seed=a.seed, git_commit=git_commit(),
                        source_digest=digest, heap=HEAP, jit=JIT,
                        op_tail_percentile=tail_pct, op_samples=len(lat)),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
        "per_layer": {k: {"value": v} for k, v in r["layers"].items()},
        "per_layer_by_kind": r["layers_by_kind"],
        "timed_wall_s": r["timed_wall_s"], "passes": r["passes"],
        "checks": verdicts, "warmup_errors": r["warmup_errors"],
        "attempted": attempted, "failed": failed, "spans_file": str(spans) if a.trace else None,
        "ops": r["ops"],
    }
    (out_dir / f"{stem}.json").write_text(json.dumps(result, indent=1))

    for k, v in result["end_to_end"].items():
        print(f"{a.workload:22s} {k:16s} {v['value']:14.6g} {v['unit']}")
    print(f"{a.workload:22s} {'op_tail':16s} {tail_pct} of {len(lat)} samples")
    for k, v in sorted(result["per_layer"].items()):
        print(f"{a.workload:22s} {k:28s} {v['value']:14.6g}")
    for k, v in verdicts.items():
        if not v["ok"]:
            print(f"CHECK FAILED {k}: {v.get('detail', '')}", file=sys.stderr)
    if a.trace == 0:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}
    else:
        metrics = {m["name"]: {"value": r["layers"][m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    print(json.dumps({"correct": failed == 0 and all(v["ok"] for v in verdicts.values()),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
