#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The script
  1. builds graft and the harness from source (sbt, cached by source hash),
  2. generates the seeded inputs (gen.py),
  3. empties the run-state directories (artifacts, warehouse, Spark local
     dirs) and runs the harness JVM (src/main/scala/graftbench),
  4. checks every output hash against expected.tsv and prints one JSON
     result line last on stdout; the human report goes to stderr.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones (and
writes the traced spans to .work/run/spans.jsonl). --record rewrites
expected.tsv from this run's outputs instead of checking them; record only
from a build whose outputs match DuckDB (graft.Verify + tools/verify_local.py).
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, dns, fns in os.walk(d):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources beside {HERE}; run from a graft checkout")
    stamp = os.path.join(WORK, "build", source_digest() + ".classpath")
    if os.path.exists(stamp):
        cp = open(stamp).read()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)[:2]):
            return cp
    # resolve only from the local caches, as the root build expects
    opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += f" -Djava.io.tmpdir={tmp}"
    env = dict(os.environ, SBT_OPTS=opts.strip(),
               COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "graftbench" in lines[-1] or \
            ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    os.makedirs(os.path.dirname(stamp))
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def nproc():
    return len(os.sched_getaffinity(0))


def write_plan(path, passes):
    with open(path, "w") as f:
        for p in passes:
            f.write(";".join(",".join(str(x) for x in op) for op in p) + "\n")


def fmt_table(per_layer):
    """The generated 'where time goes' table of one traced run."""
    m = per_layer
    rows = [
        ("build: driver", m["build.driver_s"]),
        ("build: in-job", m["build.job_s"]),
        ("plan", m["plan.s"]),
        ("exec: in-job", m["exec.job_s"]),
        ("exec: between-job", m["exec.gap_s"]),
        ("remainder", m["trace.remainder_s"]),
    ]
    total = m["trace.pass_mean_s"]
    out = [f"where time goes (traced pass, mean {total:.3f} s)",
           f"  {'layer':<20}{'s/pass':>10}{'share':>9}"]
    for name, v in rows:
        share = v / total if total else 0.0
        out.append(f"  {name:<20}{v:>10.4f}{share:>8.1%}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every query of the workload's families once "
                         "(set up once, one pass) instead of the sample")
    ap.add_argument("--record", action="store_true",
                    help="like --all, but write the hashes to expected.tsv")
    a = ap.parse_args()
    a.all = a.all or a.record

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {sorted(workloads)}")
    wl = workloads[a.workload]
    classpath = build()
    t_start = time.time()  # the deadline below excludes a first build
    cores = nproc()

    # inputs: a fresh copy of the tables, the seeded layout and op plan
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("artifacts", "warehouse", "local", "tmp"):
        os.makedirs(os.path.join(RUN, d))
    data = os.path.join(RUN, "data")
    # expected hashes are recorded on the single-file tables (the layout
    # graft.Verify checks against DuckDB); the corpus layout must reproduce
    # them
    multifile = wl.get("layout") == "multifile" and not a.record
    gen.stage(data, a.seed, 2 * cores if multifile else 0)
    if a.all:
        passes = gen.full_plan(a.workload, wl.get("all", wl["ops"]))
    else:
        passes = gen.plan(a.workload, a.seed, wl["ops"], 400)
    plan_path = os.path.join(RUN, "plan.txt")
    write_plan(plan_path, passes)
    out_path = os.path.join(RUN, "result.json")

    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx2g", f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.PerfBench",
            f"workload={a.workload}", f"data={data}", f"plan={plan_path}",
            f"seconds={a.seconds}", f"trace={a.trace}",
            f"cores={cores}",
            f"work={RUN}", f"expected={os.path.join(HERE, 'expected.tsv')}",
            f"out={out_path}", f"record={1 if a.record else 0}",
            f"full={1 if a.all else 0}"])
    # a SIGTERM from whoever runs the benchmark must not orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(RUN, "local"))
    left = DEADLINE_S - (time.time() - t_start)
    log_path = os.path.join(RUN, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=RUN, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=3000 if a.all else max(10, left))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {DEADLINE_S} s; see {log_path}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with code {rc}")
    with open(out_path) as f:
        r = json.load(f)

    # ----- report (stderr)
    side = r["side"]
    err = sys.stderr
    print(f"workload {a.workload}: {wl['why']}", file=err)
    print(f"host: nproc={cores}; external busy cores before={side['ext_busy_before']:.2f} "
          f"after={side['ext_busy_after']:.2f}; effective cores before="
          f"{side['eff_cores_before']:.2f} after={side['eff_cores_after']:.2f} "
          f"(fixed loop {side['loop_before_ms']:.1f} / {side['loop_after_ms']:.1f} ms "
          f"on one thread); cores stolen by the hypervisor during the loop="
          f"{side['steal_cores']:.2f}", file=err)
    print(f"setup_s={r['setup_s']} passes(i, traced, s)={r['passes_s']}", file=err)
    print(f"JIT compiler busy {side['loop_jit_s']:.1f} s during the loop (compiler "
          "threads run beside the program; while it is busy, passes still speed up)",
          file=err)
    print("end to end: " + ", ".join(f"{k}={v}" for k, v in sorted(r["end_to_end"].items())),
          file=err)
    print(f"  op quantiles across {side['ops']:.0f} distinct ops, each at its median "
          f"({side['op_samples']:.0f} timed samples in all): " +
          ", ".join(f"{k}={v:.3f}" for k, v in sorted(r["op_sec"].items())), file=err)
    for k in ("ask_p50_s", "ask_p90_s", "extract_p50_s"):
        if side.get(k) is not None:
            print(f"  {k}={side[k]:.4f}", file=err)
    print(f"failed_frac={side['failed_frac']:.4f} "
          f"({r['failed']} of {r['attempted']} timed ops)", file=err)
    for name, why in list(r["failures"].items()) + \
            [("setup:" + k, v) for k, v in r["setup_failures"].items()]:
        print(f"  FAILED {name}: {why}", file=err)
    if a.trace:
        print(fmt_table(r["per_layer"]), file=err)
        print(f"spans: {os.path.join(RUN, 'spans.jsonl')}", file=err)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    src = r["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": src[m["name"]], "unit": m["unit"]} for m in spec}
    correct = (r["failed"] == 0 and r["setup_failed"] == 0 and not a.record and
               all(v["value"] is not None for v in metrics.values()))
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
