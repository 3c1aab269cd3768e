#!/usr/bin/env python3
"""The repo benchmark: one command, seeded closed-loop workloads.

    python3 perfbench/run.py --workload {llm_pipeline,table_write}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program from
source (sbt, offline) into the checkout; later runs reuse the build. The
harness generates the workload's inputs from the seed, runs the
benchmark JVM (perfbench.Main) with one client thread on local[nproc],
checks every result against its oracle, and prints the metrics. The last
stdout line is one JSON object: with --trace 0 the end-to-end metrics,
with --trace 1 the per-layer metrics of the traced run. The workloads
and the metrics' names and units are those BENCHMARK.json lists. The full
artifact, with the host fingerprint, goes to .bench_build/results/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
XMX = "3g"
DEADLINE_S = 170  # the whole run, build excluded
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in ("src/main", "perfbench/src", "project"):
        files += sorted(glob.glob(os.path.join(ROOT, d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f) and "/target/" not in f:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile the program and the harness; cache the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        cp = json.load(open(stamp))
        if cp["digest"] == digest:
            return cp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                              f"-Dsbt.repository.config={repos} "
                              "-Dsbt.offline=true -Xmx2g") + \
        f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}"
    # every JVM the sbt script starts, its version probe included
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    # the class directories go into jars, as a deployed program ships
    # them; the JVM can archive classes only from jars (see main())
    cp = []
    for i, p in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(BUILD, "jars", f"{i}.jar")
            os.makedirs(os.path.dirname(jar), exist_ok=True)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in sorted(os.walk(p)):
                    for f in sorted(files):
                        z.write(os.path.join(d, f),
                                os.path.relpath(os.path.join(d, f), p))
            p = jar
        cp.append(p)
    cp = os.pathsep.join(cp)
    json.dump({"digest": digest, "classpath": cp}, open(stamp, "w"))
    return cp


def inputs(workload, seed):
    """Generated once per (workload, seed, generator source); the same
    seed gives the same files."""
    gen_digest = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read())
    out = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{gen_digest.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(out, "DONE")):
        import gen
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.main(workload, seed, tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def run_jvm(cp, args, work, budget, jvm_opts=()):
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + list(jvm_opts) + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = open(f"{work}/jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")


def pct(xs, q):
    """Linear-interpolated percentile (q in 0..100)."""
    s = sorted(xs)
    if not s:
        return 0.0
    i = (len(s) - 1) * q / 100
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def geomean(xs):
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def fingerprint(res, seed, digest):
    mem = next((l.split()[1] for l in open("/proc/meminfo")
                if l.startswith("MemTotal:")), "0")
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip()
    except OSError:
        commit = ""
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": int(mem),
            "xmx_mb": res["xmx_mb"], "jdk": res["java_version"],
            "spark": res["spark_version"], "commit": commit or f"src:{digest}",
            "seed": seed}


def main():
    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except OSError:
        fail("run from the repository root: BENCHMARK.json is missing")
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the program's sources are missing")

    digest = source_digest()
    cp = build(digest)
    t0 = time.time()
    inp = inputs(a.workload, a.seed)
    # a failed run leaves its work dir for inspection
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    # Class-data sharing: the first run of a workload after a build dumps
    # the classes its JVM loaded into an archive, and every later run maps
    # it, so loading and verifying the thousands of Spark classes a
    # session needs is not redone from the jars (about 10 s of a 35 s
    # set-up on 4 cores). The dumping run itself reads that much slower.
    jsa = os.path.join(BUILD, "cds", f"{a.workload}-{digest}.jsa")
    dump = os.path.join(work, "classes.jsa")
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={dump}")
    run_jvm(cp, ["--workload", a.workload, "--inputs", inp, "--work", work,
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--out", out, "--seed", str(a.seed)],
            work, DEADLINE_S - (time.time() - t0), [cds])
    if os.path.exists(dump):
        os.makedirs(os.path.dirname(jsa), exist_ok=True)
        os.replace(dump, jsa)
    res = json.load(open(out))

    import check
    t_check = time.time()
    checks = res["checks"]
    if a.workload == "llm_pipeline":
        bad, extra = check.llm_pipeline(inp, checks, json.load(open(f"{inp}/planted.json")))
    else:
        bad, extra = check.table_write(inp, checks)
    for b in bad[:20]:
        print(f"MISMATCH {b}")
    t_check = time.time() - t_check

    # samples: [kind, class, dur_ns, traced, ok, items]
    samples = res["samples"]
    plain = [s for s in samples if not s[3]]
    ms = lambda ss: [s[2] / 1e6 for s in ss]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s[4]) + len(bad)
    e2e = {"setup_s": res["setup_s"],
           "op_geomean_ms": geomean(ms(plain)),
           "ops_per_s": len(plain) / res["window_s"] if not a.trace else 0.0,
           "live_heap_mb": res["live_heap_mb"]}

    # per-class figures for the human report (not every workload has
    # every class: a missing class reads 0)
    by = lambda c: [s for s in plain if s[1] == c]
    rate = lambda ss: sum(s[5] for s in ss) / max(sum(s[2] for s in ss) / 1e9, 1e-9)
    named = [
        ("setup_s", "s", e2e["setup_s"]),
        ("op_p50_ms", "ms", pct(ms(plain), 50)),
        ("op_p90_ms", "ms", pct(ms(plain), 90)),
        ("read_p50_ms", "ms", pct(ms(by("read")), 50)),
        ("read_p90_ms", "ms", pct(ms(by("read")), 90)),
        ("write_p50_ms", "ms", pct(ms(by("write")), 50)),
        ("write_p90_ms", "ms", pct(ms(by("write")), 90)),
        ("stmts_per_s", "1/s", len(by("read") + by("write")) / res["window_s"]),
        ("docs_per_s", "1/s", rate(by("curate"))),
        ("search_queries_per_s", "1/s", rate(by("search"))),
        ("error_rate", "ratio", failed / max(attempted, 1)),
        ("stored_bytes_per_user_byte", "ratio",
         checks["stored_bytes"] / checks["fresh_bytes"] if a.workload == "table_write" else 0.0),
        ("peak_rss_mb", "MB", res["peak_rss_mb"])]
    counts = {c: len(by(c)) for c in ("read", "write", "maint", "curate", "search")}

    layers = dict(res["layers"])
    if a.trace:
        tr = [s for s in samples if s[3]]
        p_plain, p_tr = geomean(ms(plain)), geomean(ms(tr))
        layers["trace.overhead_geomean_ms"] = p_tr - p_plain
        layers["trace.overhead_pct"] = 100 * (p_tr - p_plain) / max(p_plain, 1e-9)
        layers["op.dedup_recall"] = extra.get("minhash_dup_recall", 0.0)
        layers["op.ann_recall_at_10"] = extra.get("ann_ivf_recall_at_10", 0.0)
        layers.update(table_write_layers(checks, extra) if a.workload == "table_write" else {})
        spans = os.path.join(work, "spans.jsonl")

    fp = fingerprint(res, a.seed, digest)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    art = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    json.dump({"fingerprint": fp, "workload": a.workload, "trace": a.trace,
               "end_to_end": e2e, "named": {k: v for k, _, v in named}, "op_counts": counts,
               "per_layer": layers, "attempted": attempted, "failed": failed,
               "mismatches": bad, "rounds": res["rounds"],
               "errors": res["errors"][:50]}, open(art, "w"), indent=1)
    if a.trace:
        shutil.copy(spans, art.replace(".json", ".spans.jsonl"))
    shutil.copy(os.path.join(work, "jvm.log"), art.replace(".json", ".jvm.log"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"host: {fp}")
    print(f"{a.workload}: rounds={res['rounds']} window={res['window_s']:.2f}s "
          f"ops={attempted} by class={counts} setup_s={res['setup_s']:.2f} "
          f"check_s={t_check:.1f} total_s={time.time() - t0:.1f}")
    for k, u, v in named:
        print(f"  {k:28s} {v:12.4f} {u}")
    # a workload that does not exercise a layer reports 0 for its metrics;
    # a computed metric BENCHMARK.json does not list is named, not dropped
    per_layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    if a.trace:
        for k, u in per_layer:
            print(f"  layer {k:40s} {layers.get(k, 0.0):14.4f} {u}")
        for k in sorted(set(layers) - {k for k, _ in per_layer}):
            print(f"  layer {k:40s} {layers[k]:14.4f} (not in BENCHMARK.json)")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in per_layer}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
        if missing:
            fail(f"end-to-end metrics not computed: {missing}")
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def table_write_layers(checks, extra):
    """Bytes the traced commits wrote per byte of the rows they changed
    (rows counted by the DuckDB replay, sized as fresh parquet)."""
    per_row = checks["fresh_bytes"] / max(checks["live_rows"], 1)
    wrote = changed = 0
    for i, e in enumerate(checks["executed"]):
        if e.get("traced") and "bytes_written" in e:
            wrote += e["bytes_written"]
            changed += extra["changed"].get(i, 0)
    return {"meta.bytes_written_per_user_byte": wrote / max(changed * per_row, 1)}


if __name__ == "__main__":
    main()
