#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <bulk_product|catalog>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness together with the
program's sources (first run only, or when a source changed), generates
the workload's inputs from the seed, runs one harness JVM, checks its
outputs against independent references, and prints one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("bulk_product", "catalog")
HEAP = "3g"
JVM_TIMEOUT_S = 150
JVM_FLAGS = [
    # Spark 4 on JDK 17 outside spark-submit, as in the root build.sbt
    *[x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar"]
      for x in ("--add-opens", p + "=ALL-UNNAMED")],
    "--add-modules=jdk.incubator.vector",
    "-XX:-UsePerfData",
    # deep enough that a job's call site reaches the program frame under
    # MLlib's ARPACK stack
    "-Dspark.callstack.depth=64",
]


def stop_child_on_term(proc):
    """A terminated benchmark takes its child process with it."""
    def handler(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, handler)
    signal.signal(signal.SIGINT, handler)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha1()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with the program's sources; returns the
    runtime classpath. Skipped when nothing changed since the last build."""
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    stop_child_on_term(p)
    try:
        out, _ = p.communicate(timeout=800)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("build timed out")
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def steal_seconds():
    """CPU time the hypervisor gave to other guests, summed over cores:
    a record of outside contention, kept next to each run's figures."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def run_jvm(cp, workload, seed, seconds, trace, input_dir, out):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS,
           "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--seed", str(seed), "--input", input_dir, "--out", out,
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    log = out + ".log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        stop_child_on_term(p)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s (log {log})")
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def close(a, b, tol):
    return abs(a - b) <= tol * max(1.0, abs(b))


def check_bulk(c, topics, input_dir):
    errs = []
    rows = checks.read_sentences(os.path.join(input_dir, "bulk0001.txt"))
    lsa = sorted(c["lsa"], key=lambda r: r["concept"])
    sv = [r["singular_value"] for r in lsa]
    ref_s = checks.lsa_reference(rows)
    if len(sv) != 5 or any(a < b for a, b in zip(sv, sv[1:])):
        errs.append(f"singular values not 5 descending: {sv}")
    elif not all(close(a, b, 1e-6) for a, b in zip(sv, ref_s)):
        errs.append(f"singular values {sv} vs numpy {list(ref_s)}")
    topic_of = {w: i for i, ws in enumerate(topics) for w in ws}
    for r in lsa:
        owners = {topic_of.get(w) for w in r["keywords"]}
        if len(owners) != 1 or None in owners:
            errs.append(f"concept {r['concept']} keywords span topics: {r['keywords']}")
    tr = [(r["id"], r["rank"]) for r in c["textrank"]]
    if not checks.top_k_matches(tr, checks.textrank_reference(rows), k=5):
        errs.append(f"textrank top-5 {tr} differs from numpy")
    return errs + checks.registry_oracle(ROOT, input_dir, c["queries"])


def check_catalog(c, input_dir):
    errs = []
    products = c["products"]
    ev = c["evaluate"]
    keys = sorted((r["product_id"], r["metric"]) for r in ev)
    if keys != sorted((p, m) for p in products for m in ("rouge1", "rouge2", "rougeL")):
        errs.append(f"evaluate rows do not cover each product × metric once ({len(ev)} rows)")
    for r in ev:
        for k in ("precision", "recall", "f1"):
            v = r[k]
            if v is None or not math.isfinite(v) or not 0.0 <= v <= 1.0:
                errs.append(f"{r['product_id']} {r['metric']} {k}={v}")
    grouped = {(r["product_id"], r["metric"]): r for r in ev}
    per = c["per_product"]
    if len(per) != 3:
        errs.append(f"per-product route returned {len(per)} rows")
    for r in per:
        g = grouped.get((r["product_id"], r["metric"]))
        if g is None or not all(close(r[k], g[k], 1e-9) for k in ("precision", "recall", "f1")):
            errs.append(f"per-product route {r} vs grouped {g}")
    for p in c["rouge"]:
        ref = {"rouge1": checks.rouge_n(p["system"], p["reference"], 1),
               "rouge2": checks.rouge_n(p["system"], p["reference"], 2),
               "rougeL": checks.rouge_l(p["system"], p["reference"])}
        for m, want in ref.items():
            if not all(close(a, b, 1e-12) for a, b in zip(p[m], want)):
                errs.append(f"{m} {p[m]} vs from-scratch {want}")
    for pid in c["sample"]:
        ranks = [(r["id"], r["rank"]) for r in c["textrank"] if r["product_id"] == pid]
        top = sorted(ranks, key=lambda x: (-x[1], x[0]))[:1]
        ref = checks.textrank_reference(checks.read_sentences(os.path.join(input_dir, pid + ".txt")))
        if not checks.top_k_matches(top, ref, k=1, tol=1e-9):
            errs.append(f"{pid} grouped textrank top {top} differs from numpy")
    return errs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found under src/main/scala/graft")
    with open(spec_file) as f:
        spec = json.load(f)

    cp = build()
    wdir = os.path.join(WORK, a.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    input_dir = os.path.join(wdir, "input")
    if a.workload == "bulk_product":
        topics = gen.bulk_product(input_dir, a.seed)
        gen.documents(input_dir, a.seed)
    else:
        gen.catalog(input_dir, a.seed)
    out = os.path.join(wdir, "result.json")
    steal0 = steal_seconds()
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1, input_dir, out)
    res["steal_s"] = steal_seconds() - steal0

    c = res["checks"]
    if not c:
        errs = ["an operation failed in the last pass: " + "; ".join(res["errors"][-3:])]
    elif a.workload == "bulk_product":
        errs = check_bulk(c, topics, input_dir)
    else:
        errs = check_catalog(c, input_dir)
    for e in errs:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    if a.trace:
        layer = res["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        record = dict(res, seed=a.seed, traced_pass_s=res["end_to_end"]["pass_s"])
        untraced = os.path.join(WORK, "results", f"{a.workload}-{a.seed}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["pass_s"]
            record["untraced_pass_s"] = base
            record["tracing_overhead"] = record["traced_pass_s"] / base - 1.0
        name = f"{a.workload}-{a.seed}-trace.json"
    else:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        record = dict(res, seed=a.seed)
        name = f"{a.workload}-{a.seed}.json"
    record.pop("checks", None)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(dict(record, check_errors=errs), f, indent=1)
    print(json.dumps({"correct": not errs, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
