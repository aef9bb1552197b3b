#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <route|render|resume|queries> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt) and records a JVM
class-data-sharing archive; later runs reuse both while the sources are
unchanged. The JVM harness
(perfbench.Harness) generates the seeded input, sets up, runs the timed
closed loop and writes a record; this script then checks the outputs with
DuckDB (gate.py), prints the full record as one JSON line, and prints as the
last line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Exit code 0 when the run completed and its outputs are correct.

Options for the self-test only: --size smoke, --inject-failure 1,
--tamper-gate 1, --record <file> (also write the record there).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gate  # noqa: E402
import gen  # noqa: E402

HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
KEEP_INPUTS = 6
CDS_ARCHIVE = "classes.jsa"
# The headline route composition, the ROADMAP-flagged TextOps (t14) and
# Similarity (e3) queries, one Multimodal and one relational query: a pass
# has to fit one run.
QUERIES = ["p4_route_counts", "t14_unigram_quality", "e3_knn_ivf",
           "m3_media_features", "q3_join_shuffle"]
# (turns, files or slices); `smoke` is the self-test size
SIZES = {
    "full": {"render": (1_000, 4), "resume": (15_000, 5),
             "queries": QUERIES, "ladder_reps": 2},
    "smoke": {"render": (400, 2), "resume": (8_000, 4),
              "queries": ["p4_route_counts", "m3_media_features"], "ladder_reps": 1},
}
WORKLOADS = ["render", "resume", "queries"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars directory the program's build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        fail("build.sbt sets no unmanagedBase", 3)
    return m.group(1)


def java_cmd(jar, main_class):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Duser.timezone=UTC",
               "-cp", jar + os.pathsep + os.path.join(spark_jars(root), "*"), main_class])


def build(root, out_dir):
    """Package the program and the harness with sbt, export the program's
    SQL texts, and record a class-data-sharing archive of the classes a
    short run loads (it halves the JVM's class-loading time at start-up).
    Skipped while the sources are unchanged. Returns (jar, texts)."""
    jar = os.path.join(root, "perfbench", "target", "scala-2.13", "perfbench_2.13-0.jar")
    stamp_file = os.path.join(out_dir, "build.stamp")
    texts_file = os.path.join(out_dir, "texts.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(jar) and os.path.exists(texts_file):
        with open(texts_file) as fh:
            return jar, json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    for f in (stamp_file, os.path.join(out_dir, CDS_ARCHIVE)):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    flags = SBT_FLAGS + ([f"-Dsbt.repository.config={repo_cfg}"]
                         if os.path.exists(repo_cfg) else [])
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(["sbt"] + flags + ["package"], cwd=os.path.join(root, "perfbench"),
                               stdout=fh, stderr=subprocess.STDOUT, env=env,
                               timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    if r.returncode != 0 or not os.path.exists(jar):
        fail(f"build failed; see {log}", 3)
    r = subprocess.run(java_cmd(jar, "perfbench.Export") + [texts_file],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       stdin=subprocess.DEVNULL, timeout=120)
    if r.returncode != 0:
        fail("exporting the program's SQL texts failed", 3)
    with open(texts_file) as fh:
        texts = json.load(fh)
    record_class_archive(root, out_dir, jar, texts)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar, texts


def record_class_archive(root, out_dir, jar, texts):
    """One smoke-size render run that dumps the classes it loaded. A run
    without the archive (or with a stale one) still works, only slower to
    start, so a failure here is not fatal."""
    data = os.path.join(root, "perfbench", "data", "sf0.001")
    input_dir, manifest = gen.json_turns(texts, data, os.path.join(out_dir, "inputs"),
                                         *SIZES["smoke"]["render"], 0)
    work = os.path.join(out_dir, "cds-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(jar, "perfbench.Harness")
    cmd[1:1] = [f"-XX:ArchiveClassesAtExit={os.path.join(out_dir, CDS_ARCHIVE)}",
                f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
                "-Dspark.ui.enabled=false"]
    cmd += ["--workload", "render", "--seed", "0", "--seconds", "1", "--root", root,
            "--input", input_dir, "--work", work, "--out", os.path.join(work, "record.json"),
            "--turns", str(manifest["turns"])]
    with open(os.path.join(out_dir, "cds.log"), "w") as fh:
        try:
            subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=300)
        except subprocess.TimeoutExpired:
            pass
    shutil.rmtree(work, ignore_errors=True)


def git_commit(root):
    """HEAD of the checkout, or "unknown" outside a git repository (the
    source hash in the env block identifies the code either way)."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def prune_inputs(cache):
    """Keep the most recently used generated inputs of each kind."""
    if not os.path.isdir(cache):
        return
    by_kind = {}
    for d in os.listdir(cache):
        by_kind.setdefault(d.rsplit("-", 1)[0], []).append(os.path.join(cache, d))
    for dirs in by_kind.values():
        dirs.sort(key=os.path.getmtime, reverse=True)
        for d in dirs[KEEP_INPUTS:]:
            shutil.rmtree(d, ignore_errors=True)


def make_input(texts, root, cache, args):
    """Generate (or reuse) the seeded input; returns (dir, manifest)."""
    size = SIZES[args.size]
    data = os.path.join(root, "perfbench", "data", "sf0.001")
    make = {"render": gen.json_turns, "resume": gen.sliced_turns}
    if args.workload in make:
        n, parts = size[args.workload]
        return make[args.workload](texts, data, cache, n, args.seed, parts)
    return data, {"queries": size["queries"]}


def run_jvm(root, jar, args, input_dir, manifest, work, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    size = SIZES[args.size]
    cmd = java_cmd(jar, "perfbench.Harness")
    archive = os.path.join(root, ".bench_build", "perfbench", CDS_ARCHIVE)
    if os.path.exists(archive):
        cmd[1:1] = [f"-XX:SharedArchiveFile={archive}"]
    cmd[1:1] = [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
                f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", root, "--input", input_dir, "--work", work, "--out", out,
            "--queries", ",".join(size["queries"]), "--ladder-reps", str(size["ladder_reps"]),
            "--turns", str(manifest.get("turns", 0)),
            "--slice-rows", ",".join(map(str, manifest.get("slice_rows", []))),
            "--late", str(manifest.get("late_turns", 0)),
            "--inject-failure", str(args.inject_failure)]
    env = dict(os.environ,
               SPARK_GRAFT_MODEL_DIR=os.path.join(work, "ann_model"),
               SPARK_GRAFT_BPE_MODEL_DIR=os.path.join(work, "bpe_model"),
               SPARK_GRAFT_DEDUP_INDEX_DIR=os.path.join(work, "dedup_index"),
               SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None, log
    if rc != 0 or not os.path.exists(out):
        return None, log
    with open(out) as fh:
        return json.load(fh), log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    ap.add_argument("--inject-failure", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tamper-gate", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record")
    args = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json is missing")
    with open(bench_json) as fh:
        spec = json.load(fh)

    out_dir = os.path.join(root, ".bench_build", "perfbench")
    jar, texts = build(root, out_dir)
    deadline = time.time() + JVM_TIMEOUT_S
    cache = os.path.join(out_dir, "inputs")
    prune_inputs(cache)
    gen_t0 = time.time()
    input_dir, manifest = make_input(texts, root, cache, args)
    gen_s = time.time() - gen_t0
    work = os.path.join(out_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_t0 = time.time()
        rec, log = run_jvm(root, jar, args, input_dir, manifest, work,
                           os.path.join(work, "record.json"), deadline)
        jvm_s = time.time() - jvm_t0
        if rec is None:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail("harness failed or timed out", 4)
        rec["input"].update(manifest, generate_s=gen_s)
        gate_t0 = time.time()
        try:
            ok, details = gate.check(rec, texts, input_dir, bool(args.tamper_gate))
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, details = False, {"error": f"{type(e).__name__}: {e}"}
        if os.path.exists(os.path.join(work, "spans.json")):
            with open(os.path.join(work, "spans.json")) as fh:
                rec["spans"] = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["gate_result"] = {"ok": ok, **details}
    rec["phases_s"] = {"generate": gen_s, "jvm": jvm_s, "gate": time.time() - gate_t0}
    rec["started_unix"] = started
    rec["run_wall_s"] = time.time() - started
    rec["env"]["commit"] = git_commit(root)
    rec["env"]["source_sha256"] = source_stamp(root)
    n_ok = sum(1 for u in rec["units"] if u["ok"])
    tail = rec.pop("tail") or {}
    # the highest percentile with ten samples beyond it; none below 11 units
    rec["e2e"]["batch_s_tail"] = {"value": tail.get("value"), "unit": "s",
                                  "percentile": tail.get("percentile"), "samples": n_ok}
    if rec["workload"] == "resume" and "fail_ratio" in details:
        # lost late turns are reported, not hidden: they do not abort the run
        rec["e2e"]["fail_ratio"] = {"value": details["fail_ratio"], "unit": "ratio"}
        rec["layers"]["ckpt.lost_turns"] = {"value": details["lost_turns"], "unit": "count"}
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(rec, fh)

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = rec["per_layer" if args.trace else "e2e"]
    missing = [n for n in names if n not in source or source[n]["value"] is None]
    print(json.dumps({"record": {k: v for k, v in rec.items() if k != "spans"}}))
    correct = ok and not missing
    metrics = {n: source[n] for n in names if n not in missing}
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct and rec["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
