#!/usr/bin/env python3
"""Self-test of the benchmark at smoke size (sf0.001-derived input, one
short run per workload and trace mode).

    python3 perfbench/selftest.py

Run from the root of a checkout. It shows that:
  1. every metric of BENCHMARK.json prints on the result line with its unit,
     and the record names every end-to-end and layer metric the workload
     defines, with its unit;
  2. the gate catches a deliberately wrong expected count (--tamper-gate);
  3. a job that throws counts as failed and is left out of the timings
     (--inject-failure);
  4. a directory holding only BENCHMARK.json and perfbench/ makes run.py
     exit non-zero without printing a result.
Exit code 1 when any check fails.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

# metrics each workload's record must carry, beyond BENCHMARK.json's
E2E = {
    "render": ["setup_s", "turns_per_s", "batch_s_p50", "batch_s_tail", "stmts_per_s",
               "cpu_s", "heap_peak_mb", "sink_bytes_per_turn", "fail_ratio"],
    "resume": ["setup_s", "turns_per_s", "batch_s_p50", "batch_s_tail", "cpu_s",
               "heap_peak_mb", "sink_bytes_per_turn", "fail_ratio"],
    "queries": ["setup_s", "queries_s", "cpu_s", "heap_peak_mb", "fail_ratio"],
}
ROUTE_LADDER = ["route.scan_s", "route.input_bytes", "route.parse_s", "route.filter_s",
              "route.valid_ratio", "route.enrich_s", "route.route_s", "route.agg_s",
              "route.broadcast_build_ms", "route.shuffle_write_bytes", "route.exec_cpu_s",
              "route.gc_s", "route.tasks", "route.task_max_over_p50",
              "route.ladder_sum_ratio"]
LAYERS = {
    "render": ["render.read_s", "render.ddl_schemas_s", "render.ddl_tables_s",
               "render.ddl_child_tables_s", "render.ddl_alter_s", "render.ddl_alter_child_s",
               "render.insert_s", "render.child_insert_s", "render.update_s",
               "render.delete_s", "render.all_s", "render.stmts", "main.jobs",
               "main.rejects_s", "main.count_s", "main.write_s", "main.ledger_s",
               "main.shuffle_bytes", "main.spill_bytes", "main.write_task_share",
               "main.exec_cpu_s", "main.gc_s", "main.out_bytes"],
    "resume": ["ckpt.watermark_s", "ckpt.batches_s", "ckpt.route_count_s", "ckpt.commit_s",
               "ckpt.compact_s", "ckpt.jobs_per_increment", "ckpt.increment_growth",
               "ckpt.files_before_compact", "ckpt.files_after_compact", "ckpt.output_bytes",
               "ckpt.committed_turns", "ckpt.late_turns", "ckpt.lost_turns"] + ROUTE_LADDER,
    "queries": ["q.p4_route_counts_s", "queries.p_s", "queries.q_s", "queries.t_s", "queries.d_s", "queries.e_s",
                "queries.m_s", "queries.analysis_s", "queries.optimization_s",
                "queries.planning_s", "queries.jobs", "queries.exec_cpu_s",
                "queries.shuffle_bytes", "queries.gc_s"],
}

failures = []


def check(name, cond, detail=""):
    print(f"{'PASS' if cond else 'FAIL'} {name}" + (f" ({detail})" if detail and not cond else ""),
          flush=True)
    if not cond:
        failures.append(name)


def run(scratch, workload, trace, *extra, seconds="1"):
    rec = os.path.join(scratch, f"{workload}-{trace}-{len(os.listdir(scratch))}.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", seconds, "--trace", str(trace),
                        "--size", "smoke", "--record", rec, *extra],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    record = json.load(open(rec)) if os.path.exists(rec) else None
    return p.returncode, last, record


def has_unit(m):
    return isinstance(m, dict) and "unit" in m and "value" in m


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    scratch = os.path.join(".bench_build", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            rc, last, rec = run(scratch, w, trace)
            key = "per_layer" if trace else "end_to_end"
            want = [m["name"] for m in spec[key]]
            ok = rc == 0 and last is not None and last["correct"]
            check(f"{w} trace={trace} runs and passes its gate", ok, f"rc={rc}")
            if not ok:
                continue
            check(f"{w} trace={trace} result line has every {key} metric with its unit",
                  sorted(last["metrics"]) == sorted(want)
                  and all(has_unit(v) for v in last["metrics"].values()))
            if trace:
                missing = [n for n in LAYERS[w] if not has_unit(rec["layers"].get(n))]
                check(f"{w} layer metrics present with units", not missing, f"missing {missing}")
            else:
                missing = [n for n in E2E[w] if not has_unit(rec["e2e"].get(n))]
                check(f"{w} end-to-end metrics present with units", not missing,
                      f"missing {missing}")

    rc, last, rec = run(scratch, "resume", 0, "--tamper-gate", "1")
    check("gate rejects a wrong expected count",
          rc != 0 and last is not None and last["correct"] is False, f"rc={rc} last={last}")

    rc, last, rec = run(scratch, "queries", 0, "--inject-failure", "1", seconds="3")
    ok_walls = [u["wall_s"] for u in rec["units"] if u["ok"]] if rec else []
    check("a job that throws counts as failed", rc != 0 and last is not None
          and last["failed"] >= 1 and last["attempted"] > last["failed"], f"last={last}")
    check("a failed job is left out of the timings", bool(ok_walls) and abs(
        rec["e2e"]["batch_s_p50"]["value"] - statistics.median(ok_walls)) < 1e-9)

    bare = tempfile.mkdtemp(dir=".bench_build")
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check("without the program's sources it exits non-zero and prints no result",
          p.returncode != 0 and not p.stdout.strip())

    shutil.rmtree(scratch, ignore_errors=True)
    print(f"\n{len(failures)} check(s) failed" if failures else "\nall checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
