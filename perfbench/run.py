#!/usr/bin/env python3
"""graft's benchmark: three seeded workloads through graft's public API.

    python3 perfbench/run.py --workload <curate|vector_pairs|pipeline_serve>
        --seed <n> --seconds <s> --trace <0|1> [--plant 1]
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles graft and the
harness (perfbench/build.py) into .bench_build/. Each run generates its
inputs from the seed, sets up, measures for --seconds, checks every output
(DuckDB oracle, coherence, invariants) and prints each metric by name with
its unit, then one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones from
a traced run, whose spans go to .bench_build/spans/<workload>-<seed>.tsv.
--plant 1 drops one output row before checking, which the checks must
catch; --selftest runs that on every workload.
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("curate", "vector_pairs", "pipeline_serve")
END_TO_END = ["setup_s", "pass_s", "get_p50_ms", "get_p95_ms", "put_p50_ms",
              "ops_per_s", "peak_rss_mb"]
PER_LAYER = (
    ["stage." + k for k in ("jobs", "stages", "tasks", "jobs_per_get", "stages_per_get",
                            "task_cpu_s", "task_run_s", "shuffle_read_mb", "shuffle_write_mb",
                            "spill_mb", "task_skew", "core_busy", "storage_peak_mb")]
    + ["plans.plan_ms"]
    + ["pipeline." + k for k in ("get_call_ms", "memory_frac", "memory_get_ms", "parquet_frac",
                                 "parquet_get_ms", "source_frac", "source_get_ms", "put_call_ms")]
    + ["functions." + k + "_ns" for k in ("levenshtein", "shingle", "minhash", "char_fold",
                                          "simhash", "dot", "cosine", "bit_hamming")]
    + ["text.quality_ns", "text.rowgates_s"]
    + ["dedup." + k for k in ("d19_edit_s", "d21_substring_s", "d12_estimate_s", "d9_segment_s",
                              "d10_contain_s", "d20_semantic_s", "d5_embed_s", "d14_simhash_s",
                              "pair_yield")]
    + ["similarity.s15_knn_s", "multimodal.m6_phash_s"]
    + ["self." + k + "_share" for k in ("bench", "pipeline", "call", "plans", "stage")]
    + ["overhead." + k for k in END_TO_END[1:6]]
    + ["load.start_s", "load.end_s"])
JVM_TIMEOUT_S = 160
SPANS = os.path.join(ROOT, ".bench_build", "spans")


def run(workload, seed, seconds, trace, plant=False):
    """Returns (result line dict, notes) for one run."""
    build.build()
    work = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        subprocess.run(build.java_cmd(work, [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--plant", "1" if plant else "0"]),
            check=True, timeout=JVM_TIMEOUT_S, stdout=sys.stderr)
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        notes = list(res["notes"])
        failed = res["failed"]
        for name, reason, dependents in oracle.check(res["inputs"], res["oracle"]):
            if reason:
                failed += dependents + 1
                notes.append(f"FAIL oracle {name}: {reason}")
            else:
                notes.append(f"oracle {name}: matches DuckDB")
        attempted = res["attempted"] + len(res["oracle"])
        wanted = PER_LAYER if trace else END_TO_END
        metrics = {}
        for k in wanted:
            m = res["metrics"].get(k)
            if m is None or m["value"] is None or not math.isfinite(m["value"]):
                raise SystemExit(f"perfbench: metric {k} was not measured")
            metrics[k] = {"value": m["value"], "unit": m["unit"]}
        notes.append(f"load context: calibration probe {res['load']['start_s']:.3f} s at start, "
                     f"{res['load']['end_s']:.3f} s at end")
        line = {"correct": failed == 0, "attempted": attempted,
                "failed": min(failed, attempted), "metrics": metrics}
        return line, notes
    finally:
        # a traced run's spans outlive its scratch directory
        spans = os.path.join(work, "spans.tsv")
        if os.path.exists(spans):
            os.makedirs(SPANS, exist_ok=True)
            os.replace(spans, os.path.join(SPANS, f"{workload}-{seed}.tsv"))
        shutil.rmtree(work, ignore_errors=True)


def report(line, notes):
    for n in notes:
        print(f"# {n}")
    for k, m in line["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {line['failed'] / line['attempted']:.6g} "
          f"({line['failed']} of {line['attempted']} operations)")
    print(json.dumps(line))


def selftest():
    """A planted dropped row must make every workload report failures."""
    ok = True
    for w in WORKLOADS:
        line, notes = run(w, 1, 1, trace=False, plant=True)
        caught = line["failed"] > 0 and not line["correct"]
        ok &= caught
        print(f"selftest {w}: planted row {'caught' if caught else 'MISSED'} "
              f"(failed {line['failed']} of {line['attempted']})")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    line, notes = run(a.workload, a.seed, a.seconds, a.trace == 1, a.plant == 1)
    report(line, notes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
