"""The repo's benchmark: drives the engine in process through
`graft.api.GraftService` with seeded synthetic memories and prints one JSON
result line.

    python3 perfbench/run.py --workload <hot-compacted|ingest-compact>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles (perfbench/build.py).
With --trace 0 the result holds the end-to-end metrics; with --trace 1 the
per-layer metrics, from spans recorded around the calls into `api`, `core`
and `operators`. Each run keeps a report (metrics, provenance, span table)
in perfbench/.work/results/; a traced run's report also gives the tracing
overhead against the untraced reports of the same workload found there.
A run whose answers are wrong prints correct=false and exits 1; its
working directory is kept.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("hot-compacted", "ingest-compact")
HEAP = ["-Xms2g", "-Xmx2g"]
# the module opens spark-submit adds on JDK 17, which Spark needs
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 170
RESULTS = BENCH / ".work" / "results"


def git_commit():
    try:
        out = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def overhead(workload, traced_e2e):
    """Traced minus untraced median of each end-to-end metric, over the
    untraced reports of this workload kept in the results directory."""
    untraced = []
    for f in RESULTS.glob(f"{workload}-s*-t0.json"):
        try:
            untraced.append(json.loads(f.read_text())["end_to_end"])
        except (OSError, ValueError, KeyError):
            continue
    if not untraced:
        return None
    return {"untraced_runs": len(untraced),
            "delta": {k: v - stats.median([u[k] for u in untraced if k in u])
                      for k, v in traced_e2e.items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    try:
        classes, jars, digest = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    work = BENCH / ".work" / f"run-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    log_path = work / "jvm.log"
    cmd = ["java", *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", *ADD_OPENS,
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work),
           "--src", str(build.PROGRAM_SRC / "graft"), "--out", str(raw_path)]
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  cwd=work, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; kept {work}")
    if proc.returncode != 0 or not raw_path.is_file():
        tail = log_path.read_text(errors="replace")[-3000:]
        sys.exit(f"perfbench: JVM exited {proc.returncode}; kept {work}\n{tail}")
    raw = json.loads(raw_path.read_text())

    e2e, tail_pcts = stats.end_to_end(raw)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "reason": raw["reason"],
        "provenance": {
            "nproc": raw["nproc"], "heap": HEAP, "heap_max_mb": raw["heap_max_mb"],
            "spark_conf": raw["spark_conf"], "git_commit": git_commit(),
            "source_digest": digest, "jvm_wall_s": time.time() - t0,
            "jvm_phase_s": raw["phase_s"],
        },
        "attempted": raw["attempted"], "failed": raw["failed"], "failures": raw["failures"],
        "sample_counts": {k: len(v) for k, v in raw["samples"].items()},
        "small_samples": {k: v for k, v in raw["samples"].items() if len(v) <= 50},
        "tail_percentiles": tail_pcts,
        "op_p50_ms": {k: stats.median(v) for k, v in raw["samples"].items()
                      if k.startswith(("served_ms.", "query_ms.", "served_window_ms."))},
        "repeat_share": raw["scalars"].get("repeats", 0) / max(1, raw["scalars"].get("reads", 0)),
        "end_to_end": e2e,
    }
    units = dict(stats.END_TO_END)
    if a.trace:
        spans = stats.span_dicts(raw)
        report["listener_settled"] = raw["listener_settled"]
        report["per_layer"] = {n: v for n, _, v in stats.per_layer(raw)}
        report["spans"] = stats.span_stats(spans)
        report["tracing_overhead"] = overhead(a.workload, e2e)
        metrics = {n: {"value": v, "unit": u} for n, u, v in stats.per_layer(raw)}
        RESULTS.mkdir(parents=True, exist_ok=True)
        (RESULTS / f"{a.workload}-s{a.seed}-spans.json").write_text(
            json.dumps({"fields": raw["span_fields"], "spans": raw["spans"]}))
    else:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n, _ in stats.END_TO_END}
    RESULTS.mkdir(parents=True, exist_ok=True)
    (RESULTS / f"{a.workload}-s{a.seed}-t{a.trace}.json").write_text(json.dumps(report, indent=1))

    correct = raw["failed"] == 0
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print(f"perfbench: {raw['failed']} failed operations; kept {work}", file=sys.stderr)
        for f in raw["failures"]:
            print(f"  {f}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
