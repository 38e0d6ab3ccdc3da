#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from anywhere inside a checkout of the repository. The first run
builds graft from source with perfbench/build.sbt (the repository's own
build.sbt is a source dependency); later runs reuse the build while the
sources are unchanged.
Everything a run writes lands under .bench_build/perfbench/.

Workloads:
  serve_search  one closed-loop HTTP client sends a fixed seeded mix of
                searches (exact, medium, radius, filtered kNN, filtered
                listing) to graft.serving.HttpBinding over a compacted
                10k-row collection; the timed op is one search request.
  batch_lines   passes over declared SparkEntry lines on the suite's sf0.001
                tables, copied into perfbench/data; the timed op is one
                line call, fn(spark, dir) followed by
                queryExecution.toRdd.count().

Every run checks outputs: searches against brute force, line row counts
against the cold pass, which must find rows. The last line of stdout is
one JSON object: correct, attempted, failed and the metrics (end-to-end
with --trace 0, per-layer with --trace 1), each with its unit. The full result, with the run context,
goes to .bench_build/perfbench/results/<workload>-c<cpus>-seed<n>-trace<t>.json,
keyed on the core count the JVM saw; in a traced run the spans go to
.bench_build/perfbench/runs/<workload>-seed<n>-trace1.raw.json.spans.jsonl.
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
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
LAUNCH = HERE / "target" / "launch.args"
HEAP = "3g"
# A run must end within 180 s, not counting a first build.
RUN_BUDGET_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def source_files():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    files += [p for p in (ROOT / "project").glob("*.properties")]
    files += [p for p in (HERE / "project").glob("*.properties")]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return files


def build():
    """Compile graft and the benchmark unless the last build was of the
    same sources; return the source digest."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("graft's build.sbt and src/main/scala are not beside perfbench/; "
            "run from a checkout of the repository")
    want = digest(source_files())
    stamp = OUT / "build.stamp"
    if LAUNCH.is_file() and stamp.is_file() and stamp.read_text() == want:
        return want
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    print("perfbench: building graft and the benchmark", file=sys.stderr)
    res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFile"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=840)
    if res.returncode != 0 or not LAUNCH.is_file():
        die(f"build failed (sbt exit {res.returncode})")
    OUT.mkdir(parents=True, exist_ok=True)
    stamp.write_text(want)
    return want


def commit():
    """The git commit of the checkout, when it is a git repository."""
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return None
    return res.stdout.strip() if res.returncode == 0 else None


def run_jvm(args, raw_path, work, deadline):
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"@{LAUNCH}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", str(raw_path), "--work", str(work), "--data", str(HERE / "data")]
    proc = subprocess.Popen(cmd, cwd=OUT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("the run did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated run still stops its JVM: SystemExit runs run_jvm's finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(stats.MIX))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sources = build()
    deadline = time.monotonic() + RUN_BUDGET_S

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    runs = OUT / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    raw_path = runs / f"{name}.raw.json"
    raw_path.unlink(missing_ok=True)
    work = OUT / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code = run_jvm(args, raw_path, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not raw_path.is_file():
        die(f"the benchmark JVM failed (exit {code})")

    raw = json.loads(raw_path.read_text())
    drift = stats.design_drift(raw["context"], args.workload)
    if drift:
        die(drift)
    attempted, failed, samples = stats.account(raw["ops"], args.workload)
    correct = failed == 0 and len(samples) > 0
    if args.trace:
        spans_path = Path(str(raw_path) + ".spans.jsonl")
        spans = [json.loads(line) for line in spans_path.read_text().splitlines() if line]
        values = stats.per_layer(raw, spans, args.workload)
        units = dict(stats.PER_LAYER)
    else:
        values = stats.end_to_end(raw, args.workload)
        units = dict(stats.END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    context = dict(raw["context"], commit=commit(), source_sha256=sources, samples=len(samples),
                   by_kind=stats.kind_summary(raw["ops"], args.workload),
                   rss_peak_mb=raw["rss_peak_mb"],
                   failed_frac=failed / attempted if attempted else 1.0,
                   setup_marks_s={k[5:]: v for k, v in raw["layer"].items()
                                  if k.startswith("mark.")},
                   cold_rows={k[5:]: int(v) for k, v in raw["layer"].items()
                              if k.startswith("rows.")},
                   failures=raw["failures"])
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    results = OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    full = dict(result, context=context)
    if args.trace:
        full["spans_file"] = str(spans_path.relative_to(ROOT))
    # keyed on the core count the JVM saw, which honours CPU quotas
    keyed = f"{args.workload}-c{raw['context']['cpus']}-seed{args.seed}-trace{args.trace}"
    (results / f"{keyed}.json").write_text(json.dumps(full, indent=1))
    print(json.dumps({"context": context}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
