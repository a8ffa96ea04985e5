"""Benchmark of graft's `anonymize` job, end to end and by layer.

    python3 perfbench/run.py --workload pii_wide|dms_cdc|schema_many \
        --seed N --seconds S --trace 0|1

Builds the program from source (build.py), generates the workload's
inputs from the seed (gen.py, cached per workload, seed and size), then
runs `graft.app.Main.run` in a warm JVM (graft.perfbench.Harness) in a
closed loop with one client for S seconds, with real Parquet writes and
the real TOML config and validation files. Every job's output is checked
(check.py). `--trace 0` reports the end-to-end metrics; `--trace 1` makes
the traced run and reports the per-layer metrics. Every metric is printed
by name with its unit; the last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Operations are tables plus validation probes, per job: a table fails when
the job throws before writing it or its output check fails; the probes
fail with the job. error_rate = failed / attempted.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
# Untimed jobs after the warm-up job: the JIT goes on compiling Spark's
# driver code for this many jobs before job times level off.
WARM_JOBS = {"pii_wide": 5, "dms_cdc": 6, "schema_many": 1}
KEEP_FIXTURES = 6
DEADLINE_S = 170

# Module access Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def declared_units():
    """Name -> unit of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    return [{m["name"]: m["unit"] for m in doc[k]} for k in ("end_to_end", "per_layer")]


def fixture(workload, seed):
    """The cached fixture for (workload, seed, size) and its manifest;
    generated if absent."""
    base = os.path.join(build.BUILD, "fixtures")
    fx = os.path.join(base, f"{workload}-s{seed}-n{gen.SIZES[workload]}")
    if not os.path.isfile(os.path.join(fx, "complete")):
        os.makedirs(base, exist_ok=True)
        old = sorted((os.path.getmtime(os.path.join(base, d)), d) for d in os.listdir(base))
        for _, d in old[:max(0, len(old) - KEEP_FIXTURES + 1)]:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        gen.generate(workload, seed, fx)
        open(os.path.join(fx, "complete"), "w").close()
    os.utime(fx)
    with open(os.path.join(fx, "manifest.json")) as f:
        return fx, json.load(f)


def args_file(path, fx, manifest, nproc):
    """Writes `Main`'s argv, as the CLI would get it, one per line; {out}
    is filled per job."""
    args = (["anonymize", "--input-dir", os.path.join(fx, "input"), "--output-dir", "{out}",
             "--db-name", manifest["db"], "--schema-name", manifest["schema"],
             "--config-dir", os.path.join(fx, "config", "sync"),
             "--parallelism", str(nproc), "--master", f"local[{nproc}]"]
            + manifest["main_extra_args"])
    with open(path, "w") as f:
        f.write("\n".join(args) + "\n")
    return path


def kernel_arg(fx, manifest):
    def path(table):
        if manifest["dms"]:
            d = os.path.join(fx, "input", table)
            return os.path.join(d, sorted(f for f in os.listdir(d) if f.startswith("LOAD"))[0])
        return os.path.join(fx, "input", f"{table}.parquet")
    return ";".join(f"{k}={path(t)}#{c}" for k, (t, c) in sorted(manifest["kernel_columns"].items()))


def jvm(classes, mode, work, seconds, nproc, argv_file, extra, deadline):
    """Runs the harness JVM once; returns its result document."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, f"result-{mode}.json")
    # a fixed heap: a heap that grows on demand settles at a different size
    # from run to run, and job times follow it
    # more JIT compiler threads than the 3 a 4-core JVM gets: Spark's driver
    # code is large, and with 3 the compile queue lags behind for dozens of
    # jobs, so job times would fall for the whole run
    cmd = ([build.java(), *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:CICompilerCount=6",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
            "graft.perfbench.Harness", "--mode", mode, "--seconds", str(seconds),
            "--nproc", str(nproc), "--args", argv_file, "--work", work, "--result", result]
           + extra)
    env = {k: v for k, v in os.environ.items()
           if k not in ("RNG_SEED", "SKIP_VALIDATIONS", "NUM_OF_BUFFERS")}
    env["RECORD_REDUCTION_ENABLED"] = "true"
    log = os.path.join(work, f"jvm-{mode}.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
                               timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            sys.exit(f"harness JVM ({mode}) did not finish in time; see {log}")
    if p.returncode != 0 or not os.path.isfile(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"harness JVM ({mode}) failed with code {p.returncode}; see {log}")
    with open(result) as f:
        return json.load(f)


def stamp(nproc, load0, res):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    with open(os.path.join(build.BUILD, "classes.stamp")) as f:
        source = f.read()[:16]
    return {"nproc": nproc, "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "spark": res.get("spark_version"), "jvm": res.get("jvm_version"),
            "git_commit": commit, "source_digest": source}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (subprocess.run kills it on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    load0 = os.getloadavg()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    deadline = max(deadline, time.monotonic() + 120)   # the first run builds
    fx, manifest = fixture(a.workload, a.seed)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = ["--warm-jobs", str(WARM_JOBS[a.workload])]
    if a.trace:
        extra += ["--kernel", kernel_arg(fx, manifest)]
    res = jvm(classes, "trace" if a.trace else "measure", work, a.seconds, nproc,
              args_file(os.path.join(work, "args.txt"), fx, manifest, nproc), extra, deadline)
    passes = res["passes"]

    failed, amps, clean = check.check_jobs(fx, manifest, passes)
    missed = check.self_test(fx, clean, manifest, work) if clean else ["no clean job"]
    for m in missed:
        sys.stderr.write(f"self-test: corruption not caught: {m}\n")
    attempted = len(passes) * (len(manifest["tables"]) + manifest["probes"])

    end_to_end, per_layer = declared_units()
    if a.trace:
        metrics = {k: (res["layers"][k], u) for k, u in per_layer.items()}
    else:
        job = statistics.median(p["job_s"] for p in passes)
        values = {"job_s": job, "rows_per_s": manifest["input_rows"] / job,
                  "cpu_s": statistics.median(p["cpu_s"] for p in passes),
                  "setup_s": res["setup_s"],
                  "alloc_mb": statistics.median(p["alloc_mb"] for p in passes),
                  "write_amp": statistics.median(amps)}
        metrics = {k: (values[k], u) for k, u in end_to_end.items()}
    info = {"workload": a.workload, "seed": a.seed,
            "jobs_s": [round(p["job_s"], 4) for p in passes],
            "error_rate": failed / attempted, "setup_s": res["setup_s"],
            "session_s": res["session_s"], "warm_s": res.get("warm_s"),
            **stamp(nproc, load0, res)}
    if a.trace:
        info["trace_file"] = os.path.relpath(res["trace_file"], ROOT)
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"error_rate = {failed}/{attempted} = {failed / attempted:.6g}")
    print(json.dumps(info))
    os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
    with open(os.path.join(build.BUILD, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics}, f, indent=1)
    # the outputs were checked: only the trace and the logs are kept
    for p in passes:
        shutil.rmtree(p["out"], ignore_errors=True)
    for d in ("warmup", "warm"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not missed, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
