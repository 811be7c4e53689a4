#!/usr/bin/env python3
"""OpenAIR pipeline benchmark: four workloads on local[4], one command.

    python3 perfbench/run.py --workload ingest|cover|join|skew|all \
        [--seed 1] [--seconds 10] [--trace 0|1]

Run from the repository root. The benchmark generates its inputs from
`--seed` (perfbench/gen.py, cached per seed under .perfbench_work/),
starts one Spark session, prepares the workload, runs its job once
cold and then warm for `--seconds`, runs the correctness checks and
prints every metric by name with its unit. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 is a separate run
that records spans around every call into the engine, measures each hot
layer as kernel (driver process, one core), operator (one Spark operator
over materialized inputs) and full job, adds the local[1] -> local[4]
scaling row, reports the per-layer metrics and writes the spans to
.perfbench_work/traces/ as one JSON file.

Spark conf, workload sizes and the layer -> metric -> workload map are
in perfbench/setup.json.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("ingest", "cover", "join", "skew")
KEEP_INPUTS = 8

E2E_UNITS = {"setup_s": "s", "job_s": "s", "input_rows_per_s": "1/s",
             "ok_share": "share"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=None,
                    help="input seed (default: setup.json default_seed)")
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="how long the warm jobs are measured")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process (each needs a fresh session)."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.seed is not None:
            cmd += ["--seed", str(args.seed)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def make_inputs(name: str, seed: int, cfg: dict):
    """Generated inputs of the workload, cached per seed, spec and
    generator source; only the newest KEEP_INPUTS sets are kept."""
    import hashlib

    import gen

    spec = cfg["workloads"][name]
    key = json.dumps({"pages": spec["pages"], "points": spec["points"],
                      "files": cfg["input_files"],
                      "gen": (HERE / "gen.py").read_text()}, sort_keys=True)
    out = WORK / "inputs" / f"{name}-s{seed}-{hashlib.sha256(key.encode()).hexdigest()[:12]}"
    counts = gen.write_inputs(seed, spec, str(out), cfg["input_files"])
    os.utime(out)
    for old in sorted((WORK / "inputs").iterdir(), key=lambda p: p.stat().st_mtime,
                      reverse=True)[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    with open(out / "truth.json") as fh:
        truth = json.load(fh)
    return SimpleNamespace(pages_dir=str(out / "pages"), points_dir=str(out / "points"),
                           truth=truth, counts=counts)


def start_session(cfg: dict, master: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(master).appName("perfbench")
    for k, v in cfg["spark"]["conf"].items():
        b = b.config(k, v)
    b = (b.config("spark.local.dir", str(WORK / "spark-local"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData "
                 + cfg["spark"]["jvm_options"]))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(sc) -> float:
    """VmHWM of the driver JVM. It varied by more than a tenth from run
    to run on a 4-core, 15 GB host (heap growth follows GC timing), so
    it is a per-layer number of the traced run, not an end-to-end metric."""
    with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def main(argv) -> int:
    args = parse_args(argv)
    if not (ROOT / "openair_spark" / "__init__.py").is_file():
        print(f"perfbench: no openair_spark package under {ROOT}; run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2
    with open(HERE / "setup.json") as fh:
        cfg = json.load(fh)
    if args.workload == "all":
        return run_all(args)
    seed = cfg["default_seed"] if args.seed is None else args.seed

    for sub in ("tmp", "spark-local", "traces", "inputs"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [str(ROOT), str(HERE)]
    import tempfile
    tempfile.tempdir = None

    gen_t0 = time.perf_counter()
    inputs = make_inputs(args.workload, seed, cfg)
    gen_s = time.perf_counter() - gen_t0

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        return measure(args, cfg, seed, inputs, gen_s, str(run_dir))
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_jvm() -> None:
    """Stop the Spark session and wait for its JVM to exit; PySpark
    leaves the JVM to die after the interpreter. The JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def measure(args, cfg, seed, inputs, gen_s, run_dir) -> int:
    import checks
    from spans import Tracer
    from workloads import Workload

    name, traced = args.workload, bool(args.trace)
    spec = cfg["workloads"][name]
    spark = start_session(cfg, cfg["spark"]["master"])
    session_s = time.perf_counter() - T_START - gen_s
    tracer = Tracer(spark.sparkContext, enabled=traced)
    # the H3/S2 cover checks (cover workload) sample 48 urls, about 90
    # polygons: the sample at which ops.h3tiles' known vertex misses show
    # on about a quarter of seeds (setup.json known_defect)
    samples = {"points": checks.sample(range(inputs.counts["points"]), 400, seed),
               "urls": checks.sample(inputs.truth, checks.SAMPLE * 2, seed)}
    w = Workload(name, spark, tracer, inputs, spec, run_dir, samples)
    failures: list[str] = []

    # set-up: session start once, then the program's own preparation
    # repeated; setup_s uses the median preparation time
    prep = []
    # traced runs prepare once: setup_s is not reported there
    for i in range(1 if traced else cfg["setup_repeats"]):
        if i:
            w.release()
        t0 = time.perf_counter()
        with tracer.span("setup", repeat=i):
            w.prepare()
        prep.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(prep)

    results, times, traced_times = [], [], []
    cold_s, first = float("nan"), 1

    def run_job(k: int, label: str):
        t0 = time.perf_counter()
        with tracer.span(label, k=k):
            out = w.job(k)
        dt = time.perf_counter() - t0
        results.append(w.settle(out))
        w.cleanup(k)
        return dt

    # JIT and caches keep settling over the first jobs: jobs run
    # unmeasured until warmup_s have passed since the cold one started,
    # so a short job gets warm-up jobs and a long one only its cold run.
    # The traced run reports no job_s and needs one untraced and one
    # traced warm job; its per-layer and scaling measurements leave no
    # time for more within the run's time limit.
    min_warm = 2 if traced else cfg["min_warm_jobs"]
    try:
        t_cold = time.perf_counter()
        cold_s = run_job(0, "job.cold")
        k = 1
        while not traced and time.perf_counter() - t_cold < cfg["warmup_s"]:
            run_job(k, "job.warmup")
            k += 1
        deadline = time.perf_counter() + args.seconds
        first = k
        while k < first + min_warm or time.perf_counter() < deadline:
            # the traced run alternates untraced and traced warm jobs so
            # the tracing overhead is measured in the same window
            tracer.enabled = traced and k % 2 == 0
            dt = run_job(k, "job")
            (traced_times if tracer.enabled else times).append(dt)
            k += 1
        tracer.enabled = traced
    except Exception:  # a failed job is reported, not raised
        traceback.print_exc()
        failures.append("job")

    check_list = []
    if not failures:
        with tracer.span("checks"):
            check_list = run_checks(w, checks, inputs, seed, cfg, results)
    for cname, ok, detail, dt in check_list:
        print(f"check {cname}: {'ok' if ok else 'FAILED'} ({detail}) [{dt:.2f} s]",
              flush=True)

    totals = tracer.totals
    n_checks = len(check_list)
    bad_checks = sum(not c[1] for c in check_list)
    attempted = totals["jobs"] + totals["tasks"] + n_checks + len(failures)
    failed = (totals["jobs_failed"] + totals["tasks_failed"] + bad_checks
              + len(failures))
    job_s = statistics.median(times) if times else float("nan")

    if traced and not failures:
        import layers
        peak = jvm_peak_rss_mb(spark.sparkContext)
        layer_metrics = layers.measure_all(w, cfg, tracer, times, traced_times,
                                           start_session)
        layer_metrics["jvm.peak_rss_mb"] = (peak, "MB")
        layer_metrics["job.cold_s"] = (cold_s, "s")
        missing = set(layers.PER_LAYER) ^ set(layer_metrics)
        if missing:
            raise RuntimeError(f"per-layer metrics out of step: {sorted(missing)}")
        path = layers.write_trace(WORK / "traces", name, seed, tracer,
                                  layer_metrics, check_list)
        print(f"trace written to {os.path.relpath(path, ROOT)}", flush=True)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer_metrics.items()}
    else:
        values = {"setup_s": setup_s, "job_s": job_s,
                  "input_rows_per_s": w.input_rows / job_s,
                  "ok_share": 1.0 - failed / max(attempted, 1)}
        # a failed job leaves no time; 0 stands in and correct is false
        metrics = {k: {"value": values[k] if math.isfinite(values[k]) else 0.0,
                       "unit": E2E_UNITS[k]} for k in E2E_UNITS}
        spark.stop()
        print(f"workload {name}: seed {seed}, {w.input_rows} input rows, "
              f"{len(times)} warm jobs of {', '.join(f'{t:.2f}' for t in times)} s "
              f"(job_s is their median), cold job {cold_s:.2f} s and {first - 1} "
              f"warm-up jobs before them, "
              f"session start {session_s:.2f} s, preparation "
              f"{', '.join(f'{p:.2f}' for p in prep)} s, "
              f"inputs generated in {gen_s:.2f} s (not counted)", flush=True)
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}", flush=True)
    correct = failed == 0 and not failures
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


def run_checks(w, checks, inputs, seed, cfg, results) -> list:
    """Every check of the workload as (name, ok, detail, seconds)."""
    name, out = w.name, []

    def timed(fn, *args):
        t0 = time.perf_counter()
        got = fn(*args)
        dt = time.perf_counter() - t0
        for c in (got if isinstance(got, list) else [got]):
            out.append((*c, dt))

    timed(checks.extraction, w.pages(), inputs.truth)
    if name == "ingest":
        outputs = w.ingest_outputs()
        feats = w.spark.read.parquet(f"{w.ctx['ingest_out']}/features")
        tiles = w.spark.read.parquet(f"{w.ctx['ingest_out']}/tiles")
        timed(checks.parse_sample, feats, inputs.truth, seed)
        timed(checks.quadkey_covers, tiles, feats, seed)
    else:
        outputs = results[-1]
        timed(checks.parse_sample, w.ctx["features"], inputs.truth, seed)
    if name == "cover":
        timed(checks.h3_s2_covers, w.ctx["features"], outputs, w.input_rows,
              w.samples["urls"])
    if name in ("join", "skew"):
        pts = checks.sample_points(inputs.points_dir, w.samples["points"])
        timed(checks.pip_hits, outputs["pip"], w.ctx["polygons"], pts)
    if name == "skew":
        timed(checks.knn_top3, outputs["knn"], w.ctx["centroids"], pts)
    if name == "join":  # its job runs no kNN: run it on the sampled points
        timed(checks.knn_top3, w.knn_sample(), w.ctx["centroids"], pts)
    timed(checks.repeatable, results)
    print("outputs " + json.dumps({k: {m: v for m, v in o.items() if m != "sample"}
                                   for k, o in outputs.items()}, sort_keys=True),
          flush=True)
    if seed == cfg["default_seed"]:
        with open(HERE / "pinned.json") as fh:
            pinned = json.load(fh)
        timed(checks.pinned, name, outputs, pinned.get(name))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
