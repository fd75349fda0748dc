#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload pig-scripts --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Builds the engine and the harness from the sources next to this file
(skipped while they are unchanged), generates the workload's inputs from
the seed, runs one benchmark JVM on them (local[nproc], one client
thread), checks every answer against oracles that do not use graft, and
prints one JSON object as the last line of stdout: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.

`--smoke` runs every workload once on tiny inputs with every oracle and
the tracer on, and exits non-zero if anything fails. See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracles  # noqa: E402
import pigmix  # noqa: E402

WORKLOADS = ("pig-scripts", "curation", "dedup-ingest")
SEQ_TOKENS = 2048

# Input sizes and loop settings per workload; `smoke` is the fast
# self-test scale. `min_rounds` complete rounds are timed even when they
# take longer than --seconds.
SIZES = {
    "full": {
        "pig-scripts": {"scale": 0.1, "rounds": 60, "min_rounds": 2},
        "curation": {"docs": 1000, "replicas": 3, "files": 8,
                     "min_rounds": 1},
        "dedup-ingest": {"base_text": 1000, "base_sigs": 10000,
                         "text_batch": 300, "sig_batch": 2000,
                         "min_rounds": 1},
    },
    "smoke": {
        "pig-scripts": {"scale": 0.01, "rounds": 1, "min_rounds": 1},
        "curation": {"docs": 150, "replicas": 1, "files": 2,
                     "min_rounds": 1},
        "dedup-ingest": {"base_text": 300, "base_sigs": 2000,
                         "text_batch": 60, "sig_batch": 200,
                         "min_rounds": 1},
    },
}

END_TO_END = ["setup_s", "wall_s", "latency_p50_s", "latency_p90_s",
              "throughput", "cpu_s", "peak_heap_mb"]
UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s",
         "latency_p90_s": "s", "throughput": "1/s", "cpu_s": "s",
         "peak_heap_mb": "MB"}

# Per-layer metrics of a traced run: (name, unit, better). A layer a
# workload does not exercise reads 0 there.
_STAGES = ("ingest", "dedup", "lm", "shuffle", "pack")
PER_LAYER = [
    ("frontend.parse_s", "s", "lower"),
    ("frontend.interpret_s", "s", "lower"),
    ("frontend.statements", "count", "lower"),
    ("catalyst.optimize_s", "s", "lower"),
    ("catalyst.physical_s", "s", "lower"),
    ("catalyst.rule_s", "s", "lower"),
    ("catalyst.effective_rule_ratio", "ratio", "higher"),
    ("plans.graft_rules_s", "s", "lower"),
    ("pipeline.fingerprint_s", "s", "lower"),
    ("codegen.compile_s", "s", "lower"),
    ("codegen.classes", "count", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.task_gc_s", "s", "lower"),
    ("exec.task_deser_s", "s", "lower"),
    ("exec.task_wait_s", "s", "lower"),
    ("exec.driver_gap_s", "s", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.peak_exec_mem_mb", "MB", "lower"),
] + [(f"text.{s}_s", "s", "lower") for s in _STAGES] + [
    ("sources.warc_read_s", "s", "lower"),
    ("index.probe_s", "s", "lower"),
    ("index.append_s", "s", "lower"),
    ("index.write_s", "s", "lower"),
    ("index.bytes_per_doc", "B", "lower"),
    ("index.files", "count", "lower"),
    ("index.recall", "ratio", "higher"),
    ("trace.overhead_ratio", "ratio", "lower"),
]

# Shares of rows the stages keep or drop. They are fixed by the seeded
# input and covered by the oracles (planted duplicates must go, counts
# repeat on every pass), so they are printed as checked values, not as
# metrics with a better direction: a change in them is a correctness
# signal, not a gain.
CHECKED = [f"text.{s}_keep_ratio" for s in _STAGES] + ["index.drop_ratio"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the graft engine sources "
                         "(src/main/scala/graft) are not next to perfbench/")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "bench-classpath.txt")
    stamp_file = os.path.join(target, "bench-source.sha256")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # sbt's global state and scratch files stay inside the checkout
    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false"
                       f" -Dsbt.global.base={scratch}/sbt-global"
                       f" -Djava.io.tmpdir={scratch}/tmp"
                       f" -Djna.tmpdir={scratch}/tmp")
    t0 = time.time()
    with open(os.path.join(target, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "writeClasspath"], cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"perfbench: build failed (exit {rc}); see "
                         f"{os.path.relpath(target, ROOT)}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file) as g:
        return g.read().strip()


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, seconds, work, size):
    """Writes the workload's inputs under `work`; returns (plan fields,
    planted truth)."""
    s = SIZES[size][workload]
    if workload == "pig-scripts":
        tables = os.path.join(work, "tables")
        inputs.pig_tables(tables, seed, s["scale"])
        rng = random.Random(seed)
        warm_rng = random.Random(seed + 1_000_003)
        return ({"tables": tables,
                 "scripts": {k: v["pig"] for k, v in pigmix.SCRIPTS.items()},
                 "warmup": pigmix.op_sequence(warm_rng, 1),
                 "ops": pigmix.op_sequence(rng, s["rounds"])},
                {"tables": tables})
    if workload == "curation":
        corpus = os.path.join(work, "warc")
        truth = inputs.warc_corpus(corpus, seed, s["docs"], s["replicas"],
                                   s["files"])
        return ({"warc": os.path.join(corpus, "*.warc"),
                 "records": truth["records"], "seed": seed,
                 "seq_tokens": SEQ_TOKENS}, truth)
    # ops take seconds each: two batches per second of timed phase is a
    # wide margin, and the smoke run needs one round untraced + one traced
    stream = os.path.join(work, "stream")
    truth = inputs.dedup_stream(stream, seed, s["base_text"], s["base_sigs"],
                                4 + 2 * int(seconds), s["text_batch"],
                                s["sig_batch"])
    return ({"base_text": os.path.join(stream, "base_text.parquet"),
             "base_sigs": os.path.join(stream, "base_sigs.parquet"),
             "batches": [{"kind": t["kind"], "rows": t["rows"],
                          "path": os.path.join(stream,
                                               f"batch-{t['batch']:04d}.parquet")}
                         for t in truth]}, truth)


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(res):
    ops = [o for o in res["ops"] if not o["traced"]]
    rounds = [r for r in res["rounds"] if not r["traced"]]
    lat = [o["wall_s"] for o in ops if o["error"] is None]
    wall = sum(o["wall_s"] for o in ops)
    units = sum(o["units"] for o in ops)
    return {"setup_s": res["setup_s"],
            "wall_s": median([r["wall_s"] for r in rounds]),
            "latency_p50_s": median(lat),
            "latency_p90_s": p90(lat),
            "throughput": units / wall if wall > 0 else 0.0,
            "cpu_s": median([r["cpu_s"] for r in rounds]),
            "peak_heap_mb": res["peak_heap_mb"]}


def per_layer(res, extra):
    layers = dict(res["layers"])
    layers.update(extra)
    untraced = [r["wall_s"] for r in res["rounds"] if not r["traced"]]
    traced = [r["wall_s"] for r in res["rounds"] if r["traced"]]
    if untraced and traced:
        layers["trace.overhead_ratio"] = median(traced) / median(untraced)
    return layers


def self_time_table(res):
    lines = [f"{'span':<24}{'calls':>7}{'total_s':>10}{'self_s':>10}"
             f"{'self%':>8}"]
    for r in sorted(res["self_time"], key=lambda r: -r["self_s"]):
        lines.append(f"{r['span']:<24}{r['calls']:>7}{r['total_s']:>10.3f}"
                     f"{r['self_s']:>10.3f}{100 * r['self_share']:>7.1f}%")
    return "\n".join(lines)


# ------------------------------------------------------------------ run

class Run:
    """One benchmark JVM run in its own work directory, removed on exit."""

    def __init__(self, workload, seed, seconds, trace, size, cores):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.size, self.cores = trace, size, cores
        self.out = os.path.join(HERE, "out")
        self.work = os.path.join(HERE, "work",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.proc = None

    def cleanup(self):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    def execute(self, classpath, deadline):
        os.makedirs(self.out, exist_ok=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        t0 = time.time()
        fields, truth = make_inputs(self.workload, self.seed, self.seconds,
                                    self.work, self.size)
        gen_s = time.time() - t0
        tag = f"{self.workload}-seed{self.seed}-trace{int(self.trace)}"
        result_path = os.path.join(self.work, "result.json")
        plan = {"workload": self.workload, "cores": self.cores,
                "work": self.work, "seconds": self.seconds,
                "trace": self.trace,
                "min_rounds": SIZES[self.size][self.workload]["min_rounds"],
                "result": result_path,
                "checks": os.path.join(self.work, "checks.jsonl"),
                "spans": os.path.join(self.out, tag + ".spans.jsonl")}
        plan.update(fields)
        plan_path = os.path.join(self.work, "plan.json")
        cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                "-Dlog4j2.configurationFile=" +
                os.path.join(HERE, "log4j2.properties"),
                "-Dsun.jnu.encoding=UTF-8", "-Dfile.encoding=UTF-8"] +
               [x for p in JVM_OPENS for x in ("--add-opens",
                                               f"{p}=ALL-UNNAMED")] +
               ["-cp", classpath, "graftbench.Main", plan_path])
        env = dict(os.environ, LANG="C.UTF-8")
        log_path = os.path.join(self.out, tag + ".log")
        plan["launch_ms"] = int(time.time() * 1000)
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        with open(log_path, "w") as lf:
            self.proc = subprocess.Popen(cmd, stdout=lf, stderr=lf,
                                         stdin=subprocess.DEVNULL, env=env)
            try:
                rc = self.proc.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                raise SystemExit(f"perfbench: JVM over its time budget; "
                                 f"see {os.path.relpath(log_path, ROOT)}")
        if rc != 0 or not os.path.exists(result_path):
            raise SystemExit(f"perfbench: JVM exited {rc}; see "
                             f"{os.path.relpath(log_path, ROOT)}")
        with open(result_path) as f:
            res = json.load(f)
        t1 = time.time()
        records = oracles.read_lines(plan["checks"])
        if self.workload == "pig-scripts":
            failed, notes, extra = oracles.check_pig(records, truth["tables"])
        elif self.workload == "curation":
            failed, notes, extra = oracles.check_curation(records, truth,
                                                          SEQ_TOKENS)
        else:
            failed, notes, extra = oracles.check_dedup(records, truth)
        failed |= {o["i"] for o in res["ops"] if o["error"] is not None}
        oracle_s = time.time() - t1
        for o in res["ops"]:
            if o["error"] is not None and len(notes) < 8:
                notes.append(f"op {o['i']}: {o['error'][:300]}")
        return res, failed, notes, extra, gen_s, oracle_s


def one(args, size):
    cores = len(os.sched_getaffinity(0))
    t_start = time.time()
    classpath = build()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), size,
              cores)
    try:
        # a run must end within 180 s once built: the JVM gets 150 of them
        res, failed, notes, extra, gen_s, oracle_s = run.execute(
            classpath, deadline=time.time() + 150)
    finally:
        run.cleanup()
    attempted = len(res["ops"])
    lat = [o["wall_s"] for o in res["ops"] if not o["traced"]]
    log(f"{args.workload} seed={args.seed} cores={cores}: {attempted} ops, "
        f"{len(failed)} failed, failed_ratio="
        f"{len(failed) / max(1, attempted):.4f}, latency samples={len(lat)}, "
        f"input generation {gen_s:.2f}s, bring-up {res['bring_up_s']:.2f}s, "
        f"set-up step {res['setup_step_s']:.2f}s, "
        f"first op at {res['setup_s']:.2f}s, "
        f"oracles {oracle_s:.2f}s, run {time.time() - t_start:.1f}s")
    for n in notes:
        log("  " + n)
    values = dict(res["layers"], **extra)
    for n in CHECKED:
        if n in values:
            print(f"checked {n:<24} {values[n]:>14.6g}")
    if args.trace:
        print(f"per-layer self time, {args.workload} (traced ops):")
        print(self_time_table(res))
        layers = per_layer(res, extra)
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u, _ in PER_LAYER}
    else:
        e2e = end_to_end(res)
        metrics = {n: {"value": float(e2e[n]), "unit": UNITS[n]}
                   for n in END_TO_END}
    for n, m in metrics.items():
        print(f"{n:<32} {m['value']:>14.6g} {m['unit']}")
    return {"correct": not failed, "attempted": attempted,
            "failed": len(failed), "metrics": metrics}


def smoke(args):
    ok = True
    for w in WORKLOADS:
        a = argparse.Namespace(workload=w, seed=args.seed, seconds=0.0,
                               trace=1)
        try:
            r = one(a, "smoke")
        except SystemExit as e:
            log(f"smoke {w}: {e}")
            ok = False
            continue
        good = r["correct"] and r["attempted"] > 0
        log(f"smoke {w}: {'PASS' if good else 'FAIL'} "
            f"({r['attempted']} ops, {r['failed']} failed)")
        ok = ok and good
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs")
    args = ap.parse_args()

    def stop(signum, frame):
        raise SystemExit(f"perfbench: signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    if args.smoke:
        sys.exit(smoke(args))
    if not args.workload:
        ap.error("--workload is required (or --smoke)")
    result = one(args, "full")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
