"""KG-construction benchmark: one workload and one seed per process.

    python3 perfbench/run.py --workload batch_shared --seed 1 --seconds 16 --trace 0

Run from the repository root. The run sizes a ``local[nproc]`` session to the
machine, loads the workload's seeded input (generated once and cached under
``.perfbench/``), runs the workload's untimed cold and warm-up passes if it
has them, then timed passes for at least ``--seconds``, checking every pass's
output. It prints a report and, as its last line, one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. It exits 1 when an output check failed and 2 when the engine
is not there to run. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "openie_with_entities_spark"
STEAL_ARGS = dict(n=1_000_000, waves=1, repeats=2)


def declared(kind: str) -> list[str]:
    """Metric names BENCHMARK.json declares under ``kind``; the JSON result
    carries exactly these, the report prints the rest."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def machine() -> tuple[int, int]:
    """(cores the process may run on, MemTotal in MiB)."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return len(os.sched_getaffinity(0)), mem_kb // 1024


def driver_mem_mb(mem_total_mb: int) -> int:
    # an eighth of the machine, within [1 GiB, 4 GiB]: the inputs are small,
    # and the box may be shared
    return max(1024, min(4096, mem_total_mb // 8))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores, mem_mb = machine()
    state = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(workdir, d))
    try:
        return run(args, WORKLOADS[args.workload](), cores, mem_mb, state, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, wl, cores: int, mem_mb: int, state: str, workdir: str) -> int:
    from openie_with_entities_spark import noise

    steal_before = noise.measure_steal(procs=cores, **STEAL_ARGS)
    t = time.perf_counter()
    inp = wl.make_input(os.path.join(state, "inputs"), args.seed)
    gen_s = time.perf_counter() - t

    # everything Spark and its Python workers write stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_mb(mem_mb)}m"
    conf = {
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(workdir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from openie_with_entities_spark.session import get_spark
    from perfbench.tracing import MemoryPeaks, descendants, jvm_pid, tree_cpu_s, wait_gone

    t = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    session_s = time.perf_counter() - t
    gateway = spark.sparkContext._gateway
    passes = []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        mem = MemoryPeaks(jvm_pid(spark))
        wl.prepare(spark, inp, args.seed, cores, workdir)
        loads = []
        for _ in range(3):
            t = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - t)
        warm = []
        for _ in range(wl.untimed_passes):
            warm.append(attempt(wl, traced=False))
            mem.sample()
        setup_s = session_s + median(loads) + (warm[0].wall_s if warm else 0.0)
        t_timed = time.perf_counter()
        while True:
            c0 = tree_cpu_s(gateway.proc.pid)
            passes.append(attempt(wl, traced=bool(args.trace)))
            passes[-1].cpu_s = tree_cpu_s(gateway.proc.pid) - c0
            mem.sample()
            if time.perf_counter() - t_timed >= args.seconds:
                break
        if args.trace:
            sample_texts = [t for _c, _i, t in inp.turns_of(wl.sample)]
    finally:
        workers = descendants(gateway.proc.pid)
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        wait_gone(workers)
    steal_after = noise.measure_steal(procs=cores, **STEAL_ARGS)

    turns = inp.props.turns
    ok = [p for p in passes if not p.errors]
    warm_errors = [e for p in warm for e in p.errors]
    failed = sum(1 for p in passes if p.errors)
    correct = failed == 0 and not warm_errors
    tps = [turns / p.wall_s for p in ok]
    results = os.path.join(state, "untraced.jsonl")

    print(f"workload {wl.name} seed {args.seed} cores {cores} mem_total_mb {mem_mb} "
          f"driver_mem {os.environ['SPARK_DRIVER_MEM']}")
    print(f"input turns {turns} sentences {inp.props.sentences} eligible "
          f"{inp.props.eligible_sentences} distinct_share {inp.props.distinct_share} "
          f"partitions {wl.input_partitions} per_core {wl.input_partitions / cores:g} "
          f"(generated or read in {gen_s:.2f} s)")
    print(f"steal before: {steal_before}")
    print(f"steal after:  {steal_after}")
    print(f"setup: session {session_s:.2f} s, loads {[round(x, 2) for x in loads]} s, "
          f"cold and warm-up passes {[round(p.wall_s, 2) for p in warm]} s")
    print(f"timed passes: wall {[round(p.wall_s, 2) for p in passes]} s, "
          f"cpu {[round(p.cpu_s, 2) for p in passes]} s")
    for e in warm_errors + [e for p in passes for e in p.errors]:
        print(f"CHECK FAILED: {e}")

    if args.trace and ok:
        metrics = layer_metrics(wl, inp, ok, workdir, cores, sample_texts, results)
        for k, v in metrics.items():
            print(f"  {k:48s} {v:.6g}")
        out = {k: {"value": metrics[k], "unit": unit_of(k)} for k in declared("per_layer")}
    elif args.trace:
        out = {}
    else:
        rows = [
            ("turns_per_s", median(tps), "1/s", len(tps)),
            ("cpu_ms_per_turn", median([p.cpu_s * 1000 / turns for p in ok]), "ms", len(ok)),
            ("setup_s", setup_s, "s", len(loads)),
            ("jvm_peak_rss_mb", mem.jvm_kb / 1024, "MB", len(passes) + len(warm)),
            ("pyworker_peak_rss_mb", mem.worker_kb / 1024, "MB", len(passes) + len(warm)),
            ("fail_rate", failed / len(passes), "ratio", len(passes)),
        ]
        if passes[0].parts:
            for part in passes[0].parts:
                vals = [p.parts[part] for p in ok]
                rows.append((part, median(vals), "s", len(vals)))
            epochs = [e for p in ok for e in p.epochs_s]
            rows.append(("epoch_p50_s", median(epochs), "s", len(epochs)))
        for name, v, unit, n in rows:
            print(f"  {name:24s} {v:12.4f} {unit:6s} n={n}")
        gated = declared("end_to_end")
        out = {name: {"value": v, "unit": unit} for name, v, unit, _n in rows if name in gated}
        if correct:
            with open(results, "a") as f:
                f.write(json.dumps({"workload": wl.name, "seed": args.seed,
                                    "turns_per_s": median(tps)}) + "\n")
    print(json.dumps({"correct": correct, "attempted": len(passes), "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


RATIOS = {"busy_frac", "memo_hit_ratio", "job_coverage", "overhead"}


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in RATIOS:
        return "ratio"
    if last.endswith("per_s"):
        return "1/s"
    for tag, unit in (("ms", "ms"), ("us", "us"), ("mb", "MB")):
        if last == tag or f"_{tag}" in last:
            return unit
    return "count"


def attempt(wl, traced: bool):
    """One pass; a pass that raises is a failed pass, and the run goes on."""
    from perfbench.workloads import PassResult

    t0 = time.perf_counter()
    try:
        return wl.run_pass(traced=traced)
    except Exception as e:  # counted in fail_rate and reported below
        traceback.print_exc(file=sys.stderr)
        return PassResult(time.perf_counter() - t0, [f"raised {e!r}"[:500]], [])


def layer_metrics(wl, inp, traced_passes, workdir, cores, sample_texts,
                  results) -> dict[str, float]:
    from perfbench.tracing import BACKEND_COUNTERS, EventLog, decode_replay, find_event_log, \
        pass_layers, stream_layers

    log = EventLog(find_event_log(os.path.join(workdir, "events")))
    per_pass = []
    for p in traced_passes:
        m = pass_layers(log, p.windows, cores)
        m.update(stream_layers(p.progress))
        m["plans.checkpoint.files"] = p.layer_extra.get("plans.checkpoint.files", 0)
        m["plans.checkpoint.bytes_mb"] = p.layer_extra.get("plans.checkpoint.bytes_mb", 0.0)
        b = {k: p.backend.get(k, 0) for k in BACKEND_COUNTERS}
        for kind in ("conj", "oie"):
            m[f"extract.backends.{kind}_calls"] = b[f"{kind}_calls"]
            m[f"extract.backends.{kind}_sentences"] = b[f"{kind}_sentences"]
            m[f"extract.backends.{kind}_ms"] = b[f"{kind}_ns"] / 1e6
        eligible = inp.props.eligible_sentences
        m["extract.fused.memo_hit_ratio"] = (
            1 - b["conj_sentences"] / eligible if b["conj_calls"] else 0.0)
        per_pass.append(m)
    keys = list(per_pass[0])
    out = {k: median([m[k] for m in per_pass]) for k in keys}

    decode = decode_replay(sample_texts)
    out.update(decode)
    # derived: Python run time left after the labelers and the replayed
    # per-sentence decode cost of the sentences the labelers saw
    decode_ms = (
        out["extract.backends.conj_sentences"]
        * (decode["functions.decode.decode_coordinations_us"]
           + decode["functions.decode.split_by_coordinations_us"])
        + out["extract.backends.oie_sentences"] * decode["functions.decode.decode_extractions_us"]
    ) / 1000
    out["extract.fused.replay_rowbuild_ms"] = (
        out["extract.fused.py_run_ms"] - out["extract.backends.conj_ms"]
        - out["extract.backends.oie_ms"] - decode_ms
        if out["extract.backends.conj_calls"] else 0.0)
    turns = inp.props.turns
    traced_tps = median([turns / p.wall_s for p in traced_passes])
    # overhead against the untraced runs of this workload in this checkout
    # (any seed: inputs have the same size); 0 when there is none yet
    untraced_tps = 0.0
    if os.path.exists(results):
        with open(results) as f:
            rows = [json.loads(line) for line in f]
        untraced_tps = median([r["turns_per_s"] for r in rows if r["workload"] == wl.name])
    out["trace.turns_per_s"] = traced_tps
    out["trace.untraced_turns_per_s"] = untraced_tps
    out["trace.overhead"] = untraced_tps / traced_tps - 1 if untraced_tps else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
