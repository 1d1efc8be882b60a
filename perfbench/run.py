"""osmospark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the ``end_to_end`` ones of BENCHMARK.json, with ``--trace 1``
the ``per_layer`` ones, and the spans go to
``.perfbench/traces/<workload>-seed<seed>.json``. Everything else goes to
standard error. See perfbench/README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import session  # noqa: E402
from session import now  # noqa: E402

SETUP_REPS = 3


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def high_pct(n: int):
    """Highest percentile with at least ten samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def one_op(wl, label: str, fn=None):
    """One untraced op outside the measured loop: (hooks, result)."""
    from tracing import OpHooks, Tracer
    hooks = OpHooks(wl.spark.sparkContext, Tracer(False), label)
    hooks.start()
    res = (fn or wl.op)(hooks)
    hooks.finish()
    return hooks, res


def warm(wl) -> float:
    t = now()
    for k in range(wl.warm_ops):
        one_op(wl, f"warm{k}", wl.warm)
    return now() - t


def measure(wl, seconds: float, tracer, label: str):
    """Closed loop, one client: run operations back to back until
    ``seconds`` have passed. Returns [(hooks, result or None)]."""
    from tracing import OpHooks
    sc = wl.spark.sparkContext
    out = []
    t_end = now() + seconds
    while not out or now() < t_end:
        wl.reset()
        hooks = OpHooks(sc, tracer, f"{label}{len(out)}")
        hooks.start()
        try:
            res = wl.op(hooks)
        except Exception:
            hooks.finish()
            log(traceback.format_exc())
            out.append((hooks, None))
            continue
        hooks.finish()
        out.append((hooks, res))
    return out


def log_ops(ops) -> None:
    for h, r in ops:
        if r is None:
            continue
        phases: dict = {}
        for m in r.meta:
            for k, v in m["phases"].items():
                phases[k] = phases.get(k, 0.0) + v
        log(f"{h.op_id}: wall {h.wall:.2f}s, rounds "
            + " ".join(f"{x:.2f}" for x in h.round_latencies())
            + ", phases " + " ".join(f"{k} {v:.2f}"
                                     for k, v in phases.items()))


def op_failures(ops) -> int:
    """Ops that raised, or whose counted result differs from the first."""
    good = [r for _, r in ops if r is not None]
    first = good[0].digest() if good else None
    return sum(1 for _, r in ops if r is None or r.digest() != first)


def end_to_end(ops, setup_s: float) -> dict:
    done = [(h, r) for h, r in ops if r is not None]
    walls = [h.wall for h, _ in done]
    rounds = [x for h, _ in done for x in (h.round_latencies() or [h.wall])]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "urls_per_s": statistics.median(r.pages / h.wall for h, r in done),
        "round_s_p50": statistics.median(rounds),
        "peak_rss_mb": session.peak_rss_mb(),
        "_samples": {"ops": len(walls), "rounds": len(rounds)},
    }


def engine_layer(done, cores: int, udf_us: float) -> dict:
    """engine.* from visit_meta of each traced op (medians over ops)."""
    def med(f):
        return statistics.median(f(h, r) for h, r in done)

    def phase(name):
        return lambda h, r: sum(m["phases"].get(name, 0.0) for m in r.meta)

    res = done[-1][1]
    if not res.meta:
        # extract_all: one extraction pass, no admission or commit
        out = {"engine.admit_s": 0.0, "engine.seen_update_s": 0.0,
               "engine.extract_s": med(lambda h, r: h.wall),
               "engine.commit_s": 0.0, "engine.unattributed_s": 0.0,
               "engine.rounds": 1}
    else:
        out = {"engine.admit_s": med(phase("dedup_admit")),
               "engine.seen_update_s": med(phase("seen_update")),
               "engine.extract_s": med(phase("extract")),
               "engine.commit_s": med(phase("commit")),
               "engine.unattributed_s": med(lambda h, r: h.wall - sum(
                   sum(m["phases"].values()) for m in r.meta)),
               "engine.rounds": len(res.meta)}
    out["engine.admitted"] = res.pages
    out["extract.overhead_s"] = (out["engine.extract_s"]
                                 - res.pages * udf_us * 1e-6 / cores)
    return out


def spark_layer(sc, tracer, done) -> dict:
    from tracing import job_counts
    jobs_pr, tasks_pr, ppt = [], [], []
    for h, r in done:
        counts = job_counts(sc, h.groups)
        n_rounds = max(1, len(h.bounds))
        in_rounds = counts[:n_rounds]
        jobs_pr.append(sum(j for j, _ in in_rounds) / n_rounds)
        tasks_pr.append(sum(t for _, t in in_rounds) / n_rounds)
        total_tasks = sum(t for _, t in counts)
        ppt.append(r.pages / max(1, total_tasks))
        for k, (j, t) in enumerate(counts):
            tracer.rounds.append({"op": h.op_id, "group": h.groups[k],
                                  "jobs": j, "tasks": t})
    return {"spark.jobs_per_round": statistics.median(jobs_pr),
            "spark.tasks_per_round": statistics.median(tasks_pr),
            "spark.pages_per_task": statistics.median(ppt)}


def run(args) -> int:
    from workloads import WORKLOADS
    from tracing import Tracer

    with open(os.path.join(session.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cores = session.cores()
    aqe = session.SESSION["aqe"][args.workload]
    work = os.path.join(session.WORK_ROOT,
                        f"run-{args.workload}-{args.seed}-{os.getpid()}")
    t = now()
    master = session.SESSION["master"].format(cores=cores)
    spark = session.start(work, master, aqe)
    session_s = now() - t
    all_ops: list = []
    checks: list = []
    traced = Tracer(bool(args.trace))
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        setups, reps = [], []
        for _ in range(SETUP_REPS):
            t = now()
            wl.setup()
            setups.append(now() - t)
            reps.append(wl.setup_timings)
        warm_s = warm(wl)
        setup_s = session_s + statistics.median(setups) + warm_s
        log(f"setup: session {session_s:.2f}s, corpus reps "
            + ", ".join(f"{s:.2f}s" for s in setups)
            + f", warm-up {warm_s:.2f}s")

        ops = measure(wl, args.seconds, Tracer(False), "op")
        e2e = end_to_end(ops, setup_s) if any(r for _, r in ops) else None
        all_ops = list(ops)
        layer: dict = {}
        if args.trace and e2e:
            tops = measure(wl, args.seconds, traced, "traced")
            all_ops += tops
            layer, extra = traced_layers(args, wl, spark, cores, traced,
                                         tops, e2e, reps, session_s)
            all_ops += extra
        checks = wl.check([r for _, r in all_ops if r is not None])
        if layer and args.workload == "extract_all":
            eff, op = scaling(wl, cores, e2e, traced)
            layer["scaling.eff_1_to_4"] = eff
            all_ops.append(op)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)

    for c in checks:
        log("CHECK FAILED:", c)
    failed = len(all_ops) if checks else op_failures(all_ops)
    if e2e is None:
        log("no operation completed")
        metrics_src, units = {}, {}
    elif args.trace:
        metrics_src = layer
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        metrics_src = e2e
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    if e2e is not None:
        log_ops(ops)
        n = e2e["_samples"]
        log(f"samples: {n['ops']} ops (highest percentile with >=10 beyond:"
            f" {high_pct(n['ops'])}), {n['rounds']} rounds (highest: "
            f"{high_pct(n['rounds'])})")
    metrics = {name: {"value": metrics_src[name], "unit": unit}
               for name, unit in units.items() if name in metrics_src}
    missing = sorted(set(units) - set(metrics))
    if missing:
        log("metrics not produced:", ", ".join(missing))
        failed = len(all_ops)
    if args.trace:
        traced.write(os.path.join(session.WORK_ROOT, "traces",
                                  f"{args.workload}-seed{args.seed}.json"),
                     {"workload": args.workload, "seed": args.seed,
                      "session": session.SESSION, "cores": cores,
                      "metrics": metrics})
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": len(all_ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def traced_layers(args, wl, spark, cores, tracer, tops, e2e, reps,
                  session_s) -> dict:
    import probes
    done = [(h, r) for h, r in tops if r is not None]
    for h, r in done:
        h.record(r, args.workload)
    kern = probes.kernel(wl.sample_pages, tracer)
    layer = dict(kern)
    layer.update(engine_layer(done, cores, kern["extract.udf_us_per_page"]))
    layer.update(spark_layer(spark.sparkContext, tracer, done))
    layer.update(probes.functions(spark, wl.pages, tracer))
    if args.workload == "crawl_resume":
        layer["tableio.bytes_written"] = wl.state_bytes()
        layer["tableio.read_s"] = statistics.median(h.read_s for h, _ in done)
        layer["engine.admit_ratio"] = wl.frontier_ratio()
        layer["politeness.compile_robots_s"] = statistics.median(
            r["politeness.compile_robots_s"] for r in reps)
    else:
        layer["tableio.bytes_written"] = 0
        layer["tableio.read_s"] = 0.0
        layer["engine.admit_ratio"] = 0.0
        layer["politeness.compile_robots_s"] = probes.compile_robots(
            spark, tracer)
    for k in ("corpus.synth_s", "corpus.cache_s"):
        layer[k] = statistics.median(r[k] for r in reps)
    layer["spark.session_start_s"] = session_s
    layer["trace.overhead_s"] = (statistics.median(h.wall for h, _ in done)
                                 - e2e["wall_s"])
    layer["aqe.wall_ratio"] = 0.0
    extra = []
    if args.workload == "crawl_bfs":
        op = aqe_pass(wl, spark, tracer)
        layer["aqe.wall_ratio"] = op[0].wall / e2e["wall_s"]
        extra.append(op)
    layer["scaling.eff_1_to_4"] = 0.0
    layer["samples.ops"] = len(done)
    layer["samples.rounds"] = sum(len(h.round_latencies()) or 1
                                  for h, _ in done)
    return layer, extra


def aqe_pass(wl, spark, tracer):
    """One crawl_bfs op with adaptive execution on (the engine's own
    per-round shuffle sizing stays as it is)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        op = one_op(wl, "aqe")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    tracer.span("aqe:op", op[0].t_start, op[0].t_end)
    return op


def scaling(wl, cores, e2e, tracer):
    """urls/s at local[cores] over cores × urls/s at local[1], from one
    extract_all pass in a fresh, warmed local[1] session."""
    session.stop()
    wl.spark = session.start(wl.work, "local[1]", False)
    wl.pages = None
    wl.setup()
    warm(wl)
    hooks, res = op = one_op(wl, "local1")
    tracer.span("scaling:local[1] op", hooks.t_start, hooks.t_end)
    return e2e["urls_per_s"] / (cores * res.pages / hooks.wall), op


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="toy: a tiny corpus, for the self-test")
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    reason = session.check_checkout()
    if reason:
        log(f"cannot run: {reason}")
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
