"""Benchmark driver: one workload, one Spark session, closed loop.

    python3 perfbench/run.py --workload crawl_extract_compare --seed 1 \
        --seconds 10 --trace 0

Run from the repository root (or anywhere: paths resolve from this
file). It builds its inputs from ``--seed``, warms the session up,
times pairs of (reference job, pipeline iteration) for ``--seconds``
seconds, checks every output, and prints as its last stdout line one
JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones and
writes the spans and harvested Spark metrics to
``perfbench/out/trace-<workload>-seed<seed>.json``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import probe  # noqa: E402
import workloads  # noqa: E402

N_DOCS = 1000  # distinct documents; PAGE_COPIES urls each
MIN_TIMED = 3  # timed iterations even if --seconds is already used up
MIN_TRACED = 2  # traced runs: pairs of one untraced and one traced iteration
DRIVER_MEM = "3g"  # also the initial heap: a fixed heap size made iteration times steadier

END_TO_END = {"wall_vs_ref": "ratio", "cpu_vs_ref": "ratio", "setup_s": "s"}
SPARK_KEYS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "py_init_s", "py_run_s", "arrow_in_mb", "arrow_out_mb",
)


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("docs_per_s", "1/s"), ("_per_kdoc", "s"), ("_s", "s"), ("_mb", "MB"), ("us_per_doc", "us"), ("us_per_pair", "us"),
                         ("_frac", "fraction"), ("docs_per_s_local1", "1/s"), ("eff_1to4", "ratio")):
        if last.endswith(suffix):
            return unit
    return "count"


def worker_env(work: str, cores: int) -> None:
    """Environment the JVM and its Python workers inherit. Workers are
    fresh interpreters that import ``ocr_compare_spark`` by name, so
    the repository root must be on their PYTHONPATH, not only on this
    process's sys.path."""
    parts = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def start_spark(work: str, cores: int):
    from ocr_compare_spark.session import get_spark

    java_opts = (
        f"-Xms{DRIVER_MEM} -Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_reference(ref, par: int) -> dict:
    """One checked run of the reference job: its wall and CPU time."""
    me = os.getpid()
    t0, cpu0 = time.time(), probe.tree_cpu_s(me)
    ref.run(par)
    out = {"ref_wall_s": time.time() - t0, "ref_cpu_s": probe.tree_cpu_s(me) - cpu0}
    ref.check()
    return out


def run_iteration(wl, tracer, par: int, ref=None) -> dict:
    """The reference job when ``ref`` is given, then the timed
    pipeline; the output checks are untimed."""
    me = os.getpid()
    out = run_reference(ref, par) if ref is not None else {}
    with tracer.span("iteration") as root:
        cpu0 = probe.tree_cpu_s(me)
        wl.iteration(tracer, par)
        cpu1 = probe.tree_cpu_s(me)
    attempted, failed = wl.check()
    out.update(wall_s=root["end"] - root["start"], cpu_s=cpu1 - cpu0, attempted=attempted, failed=failed, span=root)
    return out


def iteration_ledger(tracer, harvester, root: dict) -> dict:
    """Harvest every span of a traced iteration, hang its Spark jobs
    under it as child spans, and account the iteration's wall time:
    union of job intervals per layer + driver.unaccounted_s == wall."""
    totals = {k: 0.0 for k in SPARK_KEYS}
    all_jobs = []
    layers = {}
    for sp in sorted(tracer.subtree(root["id"]), key=lambda sp: sp["start"]):
        h = harvester.group(sp["group"])
        sp["spark"] = h["metrics"]
        for k in SPARK_KEYS:
            totals[k] += h["metrics"][k]
        ivals = [(j["start"], j["end"]) for j in h["jobs"]]
        all_jobs.extend(ivals)
        layers[sp["name"]] = {
            "wall_s": sp["end"] - sp["start"],
            "self_s": tracer.self_s(sp),
            "jobs_s": probe.union_s(ivals, sp["start"], sp["end"]),
        }
        for j in h["jobs"]:
            tracer.spans.append(
                {"id": len(tracer.spans), "name": f"job:{j['job_id']}", "parent": sp["id"],
                 "run_id": tracer.run_id, "group": sp["group"], "start": j["start"],
                 "end": j["end"], "stages": j["stages"]}
            )
    wall = root["end"] - root["start"]
    unaccounted = wall - probe.union_s(all_jobs, root["start"], root["end"])
    layer_jobs = sum(v["jobs_s"] for v in layers.values())
    return {
        "wall_s": wall,
        "spark": totals,
        "driver_unaccounted_s": unaccounted,
        "layers": layers,
        "accounting": {
            "sum_layer_jobs_s": layer_jobs,
            "driver_unaccounted_s": unaccounted,
            "residual_s": wall - layer_jobs - unaccounted,
            "sum_self_s": sum(v["self_s"] for v in layers.values()),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    import ocr_compare_spark  # noqa: F401  (fails fast outside a checkout)

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(T_START)}"
    work = os.path.join(HERE, ".work", f"{run_id}-{os.getpid()}")
    os.makedirs(work)
    worker_env(work, cores)
    host = probe.HostLog()

    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        session = pool.submit(start_spark, work, cores)
        try:
            ctx = workloads.Context(work, args.seed, cores, N_DOCS)
            wl = workloads.WORKLOADS[args.workload](ctx)
            wl.build()
            ref = workloads.Reference(wl)
        except BaseException:
            stop_spark(session.result())
            raise
    spark = ctx.spark = session.result()
    host.mark("session_and_inputs")
    report: dict = {"run_id": run_id, "workload": args.workload, "seed": args.seed, "cores": cores}
    try:
        harvester = probe.Harvester(spark)
        off = probe.Tracer(spark, run_id, enabled=False)
        on = probe.Tracer(spark, run_id, enabled=True)
        wl.load()
        # untimed: the cold iteration alone (it starts the Python
        # workers), then one pair
        warm = [run_iteration(wl, off, cores), run_iteration(wl, off, cores, ref)]
        setup_s = time.time() - T_START
        host.mark("warm")

        timed, traced = [], []
        min_timed = MIN_TRACED if args.trace else MIN_TIMED
        spent = lambda: sum(r["wall_s"] + r.get("ref_wall_s", 0.0) for r in timed + traced)  # noqa: E731
        while spent() < args.seconds or len(timed) < min_timed:
            timed.append(run_iteration(wl, off, cores, ref))
            host.mark("iteration")
            if args.trace:
                r = run_iteration(wl, on, cores)
                r["ledger"] = iteration_ledger(on, harvester, r["span"])
                traced.append(r)
                host.mark("traced_iteration")
        checked = warm + timed + traced

        n = wl.n_pages
        report.update(
            n_docs=n, setup_s=setup_s, warmup_wall_s=[r["wall_s"] for r in warm],
            timed=[{k: r[k] for k in ("ref_wall_s", "ref_cpu_s", "wall_s", "cpu_s", "attempted", "failed")}
                   for r in timed],
            raw=raw_metrics(n, timed),
        )
        if args.trace:
            metrics, one_way = trace_metrics(args.seed, ctx, wl, on, harvester, timed, traced, host)
            checked.append(one_way)
            report["traced"] = [r["ledger"] for r in traced]
            report["spans"] = on.spans
        else:
            e2e = {
                "wall_vs_ref": vs_ref(timed, "wall_s"),
                "cpu_vs_ref": vs_ref(timed, "cpu_s"),
                "setup_s": setup_s,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        attempted = sum(r["attempted"] for r in checked)
        failed = sum(r["failed"] for r in checked)
        host.mark("end")
        report["host"] = host.summary()
        report["peak_rss_mb"] = probe.tree_peak_rss_mb(os.getpid())
    finally:
        stop_spark(spark)
        killed = probe.stop_tree(os.getpid())
        if killed:
            print(f"killed leftover processes: {killed}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics["proc.peak_rss_mb"] = {"value": report["peak_rss_mb"], "unit": "MB"}
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        trace_file = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        report["metrics"] = metrics
        with open(trace_file, "w") as f:
            json.dump(report, f, indent=1, default=str)
        print_accounting(report["traced"])
        print(f"trace written to {os.path.relpath(trace_file, ROOT)}")

    print_human(args, report, metrics, attempted, failed)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def vs_ref(timed: list[dict], key: str) -> float:
    """Median over the timed pairs of the iteration's ``key`` divided
    by the same of the reference run right before it."""
    return statistics.median(r[key] / r[f"ref_{key}"] for r in timed)


def raw_metrics(n: int, timed: list[dict]) -> dict:
    """Medians of the timed iterations as measured, not relative to
    the reference job: docs/s, CPU s per 1,000 docs, reference wall."""
    median = statistics.median
    return {
        "raw.docs_per_s": median([n / r["wall_s"] for r in timed]),
        "raw.cpu_s_per_kdoc": median([r["cpu_s"] / n * 1000 for r in timed]),
        "reference.wall_s": median([r["ref_wall_s"] for r in timed]),
    }


def trace_metrics(seed, ctx, wl, tracer, harvester, timed, traced, host) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, and the 1-way iteration's
    record (its output is checked like every other iteration)."""
    import layers

    median = statistics.median

    ledgers = [r["ledger"] for r in traced]
    out: dict[str, float] = {}
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = median([l["spark"][k] for l in ledgers])
    out["driver.unaccounted_s"] = median([l["driver_unaccounted_s"] for l in ledgers])
    out["trace.overhead_frac"] = (
        median([r["wall_s"] for r in traced]) / median([r["wall_s"] for r in timed]) - 1.0
    )
    out["host.steal_frac"] = host.steal_frac()
    out.update(raw_metrics(wl.n_pages, timed))

    # 1-way parallelism on the same warm session: one task per stage
    one = run_iteration(wl, tracer, 1)
    out["scaling.docs_per_s_local1"] = wl.n_pages / one["wall_s"]
    full = median([wl.n_pages / r["wall_s"] for r in timed])
    out["scaling.eff_1to4"] = full / (ctx.par * out["scaling.docs_per_s_local1"])

    out.update(layers.engine_micro(wl.rows, seed))
    out.update(layers.sweep(ctx, wl, tracer, harvester))
    return {k: {"value": float(v), "unit": layer_unit(k)} for k, v in out.items()}, one


def print_accounting(ledgers: list[dict]) -> None:
    """Each layer's self time per traced iteration, and the check that
    the layers' job time plus driver.unaccounted_s is the wall time."""
    for i, led in enumerate(ledgers):
        acc = led["accounting"]
        print(f"traced iteration {i}: wall {led['wall_s']:.3f} s = layer jobs "
              f"{acc['sum_layer_jobs_s']:.3f} + driver.unaccounted {acc['driver_unaccounted_s']:.3f} "
              f"(residual {acc['residual_s']:.2g})")
        for name, lay in led["layers"].items():
            print(f"    {name:16s} wall {lay['wall_s']:.3f}  self {lay['self_s']:.3f}  jobs {lay['jobs_s']:.3f}")


def print_human(args, report, metrics, attempted, failed) -> None:
    print(f"workload {args.workload}  seed {args.seed}  cores {report['cores']}  "
          f"docs/iteration {report.get('n_docs')}")
    timed = report.get("timed", [])
    print(f"warm-up walls {[round(w, 2) for w in report.get('warmup_wall_s', [])]}  "
          f"timed walls {[round(r['wall_s'], 2) for r in timed]}  "
          f"reference walls {[round(r['ref_wall_s'], 2) for r in timed]}")
    print(f"timed cpu {[round(r['cpu_s'], 2) for r in timed]}  "
          f"reference cpu {[round(r['ref_cpu_s'], 2) for r in timed]}")
    print(f"output check: attempted {attempted}  failed {failed}  "
          f"failed_frac {failed / max(attempted, 1):.6f}")
    h = report.get("host", {})
    marks = h.get("samples", [])
    print("phases (s from start): " + "  ".join(
        f"{m['label']} {m['t'] - T_START:.1f}" for m in marks if m["label"] not in ("iteration", "traced_iteration")))
    print(f"host: steal_frac {h.get('steal_frac', 0):.4f}  load1 {h.get('load1_min')}..{h.get('load1_max')}")
    for name, v in report.get("raw", {}).items():
        if name not in metrics:
            print(f"  {name:40s} {v:.6g} {layer_unit(name)}  (not gated)")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
