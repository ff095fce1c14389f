"""Benchmark entry point.

    python3 perfbench/run.py --workload mask_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[<cores>]`` as a closed loop with
one client and one operation in flight, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of ``BENCHMARK.json``
and writes every span and per-operation counter to
``.perfbench-out/trace-<workload>-seed<seed>.json``.

A run:

1. sets up once: launch the JVM and start a session with the engine's own
   ``get_spark`` config, register the mask UDFs, generate the inputs from
   the seed, run one warm-up action. ``setup_s`` is that fresh process's
   cost, what a run-once Arc job pays; its spread comes from repeated runs;
2. computes the correctness oracle (untimed);
3. runs the cold pass, then warm passes until ``--seconds`` have passed
   and at least the workload's ``warm_passes`` ran, releasing cached state
   between passes;
4. with ``--trace 1``, stops that session and starts one with the tracing
   config (``tracing.TRACE_CONF``), then runs a first pass and at least
   ``warm_passes`` warm passes there with every span recorded; the tracing
   overhead is the traced minus the untraced warm-pass median;
5. checks every operation's output and the run's once-per-run checks.

Generated inputs, pipeline outputs, Spark local dirs and JVM temp files go
under one ``.perfbench-*`` directory in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench-out")
# Past this, a session stops after its current pass once one warm pass ran,
# so that a traced run on a busy machine still ends within 180 s.
MAX_RUN_S = 120.0
PASSPHRASE = "q7VqMTbj7e5dUWESfc8UjZr2r7pyq5cHP8MVkUEjyv74cHsqUt734vg6qQmHaz7a"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(tmp: str, cores: int) -> dict[str, str]:
    """Environment and session config that keep every file under ``tmp`` and
    let Python workers import the engine from any working directory."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["ETL_CONF_MASK_DATA_PASSPHRASE"] = PASSPHRASE
    os.environ["ETL_CONF_MASK_DATA_CODEC"] = "HmacSHA512"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(cores: int, conf: dict[str, str]):
    from arc_maskdata_pipeline_plugin_spark import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(wl, spark, tmp: str, seed: int) -> None:
    """The workload's inputs and UDFs, then one warm-up action."""
    wl.setup(spark, tmp, seed)
    spark.sql("SELECT 1").collect()


class Tally:
    """Operations attempted and failed, with a line per failure."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def add(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def run_passes(spark, wl, tracer, tally: Tally, first: int, seconds: float,
               deadline: float) -> list[dict]:
    """One session's passes: the first is cold, then warm passes until
    ``seconds`` have passed and at least ``wl.warm_passes`` ran."""
    import workloads

    passes: list[dict] = []
    window_start = None
    while True:
        pass_no = first + len(passes)
        workloads.reset_engine_state()
        samples = []
        ops = wl.pass_ops(pass_no)
        for op in ops:
            ok = False
            t0 = time.perf_counter()
            try:
                with tracer.operation(pass_no, op):
                    result = wl.run_op(spark, tracer, op)
                samples.append(time.perf_counter() - t0)
                ok = wl.check(op, result)
            except Exception as e:  # noqa: BLE001 — counted, reported, run continues
                print(f"[perfbench] {op} raised {e!r}"[:2000], file=sys.stderr)
            tally.add(ok, f"pass {pass_no}: {op}")
        passes.append({
            "pass": pass_no, "traced": tracer.active, "warm": bool(passes),
            "seconds": sum(samples), "ops": ops, "op_seconds": samples,
        })
        workloads.release_state(spark)
        now = time.perf_counter()
        if window_start is None:
            window_start = now
        warm = len(passes) - 1
        if warm >= wl.warm_passes and now - window_start >= seconds or warm >= 1 and now > deadline:
            return passes


def run(args) -> dict:
    sys.path.insert(1, ROOT)
    sys.path.append(os.path.join(ROOT, "tools"))
    import arc_maskdata_pipeline_plugin_spark  # noqa: F401 — fail fast outside the repo
    import oracle_check  # noqa: F401

    import stats
    import workloads
    from tracing import TRACE_CONF, RssSampler, Tracer, stop_jvm

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cores = os.cpu_count() or 1
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    t_run = time.perf_counter()
    deadline = t_run + MAX_RUN_S
    rss = RssSampler().start()
    spark = None
    try:
        conf = prepare_environment(tmp, cores)
        tracer = Tracer()
        wl = workloads.WORKLOADS[args.workload]()

        t0 = time.perf_counter()
        spark = start_session(cores, conf)
        start_s = time.perf_counter() - t0
        set_up(wl, spark, tmp, args.seed)
        setup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0

        tally = Tally()
        passes = run_passes(spark, wl, tracer, tally, 0, args.seconds, deadline)
        peak_rss = rss.stop()
        if args.trace:
            # the traced passes run in a second session that carries the
            # tracing config, so its cost counts as tracing overhead too
            spark.stop()
            tracer.active = True
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    spark = start_session(cores, {**conf, **TRACE_CONF})
                set_up(wl, spark, tmp, args.seed)
            tracer.bind(spark)
            passes += run_passes(spark, wl, tracer, tally, len(passes), args.seconds, deadline)
            tracer.active = False
        for name, ok in wl.once_per_run_checks(spark):
            tally.add(ok, name)
        if not record_digest(args, wl.describe(), getattr(wl, "digests", None)):
            tally.add(False, "digest differs from an earlier run with this seed")

        summary = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "input": wl.describe(), "setup_s": setup_s, "session_start_s": start_s,
            "passes": passes, "attempted": tally.attempted, "failed": tally.failed,
            "failed_frac": stats.failure_ratio(tally.failed, tally.attempted),
            "failures": tally.failures,
            "peak_rss_mb": peak_rss / 2**20, "prepare_s": prepare_s,
            "run_s": time.perf_counter() - t_run,
        }
        if args.trace:
            metrics = per_layer_metrics(summary, tracer, cores)
            write_trace(args, summary, tracer, metrics)
        else:
            metrics = end_to_end_metrics(summary, wl.input_rows)
        report(summary)
        return {
            "correct": tally.failed == 0, "attempted": tally.attempted,
            "failed": tally.failed, "metrics": metrics,
        }
    finally:
        rss.stop()
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def end_to_end_metrics(summary: dict, input_rows: int) -> dict:
    import stats
    from metrics import metric

    passes = summary["passes"]
    warm = [p for p in passes if p["warm"] and not p["traced"]]
    pass_p50 = stats.median([p["seconds"] for p in warm])
    op_samples = [s for p in warm for s in p["op_seconds"]]
    return {
        **metric("setup_s", summary["setup_s"]),
        **metric("cold_pass_s", passes[0]["seconds"]),
        **metric("pass_p50_s", pass_p50),
        **metric("rows_per_s", input_rows / pass_p50),
        **metric("query_p50_s", stats.median(op_samples)),
    }


def per_layer_metrics(summary: dict, tracer, cores: int) -> dict:
    """Per-layer metrics: medians over traced warm passes of per-pass sums;
    cache gauges as their maximum after any operation; codec probes; the
    peak memory of set-up and the untraced passes."""
    import stats
    from metrics import PASS_SUMMED, metric, probe_codecs

    passes = summary["passes"]
    traced = [p for p in passes if p["warm"] and p["traced"]]
    untraced = [p for p in passes if p["warm"] and not p["traced"]]
    per_pass = []
    for p in traced:
        ops = [o for o in tracer.ops if o["pass"] == p["pass"]]
        sums = {k: sum(o.get(k, 0) for o in ops) for k in PASS_SUMMED + ["spark.exec.wall_s"]}
        wall = sums.pop("spark.exec.wall_s")
        sums["spark.exec.cpu_util"] = sums["spark.exec.cpu_s"] / (wall * cores)
        per_pass.append(sums)
    out = metric("peak_rss_mb", summary["peak_rss_mb"])
    out.update(metric("session.start_s", summary["session_start_s"]))
    out.update(probe_codecs())
    for key in PASS_SUMMED + ["spark.exec.cpu_util"]:
        out.update(metric(key, stats.median([p[key] for p in per_pass])))
    for key in ("cache.storage_bytes", "cache.rdd_blocks", "cache.persisted"):
        out.update(metric(key, max(o[key] for o in tracer.ops)))
    overhead = stats.median([p["seconds"] for p in traced]) - stats.median([p["seconds"] for p in untraced])
    out.update(metric("trace.overhead_s", overhead))
    return out


def record_digest(args, inputs: dict, digests) -> bool:
    """Mask output digests must repeat across runs with the same seed and
    input sizes."""
    if not digests:
        return True
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    key = f"{args.workload}:seed{args.seed}:rows{inputs['rows']}:parts{inputs['parts']}"
    ok = seen.setdefault(key, digests[0]) == digests[0]
    with open(path, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    return ok


def write_trace(args, summary: dict, tracer, metrics: dict) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {"summary": summary, "metrics": metrics, "spans": tracer.spans, "ops": tracer.ops},
            f, indent=1, default=str,
        )


def report(summary: dict) -> None:
    """Human-readable lines on stderr: sample counts and the tail percentile."""
    import stats

    warm = [p for p in summary["passes"] if p["warm"] and not p["traced"]]
    samples = [s for p in warm for s in p["op_seconds"]]
    tail = stats.tail_percentile(samples)
    tail_s = f"p{tail[0]:g}={tail[1]:.3f}s" if tail else "no percentile has 10 samples beyond it"
    print(
        f"[perfbench] {summary['workload']} seed={summary['seed']}: "
        f"{len(summary['passes'])} passes ({len(warm)} warm untraced), "
        f"{len(samples)} warm operation samples, tail {tail_s}, "
        f"failed {summary['failed']}/{summary['attempted']} "
        f"(failed_frac {summary['failed_frac']:g})",
        file=sys.stderr,
    )
    print(
        f"[perfbench] setup {summary['setup_s']:.2f}s (session start "
        f"{summary['session_start_s']:.2f}s), prepare {summary['prepare_s']:.2f}s, passes "
        + " ".join(f"{p['seconds']:.2f}" for p in summary["passes"])
        + f", run {summary['run_s']:.1f}s",
        file=sys.stderr,
    )
    for p in summary["passes"]:
        print(f"[perfbench]   pass {p['pass']}: " + ", ".join(
            f"{o} {t:.2f}" for o, t in zip(p["ops"], p["op_seconds"])), file=sys.stderr)
    for f in summary["failures"]:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
