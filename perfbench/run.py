"""Benchmark entry point.

    python3 perfbench/run.py --workload yelp_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload on local[nproc] from this driver process, checks its
outputs, prints every metric by name with its unit and sample count,
and ends with one JSON line. ``--trace 0`` measures the end-to-end
metrics with no barriers and no event log; ``--trace 1`` forces each
layer's output at its boundary, tags each layer's jobs with a job
group, turns on Spark's event log and reports the per-layer metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import core  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("yelp_pipeline", "review_stream")
DRIVER_MEMORY = "1536m"

PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.scan_tasks": "count",
    "sources.cpu_util": "ratio",
    "sources.rows_quarantined": "count",
    "sources.write_s": "s",
    "operators.preprocess_s": "s",
    "operators.shuffle_bytes": "bytes",
    "plans.eda_s": "s",
    "functions.vader_s": "s",
    "functions.vader_tokens_per_s": "1/s",
    "functions.shuffle_bytes": "bytes",
    "functions.spill_bytes": "bytes",
    "ml.fit_s.svm": "s",
    "ml.fit_s.logreg": "s",
    "ml.fit_s.nb": "s",
    "ml.fit_jobs": "count",
    "ml.eval_s": "s",
    "ml.save_s": "s",
    "ml.load_s": "s",
    "ml.score_rows_per_s": "rows/s",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.rows_per_batch_p50": "count",
    "streaming.backlog_rows": "count",
    "streaming.capacity_rows_per_s": "rows/s",
    **{f"{layer}.self_s": "s" for layer in core.LAYERS},
    **{f"{layer}.gc_ms": "ms" for layer in core.LAYERS},
    **{f"{layer}.failed_tasks": "count" for layer in core.LAYERS},
    "trace.pass_s": "s",
}


class Ctx:
    """What a workload needs from the harness: the session, its inputs,
    the timed-region settings and the tracing hooks. With tracing off,
    ``layer`` and ``force`` do nothing."""

    def __init__(self, args, run_dir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.out_dir = run_dir
        self.nproc = len(os.sched_getaffinity(0))
        self.spans = core.SpanLog()
        self.stream_runs: dict[str, str] = {}
        self.recording = True  # off while warming up: no spans, no job groups
        self.setup_s = 0.0
        self.spark = None
        self.inputs = None

    @contextmanager
    def layer(self, name: str):
        """Span ``name`` ('<layer>.<step>'); its jobs join group ``name``."""
        if not (self.traced and self.recording):
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        span = self.spans.open(name, name.split(".", 1)[0])
        sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.close(span)

    def force(self, *dfs):
        """Traced runs materialize a layer's output at its boundary."""
        if self.traced and self.recording:
            for df in dfs:
                df.cache().count()
        return dfs[0]

    @contextmanager
    def ml_spans(self, mlp):
        """Span each model fit and evaluation inside the ml layer.
        ``compare_models`` and ``deploy`` look these functions up on the
        module at call time, so wrapping the module attributes reaches
        them; the originals are restored on exit."""
        if not self.traced:
            yield
            return
        fit, evaluate = mlp.train_and_evaluate, mlp.evaluate_f1

        def traced_fit(df, model="svm", **kw):
            with self.layer(f"ml.fit.{model}"):
                return fit(df, model, **kw)

        def traced_eval(*a, **kw):
            with self.layer("ml.eval"):
                return evaluate(*a, **kw)

        mlp.train_and_evaluate, mlp.evaluate_f1 = traced_fit, traced_eval
        try:
            yield
        finally:
            mlp.train_and_evaluate, mlp.evaluate_f1 = fit, evaluate

    def sampler(self) -> core.RssSampler:
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return core.RssSampler([os.getpid(), jvm_pid])


def _spark_conf(ctx: Ctx, tmp: str) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed heap size keeps peak RSS from following GC timing
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(ctx.out_dir, "warehouse"),
    }
    if ctx.traced:
        events = os.path.join(ctx.out_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it ends
    when the pipe to its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _layer_metrics(ctx: Ctx, result: dict, session_s: float) -> dict[str, float]:
    passes = result["passes"]
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = session_s
    m.update(result["layers"])
    for layer, s in ctx.spans.self_times().items():
        if layer in core.LAYERS:
            m[f"{layer}.self_s"] = s / passes
    m["session.self_s"] = session_s
    for model in ("svm", "logreg", "nb"):
        m[f"ml.fit_s.{model}"] = ctx.spans.self_time(f"ml.fit.{model}") / passes
    m["ml.eval_s"] = ctx.spans.total("ml.eval") / passes
    groups = core.read_event_logs(os.path.join(ctx.out_dir, "events"), ctx.stream_runs)
    layers = core.by_layer(groups)
    for layer, c in layers.items():
        m[f"{layer}.gc_ms"] = c.gc_ms / passes
        m[f"{layer}.failed_tasks"] = c.failed_tasks / passes
    read = groups.get("sources.read", core.LayerCounters())
    if m["sources.read_s"]:
        m["sources.cpu_util"] = read.cpu_ns / 1e9 / passes / (m["sources.read_s"] * ctx.nproc)
    for layer in ("operators", "functions"):
        m[f"{layer}.shuffle_bytes"] = layers.get(layer, core.LayerCounters()).shuffle_bytes / passes
    m["functions.spill_bytes"] = layers.get("functions", core.LayerCounters()).spill_bytes / passes
    m["ml.fit_jobs"] = sum(c.jobs for g, c in groups.items() if g.startswith("ml.fit.")) / passes
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # py4j, Spark, the JVMs and the package zip write nowhere but the
    # checkout; SPARK_LOCAL_DIRS would override spark.local.dir, and
    # without -XX:-UsePerfData every JVM keeps a file under /tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    try:
        import sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark as package
        from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.session import get_spark
    except ImportError as e:
        package, reason = None, str(e)
    else:
        reason = f"it was imported from {package.__file__}"
    if package is None or not os.path.abspath(package.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package under test must come from this checkout ({reason}); "
              "run from the repository root", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    import stream
    import yelp

    workload = {"yelp_pipeline": yelp, "review_stream": stream}[args.workload]
    ctx = Ctx(args, run_dir)
    if args.workload == "yelp_pipeline":
        files, truth = gen.make_yelp(args.seed, yelp.N_REVIEWS)
        ctx.inputs = (gen.write_files(files, os.path.join(run_dir, "input")), truth)

    try:
        t = time.perf_counter()
        ctx.spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{ctx.nproc}]",
            extra_conf=_spark_conf(ctx, tmp),
        )
        session_s = time.perf_counter() - t
        ctx.setup_s = session_s
        result = workload.run(ctx)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)

    if args.trace:
        metrics = _layer_metrics(ctx, result, session_s)
        values = {k: (metrics[k], PER_LAYER[k], result["passes"]) for k in PER_LAYER}
    else:
        values = result["e2e"]
    checks: core.Checks = result["checks"]

    tag = f"{args.workload}-seed{args.seed}"
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"local[{ctx.nproc}]")
    for note in result.get("notes", []):
        print(f"# {note}")
    for name, (value, unit, n) in values.items():
        print(f"{name:32s} {value:14.4f} {unit:7s} n={n}")
    print(f"{'error_rate':32s} {checks.error_rate:14.4f} {'ratio':7s} "
          f"n={checks.attempted} ({checks.failed} failed)")
    for msg in checks.messages:
        print(f"# {msg}")
    if args.trace:
        ctx.spans.write(os.path.join(OUT, f"{tag}-spans.jsonl"))
        untraced = os.path.join(OUT, f"{tag}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["pass_s"]["value"]
            over = values["trace.pass_s"][0] - base
            print(f"# tracing overhead on pass_s: {over:+.3f} s ({over / base:+.1%}) "
                  f"against the untraced run of this seed")
        else:
            print("# tracing overhead: run --trace 0 with this seed first to compare pass_s")

    out = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in values.items()},
    }
    with open(os.path.join(OUT, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(out, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
