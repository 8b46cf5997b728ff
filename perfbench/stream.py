"""review_stream: Prediction_Pipe_Line.py as an open loop.

Spark's ``rate`` source offers rows at a fixed rate and stamps each
with the time it was due. Each row takes one of TEXT_POOL review texts
built before setup from the same vocabulary and length law as
yelp_pipeline (a broadcast join on the row id), plus two tokens
carrying the row id and its due time in letters: ``score_stream`` keeps
only the cleaned text and the prediction, and cleaning strips digits,
so the id has to travel inside the text. The tokens are out of the
model's vocabulary and do not change its prediction.

``score_stream`` scores the texts with a pipeline fitted during setup
(NaiveBayes: a cold SVM fit would add ~12 s to every run and does not
change what the timed region measures), on a 1 s processing-time
trigger. The sink hands each micro-batch to the driver (Arrow, as the
reference printed its predictions there) and records the emission time
when it has arrived; a row's latency is that time minus its due time.

Two rungs run in the timed region. The nominal rate, well under
capacity, gives latency and the per-batch costs. A capacity rung then
feeds fixed-size micro-batches (Spark's ``rate-micro-batch`` source)
back to back, with no trigger interval between them, and gives the rows
per second the stream sustains.
"""

from __future__ import annotations

import os
import re
import time
from datetime import datetime

import core
import gen

NOMINAL_RPS = 4000
TEXT_POOL = 4096  # distinct review texts; row v gets text v mod TEXT_POOL
CAPACITY_BATCH_ROWS = 10000  # ~0.5 s of work per micro-batch on 4 cores
TRIGGER = "1 second"
LATENCY_LIMIT_MS = 3000.0  # p99 limit at the nominal rate
TRAIN_ROWS = 2000
MODEL = "nb"
WARMUP_S = 1.0
WARMUP_CAPACITY_S = 4.0  # until the JIT has compiled the scoring path
NOMINAL_SHARE = 0.5  # of the timed region; the capacity rung gets the rest
DRAIN_TIMEOUT_S = 30.0
# The rate source hands rows over in whole seconds counted from its
# creation, while a 1 s trigger fires on whole wall-clock seconds. The
# gap between the two adds up to 1 s to every row's latency, so each
# rung starts at the same point of the wall-clock second; the source is
# created some 60 ms later, about half-way between two triggers.
START_PHASE_S = 0.44
LETTERS = "abcdefghijklmnopqrstuvwxyz"
BASE26 = "0123456789abcdefghijklmnop"


def _encode(col):
    from pyspark.sql import functions as F

    return F.translate(F.lower(F.conv(col.cast("string"), 10, 26)), BASE26, LETTERS)


def _decode(texts, tag: str) -> list[int]:
    to_base26 = str.maketrans(LETTERS, BASE26)
    pattern = re.compile(rf"\b{tag}([a-z]+)")
    return [int(pattern.search(t).group(1).translate(to_base26), 26) for t in texts]


def _lines(df, pool):
    """Raw review lines from (value, timestamp) rows, stream or batch:
    the pool's text for the row id, then the id and due-time tokens."""
    from pyspark.sql import functions as F

    keyed = df.withColumn("k", F.pmod(F.col("value"), F.lit(TEXT_POOL)))
    return keyed.join(F.broadcast(pool), "k").select(
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("qv"), _encode(F.col("value"))),
            F.concat(F.lit("qt"), _encode(F.unix_millis(F.col("timestamp")))),
        ).alias("value")
    )


class Rung:
    """One streaming query at one offered rate, run for a while."""

    def __init__(self, ctx, model, pool, name: str, rate: int = 0, batch_rows: int = 0) -> None:
        """Offer ``rate`` rows/s, each stamped with its due time, or,
        with ``batch_rows``, exactly that many rows per micro-batch as
        fast as the stream takes them."""
        self.ctx, self.model, self.pool, self.name = ctx, model, pool, name
        self.rate, self.batch_rows = rate, batch_rows
        self.checkpoint = os.path.join(ctx.out_dir, "stream", name)
        self.parts: list = []  # pandas frames of (text, sentiment, batch_id)
        self.emit_ms: dict[int, float] = {}
        self.stopping = False
        self.query = None

    def _write(self, df, batch_id: int) -> None:
        if self.stopping:
            return
        rows = df.toPandas()
        self.emit_ms[batch_id] = time.time() * 1000.0
        rows["batch_id"] = batch_id
        self.parts.append(rows)

    def run(self, seconds: float, drain: bool) -> "Rung":
        from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.streaming.scoring import score_stream

        spark = self.ctx.spark
        reader = spark.readStream.option("numPartitions", self.ctx.nproc)
        if self.batch_rows:
            src = reader.format("rate-micro-batch").option("rowsPerBatch", self.batch_rows).load()
        else:
            src = reader.format("rate").option("rowsPerSecond", self.rate).load()
        scored = score_stream(_lines(src, self.pool), self.model)
        time.sleep((START_PHASE_S - time.time()) % 1.0)
        self.query = (
            scored.writeStream.foreachBatch(self._write)
            .option("checkpointLocation", self.checkpoint)
            # a capacity rung runs its micro-batches back to back
            .trigger(processingTime="0 seconds" if self.batch_rows else TRIGGER)
            .start()
        )
        if self.ctx.recording:
            self.ctx.stream_runs[str(self.query.runId)] = "streaming"
        time.sleep(seconds)
        self.end_ms = time.time() * 1000.0
        if drain:
            self._await_batch_after(self.end_ms + 1000.0)
        self._stop()
        return self

    def _await_batch_after(self, t_ms: float) -> None:
        """Wait for a completed micro-batch whose trigger fired after
        t_ms: the rate source has then handed over every row due by
        t_ms - 1 s."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            for p in self.query.recentProgress:
                if p.numInputRows > 0 and _progress_ms(p) >= t_ms:
                    return
            time.sleep(0.1)
        raise TimeoutError(f"{self.name}: stream did not drain in {DRAIN_TIMEOUT_S} s")

    def _stop(self) -> None:
        """Stop once no micro-batch that feeds the sink is running:
        stopping cancels a running one. From here on batches skip the
        sink and run no job, so waiting for the trigger to go idle, or
        for the batch in flight to finish, is enough."""
        self.stopping = True
        in_flight = _batch_id(self.query)
        deadline = time.time() + DRAIN_TIMEOUT_S
        while (self.query.status["isTriggerActive"] and _batch_id(self.query) == in_flight
               and time.time() < deadline):
            time.sleep(0.01)
        self.progress = list(self.query.recentProgress)
        self.query.stop()

    def batches(self) -> list:
        """Progress of micro-batches that carried rows to the sink."""
        return [p for p in self.progress if p.numInputRows > 0 and p.batchId in self.emit_ms]

    def emitted(self):
        """Pandas frame of (text, sentiment, batch_id, v, due_ms) for
        every emitted row."""
        import pandas as pd

        rows = pd.concat(self.parts, ignore_index=True)
        rows["v"] = _decode(rows.text, "qv")
        rows["due_ms"] = _decode(rows.text, "qt")
        return rows


def _batch_id(query) -> int:
    last = query.lastProgress
    return last["batchId"] if last else -1


def _progress_ms(p) -> float:
    return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000.0


def run(ctx) -> dict:
    from pyspark.sql import functions as F
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.ml import pipeline as mlp
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators.clean import normalize_text

    spark = ctx.spark
    # input generation, outside setup_s: the texts rows draw from
    text, _ = gen.stream_review_exprs(ctx.seed, "id")
    pool = spark.range(TEXT_POOL).select(F.col("id").alias("k"), text.alias("text")).cache()
    pool.count()

    t = time.perf_counter()
    train_ids = spark.range(TRAIN_ROWS).withColumnRenamed("id", "value")
    text, label = gen.stream_review_exprs(ctx.seed + 1)  # other ids than the stream's texts
    labelled = train_ids.select(normalize_text(text).alias("text"), label.alias("label"))
    with ctx.ml_spans(mlp):
        model, f1 = mlp.train_and_evaluate(labelled, MODEL)
    ctx.recording = False
    Rung(ctx, model, pool, "warmup", rate=NOMINAL_RPS).run(WARMUP_S, drain=False)
    Rung(ctx, model, pool, "warmup-capacity", batch_rows=CAPACITY_BATCH_ROWS).run(WARMUP_CAPACITY_S, drain=False)
    ctx.recording = True
    ctx.setup_s += time.perf_counter() - t

    sampler = ctx.sampler().start()
    with ctx.layer("streaming.nominal"):
        nominal = Rung(ctx, model, pool, "nominal", rate=NOMINAL_RPS).run(ctx.seconds * NOMINAL_SHARE, drain=True)
    with ctx.layer("streaming.capacity"):
        capacity = Rung(ctx, model, pool, "capacity", batch_rows=CAPACITY_BATCH_ROWS).run(
            ctx.seconds * (1 - NOMINAL_SHARE), drain=False)
    peak_rss = sampler.stop()

    # --- checks, outside the timed region
    if not nominal.parts:
        raise RuntimeError("the nominal rung emitted no rows")
    rows = nominal.emitted()
    checks = core.Checks()
    creation = int((rows.due_ms - (rows.v * 1000.0 / NOMINAL_RPS).round()).min())
    last_due = _last_due_value(creation, nominal.end_ms, NOMINAL_RPS)
    due_rows = rows[rows.v <= last_due]
    attempted, failed = core.exactly_once_failures(due_rows.v.tolist(), last_due)
    checks.bulk(attempted, failed, "due rows missing or emitted twice")

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.streaming.scoring import score_stream

    streamed = spark.createDataFrame(due_rows[["text", "sentiment"]])
    ids = spark.createDataFrame(due_rows[["v", "due_ms"]]).select(
        F.col("v").alias("value"), F.timestamp_millis("due_ms").alias("timestamp")
    )
    twin = score_stream(_lines(ids, pool), model)
    wrong = streamed.exceptAll(twin).count()
    checks.bulk(0, wrong, "rows whose prediction differs from a batch transform")

    lat = core.row_latencies(due_rows.due_ms.tolist(), due_rows.batch_id.tolist(), nominal.emit_ms)
    backlog = core.backlog_at_emits(due_rows.due_ms.tolist(), due_rows.batch_id.tolist(),
                                    {b: t for b, t in nominal.emit_ms.items() if t <= nominal.end_ms})
    growing = core.backlog_growing(backlog[1:], NOMINAL_RPS)  # the first batch starts empty
    nb = nominal.batches()
    trig = [p.durationMs["triggerExecution"] / 1000.0 for p in nb]
    cap = [p.numInputRows / (p.durationMs["triggerExecution"] / 1000.0) for p in capacity.batches()]
    sustained = core.median(cap)

    tail = core.highest_tail(len(lat))
    notes = [
        f"nominal rate {NOMINAL_RPS} rows/s: {len(lat)} rows, {len(nb)} micro-batches of "
        + ", ".join(f"{p.durationMs['triggerExecution']}" for p in nb) + " ms",
        f"p99 limit {LATENCY_LIMIT_MS:.0f} ms met: {bool(tail and core.percentile(lat, 99) <= LATENCY_LIMIT_MS)}; "
        f"backlog growing: {growing}; backlog rows at batch ends: {[b for _, b in backlog]}",
        f"max_rate_rps {sustained:.1f} rows/s (n={len(cap)}): median of {CAPACITY_BATCH_ROWS}-row micro-batches "
        f"({', '.join(f'{c:.0f}' for c in cap)})",
    ]
    e2e = {
        "setup_s": (ctx.setup_s, "s", 1),
        "pass_s": (core.median(trig), "s", len(trig)),
        "f1": (f1, "1", 1),
        "lat_p50_ms": (core.median(lat), "ms", len(lat)),
        "peak_rss_mb": (peak_rss, "MB", 1),
    }
    if tail is not None:
        notes.append(f"lat_p{tail:g}_ms {core.percentile(lat, tail):.1f} ms (n={len(lat)})")
    layers = {}
    if ctx.traced:

        def p50(key):
            return core.median([float(p.durationMs.get(key, 0)) for p in nb])

        add_batch_s = sum(p.durationMs["addBatch"] for p in nb) / 1000.0
        layers = {
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.planning_ms_p50": p50("queryPlanning"),
            "streaming.commit_ms_p50": p50("commitOffsets"),
            "streaming.rows_per_batch_p50": core.median([float(p.numInputRows) for p in nb]),
            "streaming.backlog_rows": float(max(b for _, b in backlog)) if backlog else 0.0,
            "ml.score_rows_per_s": sum(p.numInputRows for p in nb) / add_batch_s if add_batch_s else 0.0,
            "streaming.capacity_rows_per_s": sustained,
            "trace.pass_s": core.median(trig),
        }
    return {"e2e": e2e, "layers": layers, "checks": checks, "notes": notes, "passes": 1}


def _last_due_value(creation_ms: int, end_ms: float, rate: int) -> int:
    """Highest row id the rate source had made due by end_ms: row v is
    due at creation + round(v * 1000 / rate) ms."""
    v = int((end_ms - creation_ms) * rate / 1000.0) + 2
    while v >= 0 and creation_ms + int(v * 1000.0 / rate + 0.5) > end_ms:
        v -= 1
    return v
