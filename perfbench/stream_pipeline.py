"""``stream_pipeline``: ``run_composed_pipeline`` with all four document
consumers.

- Trades leg, open loop: a generator thread drops one JSON-lines file of
  ``TRADES_PER_FILE`` requests (``trades_source.gen_row``) every
  ``1 / FILES_PER_S`` seconds on a fixed schedule.  The pipeline
  reads them as an uncapped file stream, as the reference importer
  flushes whatever arrived each second.  A file's lag runs from its
  scheduled drop time to the end of the import trigger that commits it;
  lag is sampled over ``--seconds`` after the warm-up, and the generator
  keeps running until the measured doc batches have ended.
- Docs leg, closed loop: a pre-staged backlog of ``DOCS_PER_FILE``-doc
  files, just the warm-up and measured batches, one file per doc
  trigger, with the decontamination screen and a k=32 reservoir on.  Throughput is taken over the fixed doc batch ids
  ``[WARM_DOC_BATCHES, WARM_DOC_BATCHES + MEASURED_DOC_BATCHES)``, which
  hold the same compactions in every run.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

from perfbench import datagen
from perfbench.trace import ProgressLog, median, pct

#: calibrated on a 4-core host, see perfbench/README.md
TRADES_PER_FILE = 7
FILES_PER_S = 8
TRADES_PER_S = TRADES_PER_FILE * FILES_PER_S
DOCS_PER_FILE = 20
WARM_DOC_BATCHES = 1
MEASURED_DOC_BATCHES = 2
COMPACT_EVERY = 1
TRIGGER = "1 second"
N_EVAL_DOCS = 16

#: the backlog holds exactly the warm-up and measured doc batches, so the
#: doc leg goes idle after the last measured batch and the import drain
#: runs without it
_BACKLOG_FILES = WARM_DOC_BATCHES + MEASURED_DOC_BATCHES


def _offset(seed: int) -> int:
    # whole days, so trade times never wrap gen_row's 28-day calendar
    return (seed % 20) * 86_400


def generate(ctx, out: str) -> dict:
    base = os.path.join(out, "base")
    os.makedirs(base, exist_ok=True)
    datagen._base_tables(base, datagen.FIXTURE_SEED)
    staged = datagen.write_doc_backlog(
        os.path.join(out, "docs"), os.path.join(base, "documents.parquet"),
        ctx.seed, _BACKLOG_FILES, DOCS_PER_FILE)
    return {"docs_dir": os.path.join(out, "docs"), "staged": staged,
            "requests_dir": os.path.join(out, "requests"),
            "out_dir": os.path.join(out, "pipeline")}


class _Generator(threading.Thread):
    """Drops request file k at ``t0 + k / FILES_PER_S``."""

    def __init__(self, requests_dir: str, start_index: int):
        super().__init__(daemon=True)
        self.dir = requests_dir
        self.start_index = start_index
        self.stop_evt = threading.Event()
        self.due: list[float] = []
        self.late: list[float] = []
        self.error: Exception | None = None
        os.makedirs(os.path.join(requests_dir, "files"), exist_ok=True)

    def run(self) -> None:
        try:
            t0 = time.time()
            k = 0
            while not self.stop_evt.is_set():
                due = t0 + k / FILES_PER_S
                wait = due - time.time()
                if wait > 0 and self.stop_evt.wait(wait):
                    break
                datagen.write_request_file(
                    os.path.join(self.dir, "files", f"req_{k:06d}.json"),
                    self.start_index + k * TRADES_PER_FILE, TRADES_PER_FILE)
                self.late.append(time.time() - due)
                self.due.append(due)
                k += 1
        except Exception as e:  # re-raised by the workload after join
            self.error = e


def _ts_of(i: int) -> dt.datetime:
    from currency_market_pulse_spark.sources.trades_source import gen_row

    return dt.datetime.strptime(gen_row(i)[6].title(), "%d-%b-%y %H:%M:%S")


def _end(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


def _dir_stats(path: str) -> tuple[int, float]:
    n, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size / 2**20


def _install_wrappers(tr) -> list:
    from currency_market_pulse_spark.streaming.cms_stream import (
        StreamingHeavyHitters,
    )
    from currency_market_pulse_spark.streaming.decontam_stream import (
        StreamingDecontam,
    )
    from currency_market_pulse_spark.streaming.neardup_stream import (
        StreamingNearDup,
    )
    from currency_market_pulse_spark.streaming.reservoir_stream import (
        StreamingReservoir,
    )
    from currency_market_pulse_spark.streaming.txn_sink import (
        TxnParquetTradesSink,
    )

    return [
        tr.wrap(TxnParquetTradesSink, "write", "streaming.txn_sink.write", 1),
        tr.wrap(StreamingNearDup, "process_batch",
                "streaming.neardup.process_batch", 1),
        tr.wrap(StreamingNearDup, "compact", "streaming.neardup.compact", 1),
        tr.wrap(StreamingHeavyHitters, "process_batch",
                "streaming.cms.process_batch", 1),
        tr.wrap(StreamingDecontam, "process_batch",
                "streaming.decontam.process_batch", 1),
        tr.wrap(StreamingReservoir, "process_batch",
                "streaming.reservoir.process_batch", 1),
    ]


def run(ctx) -> dict:
    from currency_market_pulse_spark.functions.normalize import INGEST_SCHEMA
    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs
    staged = inp["staged"]
    eval_docs = spark.createDataFrame(
        [(10_000_000 + i, staged[(i * 7) % len(staged)][1])
         for i in range(N_EVAL_DOCS)], "doc_id long, text string")
    undo = _install_wrappers(tr) if tr.enabled else []
    progress = ProgressLog(spark)
    gen = _Generator(inp["requests_dir"], _offset(ctx.seed))
    t_start = time.time()
    with tr.span("streaming.pipeline.start"):
        pipe = run_composed_pipeline(
            spark, None, inp["docs_dir"], inp["out_dir"], trigger=TRIGGER,
            eval_df=eval_docs, reservoir_k=32,
            requests_stream=spark.readStream.schema(INGEST_SCHEMA)
            .json(os.path.join(inp["requests_dir"], "files")),
            neardup_compact_every=COMPACT_EVERY,
            expected_rows_per_trigger=TRADES_PER_S)
    q_import, q_view, q_docs = (q.id for q in pipe.queries)
    ctx.log(f"pipeline started in {time.time() - t_start:.2f}s")
    gen.start()
    try:
        return _measure(ctx, pipe, progress, gen, t_start,
                        q_import, q_view, q_docs)
    finally:
        gen.stop_evt.set()
        gen.join(timeout=30)
        pipe.stop()
        progress.close()
        for u in undo:
            u()


def _wait(cond, timeout: float, pipe, what: str) -> None:
    deadline = time.time() + timeout
    while not cond():
        pipe._raise_if_failed()
        if time.time() > deadline:
            raise TimeoutError(f"stream_pipeline: no {what} in {timeout}s")
        time.sleep(0.1)


def _measure(ctx, pipe, progress, gen, t_start, q_import, q_view,
             q_docs) -> dict:
    from pyspark.sql import functions as F

    from currency_market_pulse_spark.operators.trends import trends
    from currency_market_pulse_spark.streaming.backfill import (
        cold_corpus_dups,
    )

    spark, tr = ctx.spark, ctx.tracer
    of = progress.of

    def done_docs():
        return {p["batchId"]: p for p in of(q_docs) if p["numInputRows"] > 0}

    def imported_rows():
        return sum(p["numInputRows"] for p in of(q_import))

    # ---- ready: first doc trigger and first non-empty import trigger
    _wait(lambda: done_docs() and imported_rows() > 0, 120, pipe,
          "first triggers")
    ready_s = time.time() - t_start
    ctx.log(f"pipeline ready in {ready_s:.2f}s")
    last_warm = WARM_DOC_BATCHES - 1
    _wait(lambda: last_warm in done_docs(), 120, pipe, "warm-up doc batches")
    t_meas = _end(done_docs()[last_warm])
    last = WARM_DOC_BATCHES + MEASURED_DOC_BATCHES - 1
    # trade lag is sampled over --seconds after warm-up; the open loop
    # keeps offering requests until the measured doc batches have ended
    # too, so wall_s is always measured under the same offered load
    t_lag_end = t_meas + ctx.seconds
    _wait(lambda: time.time() >= t_lag_end and last in done_docs(),
          ctx.seconds + 120, pipe, "measured window")
    gen.stop_evt.set()
    gen.join(timeout=30)
    if gen.error is not None:
        raise gen.error
    offered = len(gen.due) * TRADES_PER_FILE
    # output check (untimed) while the imports drain: the dup log of doc
    # batches 0..last equals the cold-corpus dups of their documents
    docs = spark.createDataFrame(
        ctx.inputs["staged"][:(last + 1) * DOCS_PER_FILE],
        "doc_id long, text string")
    want = {(int(a), int(b), round(float(j), 6)) for a, b, j in
            cold_corpus_dups(docs).collect()}
    got = {(int(a), int(b), round(float(j), 6)) for a, b, j, _ in
           pipe.neardup.read_dups(spark)
           .filter(F.col("batch_id") <= last).collect()}
    _wait(lambda: imported_rows() >= offered, 60, pipe, "import drain")
    pipe.stop()
    ctx.log("pipeline drained and stopped")

    docs_done = done_docs()
    n_doc_batches = max(docs_done) + 1
    wall_s = _end(docs_done[last]) - t_meas

    # ---- trade lag per request file (due time -> commit end)
    sink = (spark.read.parquet(pipe.trades_path)
            .select("time_placed", "batch_id").toPandas())
    dead = pipe.read_dead_letters(spark).select("ts_ms", "batch_id") \
        .toPandas()
    batch_of = {t.to_pydatetime(): int(b)
                for t, b in zip(sink["time_placed"], sink["batch_id"])}
    for ms, b in zip(dead["ts_ms"], dead["batch_id"]):
        batch_of[dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
                 .replace(tzinfo=None)] = int(b)
    imp_end = {p["batchId"]: _end(p) for p in of(q_import)}
    view_ends = []
    for p in of(q_view):
        for s in p["sources"]:
            off = s.get("endOffset")
            if off:
                off = json.loads(off) if isinstance(off, str) else off
                view_ends.append((off["batch"], _end(p)))
    view_ends.sort(key=lambda x: x[1])
    lag, view_lag = [], []
    missing = 0
    start = _offset(ctx.seed)
    for k, due in enumerate(gen.due):
        b = batch_of.get(_ts_of(start + k * TRADES_PER_FILE))
        if b is None or b not in imp_end:
            missing += 1
            continue
        if t_meas <= due <= t_lag_end:
            lag.append(imp_end[b] - due)
            v = next((e for vb, e in view_ends if vb >= b), None)
            if v is not None:
                view_lag.append(v - due)

    # ---- output checks (untimed)
    problems = []
    expected = {_ts_of(start + i) for i in range(offered)}
    landed = len(sink) + len(dead)
    if landed != offered or set(batch_of) != expected:
        problems.append(f"trades: offered {offered}, landed {landed}, "
                        f"distinct {len(batch_of)}")
    sink_df = spark.read.parquet(pipe.trades_path)
    view = spark.table(pipe.trends_view).toPandas()
    for (cf, ct), g in view.groupby(["currency_from", "currency_to"]):
        ref = trends(sink_df, currency_from=cf, currency_to=ct).toPandas()
        ref = ref.set_index("time_window")
        for _, r in g.iterrows():
            e = ref.loc[r["time_window"]]
            if not (e["min"] == r["min"] and e["max"] == r["max"]
                    and abs(e["mean"] - r["mean"])
                    <= 1e-9 * max(1.0, abs(e["mean"]))):
                problems.append(f"view window {cf}/{ct} {r['time_window']}")
    if want != got:
        problems.append(f"dup log: {len(got)} rows vs cold corpus "
                        f"{len(want)}")
    for p in problems:
        ctx.log(f"check failed: {p}")
    ctx.log("outputs checked")

    late_max = max(gen.late)
    e2e = {"wall_s": wall_s}
    layer = {"stream.ready_s": ready_s,
             "stream.trade_lag_p50_ms": pct(lag, 50) * 1e3,
             "stream.trade_lag_p80_ms": pct(lag, 80) * 1e3}
    imp = [p for p in of(q_import) if p["numInputRows"] > 0]
    viewp = [p for p in of(q_view) if p["numInputRows"] > 0]
    docp = [docs_done[b] for b in sorted(docs_done)]
    if tr.enabled:
        for b, p in docs_done.items():
            tr.add_epoch("stream.docs.trigger", _end(p)
                         - p["durationMs"]["triggerExecution"] / 1e3,
                         _end(p), b)
        ms = [p["durationMs"] for p in imp]
        state = [p["stateOperators"][0] for p in imp if p["stateOperators"]]
        layer.update({
            "stream.import.trigger_p50_ms": median(
                [m["triggerExecution"] for m in ms]),
            "stream.import.trigger_p90_ms": pct(
                [m["triggerExecution"] for m in ms], 90),
            "stream.import.add_batch_p50_ms": median(
                [m.get("addBatch", 0) for m in ms]),
            "stream.import.wal_commit_p50_ms": median(
                [m.get("walCommit", 0) for m in ms]),
            "stream.import.rows_per_trigger_p50": median(
                [p["numInputRows"] for p in imp]),
            "stream.gateway.state_rows": state[-1]["numRowsTotal"],
            "stream.gateway.state_mb": state[-1]["memoryUsedBytes"] / 2**20,
            "stream.gateway.update_ms_p50": median(
                [s.get("allUpdatesTimeMs", 0) for s in state]),
            "stream.view.trigger_p50_ms": median(
                [p["durationMs"]["triggerExecution"] for p in viewp]),
            "stream.view.rows_per_trigger_p50": median(
                [p["numInputRows"] for p in viewp]),
            "stream.view_lag_p50_s": median(view_lag) if view_lag else 0.0,
            "stream.docs.trigger_p50_ms": median(
                [p["durationMs"]["triggerExecution"] for p in docp]),
            "stream.docs_per_s": MEASURED_DOC_BATCHES * DOCS_PER_FILE
            / wall_s,
        })
        for span, key in (("txn_sink.write", "txn_sink.write"),
                          ("neardup.process_batch", "neardup.batch"),
                          ("cms.process_batch", "cms.batch"),
                          ("decontam.process_batch", "decontam.batch"),
                          ("reservoir.process_batch", "reservoir.batch")):
            d = tr.durations(f"streaming.{span}")
            layer[f"streaming.{key}_p50_ms"] = median(d) * 1e3
        comp = tr.durations("streaming.neardup.compact")
        layer["streaming.neardup.compact_s"] = sum(comp)
        layer["streaming.neardup.compactions"] = len(comp)
        out = ctx.inputs["out_dir"]
        idx_rows = pipe.neardup.read_bands(spark).count()
        layer["streaming.neardup.index_band_rows"] = idx_rows
        layer["streaming.neardup.index_mb"] = sum(
            _dir_stats(os.path.join(out, d))[1]
            for d in ("idx_bands", "idx_shingles", "idx_hashes"))
        n_files, mb = _dir_stats(pipe.trades_path)
        layer["streaming.sink.files"] = n_files
        layer["streaming.sink.mb"] = mb
        layer["streaming.txn.manifest_files"] = _dir_stats(
            os.path.join(pipe.trades_path, "_txn"))[0]
        layer["stream.dead_letters"] = len(dead)
        layer["stream.dups_flagged"] = len(got)
        layer["stream.generator_late_max_s"] = late_max
    attempted = offered + n_doc_batches * DOCS_PER_FILE
    return {"e2e": e2e, "layer": layer, "attempted": attempted,
            "warmup_s": ready_s, "window": (t_meas, _end(docs_done[last])),
            "failed": missing + (0 if not problems else 1),
            "correct": not problems and missing == 0,
            "host": {"generator_late_max_s": late_max,
                     "generator_late": late_max > 0.25},
            "detail": {"problems": problems,
                       "offered_trades": offered, "lag_samples": len(lag),
                       "doc_batches": n_doc_batches,
                       "view_lag_p50_s": median(view_lag) if view_lag
                       else None,
                       "docs_per_s": MEASURED_DOC_BATCHES * DOCS_PER_FILE
                       / wall_s,
                       "lag_first_third_ms": median(
                           lag[:len(lag) // 3]) * 1e3,
                       "lag_last_third_ms": median(
                           lag[-(len(lag) // 3):]) * 1e3,
                       "imports": len(imp), "view_triggers": len(viewp)}}
