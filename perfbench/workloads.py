"""The benchmark's workloads.  Each takes a :class:`Run` and fills in
its ledger, end-to-end metrics and (when tracing) per-layer metrics.

- ``stream_dgim``: the reference's three DGIM jobs on Structured
  Streaming, replaying a seeded traffic fixture one 60 s file per
  micro-batch into the upsert sink.
- ``batch_mixed``: registry queries, each built fresh and written to
  the noop sink; short fixed-cost queries mixed with heavy task-bound
  ones, in a seeded order.

Both run a closed loop: the next op starts when the previous one ends.
"""

from __future__ import annotations

import datetime
import importlib.util
import json
import os
import random
import re
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import datagen
import metrics as M
from layers import (
    StageStats,
    Tracer,
    add_into,
    dgim_timings,
    jvm_peak_rss_mb,
    tree_cpu_s,
)

STREAM_PIPELINES = ("tumble_dgim", "hop_dgim", "tumble_dgim_tws")
STREAM_FIELDS = (
    "batches", "add_batch_ms", "planning_ms", "offsets_ms", "commit_ms",
    "state_rows", "state_mb", "state_commit_ms", "late_rows",
)

#: (name, unit) of every per-layer metric, in print order
PER_LAYER = (
    [
        ("session.get_spark_s", "s"),
        ("session.table_ms", "ms"),
        ("session.table_jobs", "count"),
        ("build.s", "s"),
        ("build.jobs", "count"),
        ("build.task_s", "s"),
        ("exec.write_s", "s"),
        ("exec.jobs", "count"),
        ("exec.stages", "count"),
        ("exec.tasks", "count"),
        ("exec.task_s", "s"),
        ("exec.cpu_s", "s"),
        ("exec.gc_s", "s"),
        ("exec.busy_frac", "ratio"),
        ("exec.shuffle_read_mb", "MB"),
        ("exec.shuffle_write_mb", "MB"),
        ("exec.shuffle_wait_s", "s"),
        ("exec.spill_mb", "MB"),
        ("exec.failed_tasks", "count"),
    ]
    + [
        (f"stream.{p}.{f}", "count" if f in ("batches", "state_rows", "late_rows")
         else "MB" if f == "state_mb" else "ms")
        for p in STREAM_PIPELINES
        for f in STREAM_FIELDS
    ]
    + [
        ("sink.write_ms", "ms"),
        ("sink.records", "count"),
        ("sources.fixture_s", "s"),
        ("sources.events", "count"),
        ("dgim.add_ns", "ns"),
        ("dgim.bulk_add_ns", "ns"),
        ("dgim.buckets_max", "count"),
        ("dgim.rel_err_max", "ratio"),
    ]
)

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("events_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)

DGIM_ERR_BOUND = 0.5


@dataclass
class Run:
    spark: object
    repo: str
    tmp: str
    seed: int
    seconds: float
    cores: int
    t_start: float
    tracer: Tracer
    stats: StageStats | None
    ledger: M.OpLedger = field(default_factory=M.OpLedger)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.stats is not None

    def group(self, name: str) -> None:
        if self.stats is not None:
            self.stats.set_group(name)

    def read(self, name: str) -> dict:
        return self.stats.read(name) if self.stats is not None else {}


def _finish_ops(
    run: Run, op_s: list[float], wall: float, cpu: float, n_events: float
) -> None:
    t = M.tail(op_s)
    run.e2e.update(
        wall_s=wall,
        op_p50_s=M.median(op_s),
        op_tail_s=t.value,
        events_per_s=n_events / wall,
        cpu_s=cpu,
        peak_rss_mb=jvm_peak_rss_mb(run.spark),
    )
    run.notes["op_tail"] = f"p{t.percentile:.1f}, {t.beyond} of {len(op_s)} ops beyond"


def _rel_err(est, exact) -> float:
    est = np.asarray(est, dtype=float)
    exact = np.asarray(exact, dtype=float)
    pos = exact > 0
    if not pos.any():
        return 0.0
    return float(np.max(np.abs(est[pos] - exact[pos]) / exact[pos]))


def _exec_layers(run: Run, acc: dict, write_s: float, passes: int) -> None:
    for k, v in acc.items():
        run.layers[f"exec.{k}"] = v / passes
    run.layers["exec.write_s"] = write_s / passes
    run.layers["exec.busy_frac"] = acc.get("task_s", 0.0) / max(
        1e-9, write_s * run.cores
    )


# ----------------------------------------------------------------------
# stream_dgim
# ----------------------------------------------------------------------
#: nominal seconds one warm micro-batch costs on a 4-core host; sizes
#: the fixture so the timed batches (one per file and pipeline after
#: the warm-up file, plus the no-data batch of each watermarked
#: pipeline) last about ``--seconds``
STREAM_BATCH_S = 1.6
WINDOW_S = 60


def _stream_builders():
    from flink_window_dgim_traffic_spark.streaming import stateful_dgim as SD

    return {
        "tumble_dgim": (
            lambda p: SD.tumble_dgim_stream(p, WINDOW_S, watermark="10 seconds"),
            ["window_end"],
            False,
        ),
        "hop_dgim": (
            lambda p: SD.hop_dgim_stream(p, WINDOW_S, 10, watermark="10 seconds"),
            ["window_start", "window_end"],
            False,
        ),
        "tumble_dgim_tws": (
            lambda p: SD.tumble_dgim_stream_tws(p, WINDOW_S),
            ["window_end"],
            True,
        ),
    }


def _run_pipeline(run: Run, name: str, src_dir: str, sink_calls: list):
    """Replay ``src_dir`` through one pipeline into its own upsert log,
    one file per micro-batch, until the files run out.  Each sink call
    is appended to ``sink_calls`` as (batch id, start, end, process
    tree CPU seconds at its start); its jobs run in job group
    ``sink:<name>:<batch id>``.  Returns (query, out dir, build
    seconds)."""
    from flink_window_dgim_traffic_spark.streaming import jobs as J
    from flink_window_dgim_traffic_spark.streaming.stateful_dgim import (
        tws_state_store_conf,
    )

    build, keys, tws = _stream_builders()[name]
    out = os.path.join(run.tmp, f"{name}_out")
    write = J.upsert_foreach_batch_writer(out, keys)

    def timed_write(batch_df, batch_id):
        cpu = tree_cpu_s() if batch_id == 1 else 0.0
        t0 = time.perf_counter()
        run.group(f"sink:{name}:{batch_id}")
        write(batch_df, batch_id)
        sink_calls.append((batch_id, t0, time.perf_counter(), cpu))

    t0 = time.perf_counter()
    df = build(J.parse_traffic(J.file_traffic_stream(run.spark, src_dir, 1)))
    build_s = time.perf_counter() - t0
    # the state store provider is read when the query starts
    with tws_state_store_conf(run.spark) if tws else nullcontext():
        q = (
            df.writeStream.foreachBatch(timed_write)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(run.tmp, f"{name}_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{name}: {q.exception()}")
    return q, out, build_s


def _batch_times(progress: list, offset: float) -> list[tuple[float, float]]:
    """(start, end) of each micro-batch on the ``perf_counter`` clock,
    from its progress timestamp and ``triggerExecution``; ``offset`` is
    ``time.time() - time.perf_counter()``."""
    out = []
    for p in progress:
        start = (
            datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            .timestamp() - offset
        )
        out.append((start, start + p["durationMs"]["triggerExecution"] / 1e3))
    return out


def _trace_batches(tracer: Tracer, progress: list, times: list, sink_calls: list) -> None:
    """One span per micro-batch, with its sink call as a child."""
    if not tracer.enabled:
        return
    span = {
        p["batchId"]: tracer.add(f"batch:{p['batchId']}", s, e)
        for p, (s, e) in zip(progress, times)
    }
    for batch_id, a, b, _ in sink_calls:
        tracer.add("sink.write", a, b, span.get(batch_id))


def _parse_fixture(path: str) -> pd.DataFrame:
    """The permissive parse of ``parse_traffic``, in pandas: keep rows
    whose value is an int and whose timestamp parses."""
    rows = pd.read_json(path, lines=True, dtype={"value": str, "timestamp": str})
    bit = pd.to_numeric(rows["value"], errors="coerce")
    ts = pd.to_datetime(
        rows["timestamp"], format="%Y-%m-%dT%H:%M:%S.%f", errors="coerce"
    )
    ok = bit.notna() & ts.notna() & (bit == bit.round())
    return pd.DataFrame(
        {"bit": bit[ok].astype("int64"), "ts_sec": ts[ok].astype("int64") // 10**9}
    )


def _expected_windows(ev: pd.DataFrame, slide: int) -> pd.DataFrame:
    """Exact (ones, rows) per WINDOW_S window sliding by ``slide``."""
    from flink_window_dgim_traffic_spark.dgim import count_estimate_closed

    parts = []
    for k in range(WINDOW_S // slide):
        ws = (ev["ts_sec"] // slide) * slide - k * slide
        parts.append(pd.DataFrame({"ws": ws, "bit": ev["bit"]}))
    g = pd.concat(parts).groupby("ws")["bit"].agg(["sum", "size"]).reset_index()

    def fmt(sec):
        return datetime.datetime.fromtimestamp(
            int(sec), datetime.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S")

    return pd.DataFrame(
        {
            "window_start": g["ws"].map(fmt),
            "window_end": (g["ws"] + WINDOW_S).map(fmt),
            "exact_count": g["sum"].astype("int64"),
            "n_rows": g["size"].astype("int64"),
            "count_estimate": g["sum"].map(count_estimate_closed).astype("int64"),
        }
    )


def _check_stream(run: Run, name: str, out: str, expected: pd.DataFrame) -> None:
    from flink_window_dgim_traffic_spark.streaming import jobs as J

    state = J.read_upsert_state(run.spark, out).toPandas()
    got = pd.DataFrame([json.loads(v) for v in state["value"]])
    keys = ["window_start", "window_end"] if "window_start" in got else ["window_end"]
    cols = keys + ["exact_count", "n_rows", "count_estimate"]
    exp = expected[cols].sort_values(keys).reset_index(drop=True)
    got = got[cols].sort_values(keys).reset_index(drop=True)
    err = _rel_err(got["count_estimate"], got["exact_count"])
    run.notes["dgim_rel_err_max"] = max(run.notes.get("dgim_rel_err_max", 0.0), err)
    same = len(got) == len(exp) and (got.astype(str).values == exp.astype(str).values).all()
    run.ledger.check(
        bool(same) and err <= DGIM_ERR_BOUND,
        f"{name}: {len(got)} windows vs {len(exp)} expected, rel err {err:.3f}",
    )


def stream_dgim(run: Run) -> None:
    """Each pipeline replays the fixture in turn.  The first file is
    that pipeline's warm-up: its micro-batch pays the query's cold
    costs (planning, code generation, Python worker and state store
    start) and counts toward ``setup_s``; the following files, and the
    no-data batch that advances the watermark, are the timed ops."""
    from flink_window_dgim_traffic_spark.sources.traffic import write_traffic_json

    offset = time.time() - time.perf_counter()
    n_timed = max(
        2, round((run.seconds / STREAM_BATCH_S - 2) / len(STREAM_PIPELINES))
    )
    fixture = os.path.join(run.tmp, "fixture")
    with run.tracer.span("sources.fixture"):
        t0 = time.perf_counter()
        files = write_traffic_json(
            fixture,
            duration_sec=WINDOW_S * (n_timed + 1),
            seed=run.seed,
            n_chunks=n_timed + 1,
        )
        run.layers["sources.fixture_s"] = time.perf_counter() - t0
    lines = []
    for f in files:
        with open(f) as fh:
            lines.append(sum(1 for _ in fh))
    run.layers["sources.events"] = float(sum(lines))
    setup = time.perf_counter() - run.t_start

    op_s: list[float] = []
    wall = cpu = build_s = 0.0
    done = {}
    exec_acc: dict = {}
    sink_s: list = []
    with run.tracer.span("pipelines"):
        for name in STREAM_PIPELINES:
            sink_calls: list = []
            t0 = time.perf_counter()
            with run.tracer.span(f"op:{name}"):
                try:
                    q, out, b_s = _run_pipeline(run, name, fixture, sink_calls)
                    cpu_end = tree_cpu_s()
                except Exception as e:
                    run.ledger.fail(f"{name}: {e}")
                    continue
                progress = q.recentProgress
                times = _batch_times(progress, offset)
                _trace_batches(run.tracer, progress, times, sink_calls)
            timed = progress[1:]
            if not timed:
                run.ledger.fail(f"{name}: no micro-batch after the warm-up")
                continue
            setup += times[0][1] - t0
            wall += times[-1][1] - times[1][0]
            cpu += cpu_end - next(c for i, _, _, c in sink_calls if i == 1)
            build_s += b_s
            op_s.extend(M.trigger_seconds(timed))
            for _ in timed:
                run.ledger.ok()
            done[name] = out
            sink_s.extend(b - a for i, a, b, _ in sink_calls if i > 0)
            for k, v in M.progress_layers(timed).items():
                run.layers[f"stream.{name}.{k}"] = v
            if run.traced:
                add_into(exec_acc, run.read(str(q.runId)))
                for p in timed:
                    add_into(exec_acc, run.read(f"sink:{name}:{p['batchId']}"))
    if not op_s:
        raise RuntimeError("no micro-batch completed")
    run.e2e["setup_s"] = setup
    _finish_ops(run, op_s, wall, cpu, float(sum(lines[1:]) * len(done)))

    ev = pd.concat([_parse_fixture(f) for f in files], ignore_index=True)
    with run.tracer.span("check"):
        for name, out in done.items():
            slide = 10 if name == "hop_dgim" else WINDOW_S
            try:
                _check_stream(run, name, out, _expected_windows(ev, slide))
            except Exception as e:
                run.ledger.check(False, f"{name} check: {e}")
        if run.traced:
            run.layers["sink.records"] = float(
                sum(run.spark.read.text(out).count() for out in done.values())
            )

    if run.traced:
        run.layers["build.s"] = build_s
        _exec_layers(run, exec_acc, wall, 1)
        run.layers["sink.write_ms"] = 1e3 * sum(sink_s) / max(1, len(sink_s))
        ones = ev[ev["bit"] == 1]
        windows = [
            sorted(g.tolist())
            for _, g in ones.groupby(ones["ts_sec"] // WINDOW_S)["ts_sec"]
        ]
        with run.tracer.span("dgim.replay"):
            add_layer(run, "dgim", dgim_timings(windows, WINDOW_S))


def add_layer(run: Run, prefix: str, values: dict) -> None:
    for k, v in values.items():
        run.layers[f"{prefix}.{k}"] = v


# ----------------------------------------------------------------------
# batch_mixed
# ----------------------------------------------------------------------
#: scale factor of the generated tables (lineitem = 6e6 x SF rows)
BATCH_SF = 0.01
#: the tables are the same for every run, so that the work a pass does
#: does not change with ``--seed``, which shuffles the query order
BATCH_DATA_SEED = 42
#: short queries: per-query fixed cost (schema inference, planning,
#: scheduling) dominates at this size
BATCH_SHORT = (
    "q1_pricing_summary", "q3_shipping_priority", "q6_revenue_change",
    "q18_large_volume_customers", "tumble_exact", "hop_dgim_fast",
)
#: heavy queries: task time, shuffles, pandas-UDF DGIM replay and LSH
BATCH_HEAVY = ("tumble_dgim", "hop_dgim", "embedding_neardup_lsh")
#: nominal seconds of one warm pass on a 4-core host; sets the number
#: of timed passes from ``--seconds``.  Two passes or more give every
#: query two samples, which keeps the median op steady.
BATCH_PASS_S = 9.0
CHECK_THREADS = 3

_TABLE_RE = re.compile(r"\b(" + "|".join(datagen.TABLES) + r")\b")


def _load_entry(repo: str):
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_oracle_tools(repo: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def batch_mixed(run: Run) -> None:
    import duckdb

    from flink_window_dgim_traffic_spark.session import table

    names = list(BATCH_SHORT + BATCH_HEAVY)
    rng = random.Random(run.seed)
    d = os.path.join(run.tmp, "tables")
    with run.tracer.span("sources.tables"):
        t0 = time.perf_counter()
        counts = datagen.write_tables(d, BATCH_SF, BATCH_DATA_SEED)
        run.layers["sources.fixture_s"] = time.perf_counter() - t0
    run.layers["sources.events"] = float(counts["events"])

    entry = _load_entry(run.repo)
    qs, oracles = entry.queries(), entry.oracle_sql()
    oracle = _load_oracle_tools(run.repo)
    con = duckdb.connect()
    for t in datagen.TABLES:
        p = os.path.join(d, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # rows each query is fed: the tables its DuckDB twin reads
    input_rows = {
        n: sum(counts[t] for t in set(_TABLE_RE.findall(oracles[n]))) for n in names
    }

    # warm-up = correctness check: every query once, collected and
    # compared with its DuckDB twin on the same parquet.  Queries run
    # CHECK_THREADS at a time, so JVM and Python-worker start-up overlap.
    def collect(name):
        return qs[name](run.spark, d).toPandas(), con.cursor().execute(
            oracles[name]
        ).df()

    err = 0.0
    with run.tracer.span("warmup_check"), ThreadPoolExecutor(CHECK_THREADS) as pool:
        futures = {n: pool.submit(collect, n) for n in rng.sample(names, len(names))}
        for name, fut in futures.items():
            try:
                got, want = fut.result()
            except Exception as e:
                run.ledger.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            run.ledger.ok()
            ok, msg = oracle.compare(got, want)
            run.ledger.check(ok, f"{name}: {msg}")
            if {"count_estimate", "exact_count"} <= set(got.columns):
                err = max(err, _rel_err(got["count_estimate"], got["exact_count"]))
    run.notes["dgim_rel_err_max"] = err
    run.e2e["setup_s"] = time.perf_counter() - run.t_start

    passes = max(1, round(run.seconds / BATCH_PASS_S))
    op_s: list[float] = []
    build_acc: dict = {}
    exec_acc: dict = {}
    build_s = write_s = 0.0
    n_rows = 0
    with run.tracer.span("timed"):
        cpu0 = tree_cpu_s()
        t_timed = time.perf_counter()
        for p in range(passes):
            for name in rng.sample(names, len(names)):
                with run.tracer.span(f"op:{name}"):
                    try:
                        run.group(f"b:{name}:{p}")
                        t0 = time.perf_counter()
                        df = qs[name](run.spark, d)
                        t1 = time.perf_counter()
                        run.group(f"w:{name}:{p}")
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    except Exception as e:
                        run.ledger.fail(f"{name}: {type(e).__name__}: {e}")
                        continue
                    run.tracer.add("build", t0, t1)
                    run.tracer.add("write", t1, t2)
                run.ledger.ok()
                op_s.append(t2 - t0)
                build_s += t1 - t0
                write_s += t2 - t1
                n_rows += input_rows[name]
                if run.traced:
                    b = run.read(f"b:{name}:{p}")
                    build_acc["jobs"] = build_acc.get("jobs", 0.0) + b["jobs"]
                    build_acc["task_s"] = build_acc.get("task_s", 0.0) + b["task_s"]
                    add_into(exec_acc, run.read(f"w:{name}:{p}"))
        wall = time.perf_counter() - t_timed
        cpu = tree_cpu_s() - cpu0
    if not op_s:
        raise RuntimeError("no query completed")
    _finish_ops(run, op_s, wall, cpu, float(n_rows))

    if run.traced:
        run.stats.clear_group()
        run.layers["build.s"] = build_s / passes
        run.layers["build.jobs"] = build_acc.get("jobs", 0.0) / passes
        run.layers["build.task_s"] = build_acc.get("task_s", 0.0) / passes
        _exec_layers(run, exec_acc, write_s, passes)
        table_ms, table_jobs = [], []
        for t in datagen.TABLES:
            with run.tracer.span(f"session.table:{t}"):
                run.group(f"t:{t}")
                t0 = time.perf_counter()
                table(run.spark, d, t)
                table_ms.append(1e3 * (time.perf_counter() - t0))
            table_jobs.append(run.read(f"t:{t}")["jobs"])
        run.stats.clear_group()
        run.layers["session.table_ms"] = M.median(table_ms)
        run.layers["session.table_jobs"] = sum(table_jobs) / len(table_jobs)
        ev = pd.read_parquet(os.path.join(d, "events.parquet"))
        ev = ev[ev["event_id"] % 2 == 1]
        ts = ev["ts"].astype("int64") // 10**6
        windows = [sorted(g.tolist()) for _, g in ts.groupby(ts // WINDOW_S)]
        with run.tracer.span("dgim.replay"):
            add_layer(run, "dgim", dgim_timings(windows, WINDOW_S))


WORKLOADS = {"stream_dgim": stream_dgim, "batch_mixed": batch_mixed}
