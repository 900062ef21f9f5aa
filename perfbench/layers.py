"""The traced run: spans, a driver-side replay of the stripe kernels, and
Spark's own stage metrics from its event log.

Everything is measured from outside the engine. Spans are recorded around
the calls the benchmark makes; the kernel replay wraps module attributes of
``selector``, ``codecs.fsst``, ``codecs.rle_v2`` and ``bloom`` for its
duration and puts the originals back; the event log is switched on for the
traced SparkContext only, through the launcher's JVM system properties.

A traced run of any workload does, in order:
  1. the workload's loop untraced (already done by workloads.run);
  2. a new SparkContext with the event log on, the workload's untimed
     warm-up operation, and the same loop traced — the difference of the
     two medians is the tracing overhead;
  3. the layer probes on this run's input: identity Arrow round trip,
     encode, commit, full and projected decode, key lookups through
     ``decode_job(key_equals=...)``, and a short stream that compacts once;
  4. the kernel replay over every stripe the probe committed, and over
     its conv_id blooms for the lookup keys;
  5. the event log, read after the SparkContext stops.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from orc_format_spark import bloom, pipeline, selector
from orc_format_spark import stripe as stripe_mod
from orc_format_spark.codecs import fsst, rle_v2

from spans import self_times, span_name, wrapped
from workloads import COLS, PROJ, STRIPE_ROWS, digest, drain, make_drops

KERNELS = [(selector, "encode_strings"), (selector, "encode_ints"),
           (selector, "maybe_zlib"), (selector, "decode_strings"),
           (selector, "decode_ints"), (fsst, "build_table"),
           (fsst, "decode"), (rle_v2, "encode"), (rle_v2, "decode"),
           (bloom, "build"), (bloom, "might_contain_many")]
STAGE_METRICS = ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes",
                 "shuffle_fetch_wait_s", "spill_bytes", "peak_exec_mem_bytes")
LOOKUP_PROBES = 4
PROBE_DROPS = 4              # stream probe: 2 batches of 2 drops,
PROBE_FILES_PER_TRIGGER = 2  # compacting at the second


def enable_event_log(spark) -> None:
    """Switch Spark's event log on for SparkContexts created from now on
    (the launcher's system properties are what a new SparkConf reads)."""
    system = spark._jvm.java.lang.System
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.compress", "false")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _phase_at(spans: list[dict], t: float) -> str | None:
    """Phase of the innermost phase-tagged span open at wall time ``t``."""
    best = None
    for s in spans:
        if s["phase"] and s["start"] <= t <= s["end"]:
            if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                best = s
    return best["phase"] if best else None


def event_files(log_dir: str) -> list[str]:
    """Event log files in write order: Spark 4 writes each application's
    log as a directory of numbered ``events_<n>_<app>`` files."""
    found = [(base, int(n.split("_")[1]), n)
             for base, _, names in os.walk(log_dir)
             for n in names if n.startswith("events_")]
    return [os.path.join(base, n) for base, _, n in sorted(found)]


def stage_metrics(log_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Per phase: jobs, tasks, executor run time, shuffle bytes written,
    shuffle fetch wait, bytes spilled to disk and peak execution memory.
    A job's phase is the description the benchmark set on it; jobs started
    on Spark's own threads (stream micro-batches) take the phase of the
    innermost benchmark span open when they were submitted."""
    phases = {s["phase"] for s in spans if s["phase"]}
    stage_phase: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STAGE_METRICS, 0))
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    phase = (desc if desc in phases else
                             _phase_at(spans, ev["Submission Time"] / 1000)
                             or "other")
                    out[phase]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_phase.setdefault(sid, phase)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    p = out[stage_phase.get(ev["Stage ID"], "other")]
                    p["tasks"] += 1
                    p["executor_run_s"] += m["Executor Run Time"] / 1000
                    p["shuffle_write_bytes"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                    p["shuffle_fetch_wait_s"] += (
                        m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1000)
                    p["spill_bytes"] += m["Disk Bytes Spilled"]
                    p["peak_exec_mem_bytes"] = max(
                        p["peak_exec_mem_bytes"], m["Peak Execution Memory"])
    return dict(out)


# ---------------------------------------------------------------------------
# layer probes and kernel replay
# ---------------------------------------------------------------------------


def dir_bytes_and_files(path: str) -> tuple[int, int]:
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


def probes(b, L: dict) -> tuple[list[dict], pa.Schema, list[str], list[str]]:
    """Time each pipeline layer once on this run's input; returns the
    committed probe table's stripe rows, schema and columns, and the
    lookup keys, for the replay."""
    spark = b.spark
    df = b.input_df()
    out = b.path("tables", "probe")

    def identity(batches):
        yield from batches

    _, L["pipeline.boundary_s"], _ = b.op(
        "probe.boundary", "pipeline.mapInArrow",
        lambda: df.mapInArrow(identity, df.schema)
        .write.format("noop").mode("overwrite").save())
    n_buckets = max(-(-b.turns // STRIPE_ROWS), 1)
    stripes = pipeline.encode_dataframe(
        df, "conv_id", "turn_idx", stripe_rows=STRIPE_ROWS,
        n_buckets=n_buckets, bloom_cols=["conv_id"]).persist()
    _, L["pipeline.encode_s"], _ = b.op(
        "probe.encode", "pipeline.encode_dataframe",
        lambda: stripes.write.format("noop").mode("overwrite").save())
    params = {"n_buckets": n_buckets, "stripe_rows": STRIPE_ROWS,
              "key_col": "conv_id", "order_col": "turn_idx",
              "index_rows": None, "bloom_cols": ["conv_id"],
              "sort_keys": None}
    _, L["pipeline.commit_s"], _ = b.op(
        "probe.commit", "pipeline.commit",
        lambda: pipeline.commit(spark, stripes, out, "conv_id", "turn_idx",
                                run_id="probe", params=params))
    stripes.unpersist()
    _, L["pipeline.decode_s"], _ = b.op(
        "probe.decode", "pipeline.decode_job",
        lambda: digest(pipeline.decode_job(spark, out), COLS),
        b.check_digest(COLS))
    _, L["pipeline.decode_proj_s"], _ = b.op(
        "probe.decode_proj", "pipeline.decode_job",
        lambda: digest(pipeline.decode_job(spark, out, columns=PROJ), PROJ),
        b.check_digest(PROJ))

    rows = pipeline.read_stripes(spark, out).toArrow().to_pylist()
    schema, columns = pipeline.infer_schema_from_manifest(spark, out, None)
    arrow_schema = to_arrow_schema(schema)
    keys = lookup_probe(b, out, rows, arrow_schema, L)
    table_figures(out, rows, L)
    return rows, arrow_schema, columns, keys


def lookup_probe(b, out: str, rows: list[dict], arrow_schema: pa.Schema,
                 L: dict) -> list[str]:
    """LOOKUP_PROBES real ``decode_job(key_equals=...)`` lookups. decode_job
    plans eagerly (it probes the manifest blooms on the executors and
    collects the surviving stripe ids), so the call alone is the plan time;
    the stripes it hands to ``decode_dataframe`` are the ones decoded, and
    are scored against the stripes that really hold each key. Returns the
    keys, for the bloom kernel replay."""
    spark = b.spark
    conv_rows = [r for r in rows if r["col_name"] == "conv_id"]
    n_stripes = len(conv_rows)
    keys = sorted({r["min_val"] for r in conv_rows})
    rng = np.random.default_rng([b.args.seed, 11])
    keys = [keys[i] for i in rng.choice(len(keys), LOOKUP_PROBES,
                                        replace=False)]
    holders = defaultdict(set)  # key -> stripes whose conv_id holds it
    for r in conv_rows:
        vals = set(stripe_mod.decode_stripe_arrow(
            [r], ["conv_id"], pa.schema([arrow_schema.field("conv_id")]))
            .column(0).to_pylist())
        for k in keys:
            if k in vals:
                holders[k].add(r["stripe_id"])

    real_decode = pipeline.decode_dataframe
    handed = []  # the stripes DataFrame decode_job passes on to decode

    def capture(stripes, *a, **kw):
        handed.append(stripes)
        return real_decode(stripes, *a, **kw)

    plan_s, decoded, useful, false_pos, negatives, jobs = [], 0, 0, 0, 0, []
    for key in keys:
        want = pc.sum(pc.equal(b.input_table["conv_id"], key)).as_py()

        def run():
            t0 = time.perf_counter()
            df = pipeline.decode_job(spark, out, key_equals=key)
            plan_s.append(time.perf_counter() - t0)
            return df.filter(F.col("conv_id") == key).count()

        handed.clear()
        pipeline.decode_dataframe = capture
        try:
            _, _, ok = b.op(
                "probe.lookup", "pipeline.decode_job", run,
                lambda n: None if n == want else f"lookup {key}: {n} rows, "
                f"want {want}")
        finally:
            pipeline.decode_dataframe = real_decode
        if not ok or len(handed) != 1:
            continue
        jobs.append(b.jobs_in_last_group())
        survivors = {r["stripe_id"] for r in
                     handed[0].select("stripe_id").distinct().collect()}
        decoded += len(survivors)
        useful += len(survivors & holders[key])
        false_pos += len(survivors - holders[key])
        negatives += n_stripes - len(holders[key])
    if jobs:
        L["pipeline.lookup_plan_s"] = statistics.median(plan_s)
        L["pipeline.lookup_stripes_decoded"] = decoded / len(jobs)
        L["pipeline.lookup_useful_ratio"] = useful / max(decoded, 1)
        L["pipeline.lookup_spark_jobs"] = statistics.median(jobs)
        L["bloom.false_positive_ratio"] = false_pos / max(negatives, 1)
    return keys


def table_figures(out: str, rows: list[dict], L: dict) -> None:
    """Write amplification, file count and the codec census of a table."""
    size, files = dir_bytes_and_files(out)
    enc = sum(r["enc_bytes"] for r in rows)
    L["pipeline.write_amp"] = size / enc
    L["pipeline.table_files"] = files
    census = defaultdict(int)
    for r in rows:
        census[f"codec.{r['col_name']}.{r['codec']}.stripes"] += 1
        L[f"codec.{r['col_name']}.enc_bytes"] = (
            L.get(f"codec.{r['col_name']}.enc_bytes", 0) + r["enc_bytes"])
    L.update(sorted(census.items()))
    L["codec.stripes"] = len({r["stripe_id"] for r in rows})


# every field of a stored stripe row that encode_stripe_arrow produces
REPLAY_FIELDS = ("codec", "compression", "present", "data", "length",
                 "dict_data", "extra", "n_nulls", "raw_bytes", "enc_bytes",
                 "min_val", "max_val", "ndv", "checksum", "bloom")


def replay(b, rows: list[dict], arrow_schema: pa.Schema, columns: list[str],
           keys: list[str], L: dict) -> None:
    """Decode then re-encode every stripe in this process, one column at a
    time, with the kernel modules wrapped; the re-encode must reproduce
    every stored stream and statistic exactly. Then probe the stored
    conv_id blooms for each lookup key."""
    by_stripe = defaultdict(dict)
    for r in rows:
        by_stripe[r["stripe_id"]][r["col_name"]] = r
    enc = defaultdict(float)
    dec = defaultdict(float)
    mismatched = []
    tr = b.tracer
    with wrapped(tr, KERNELS):
        for sid in sorted(by_stripe):
            cols = by_stripe[sid]
            arrays = []
            for c in columns:
                schema = pa.schema([arrow_schema.field(c)])
                with tr.span("stripe.decode_stripe_arrow"):
                    t0 = time.perf_counter()
                    batch = stripe_mod.decode_stripe_arrow([cols[c]], [c],
                                                           schema)
                    dec[c] += time.perf_counter() - t0
                arrays.append(batch.column(0))
            tbl = pa.Table.from_arrays(arrays, schema=arrow_schema)
            for c in columns:
                row = cols[c]
                blooms = {c} if row["bloom"] else None  # b"": no bloom
                with tr.span("stripe.encode_stripe_arrow"):
                    t0 = time.perf_counter()
                    new = stripe_mod.encode_stripe_arrow(
                        tbl.select([c]), {c: row["col_kind"]}, sid,
                        row["bucket"], bloom_cols=blooms)[0]
                    enc[c] += time.perf_counter() - t0
                diff = [k for k in REPLAY_FIELDS
                        if (new.get(k) or None) != (row[k] or None)]
                if diff:
                    mismatched.append(f"{sid}/{c}: {diff}")
        blooms = [by_stripe[sid]["conv_id"]["bloom"] or b""
                  for sid in sorted(by_stripe)]
        for key in keys:
            bloom.might_contain_many(blooms, key)
    b.checks.attempted += 1
    if mismatched:
        b.checks.fail("kernel replay", f"re-encode differs from the stored "
                      f"stripe for {mismatched[:5]}")
    for c in columns:
        L[f"stripe.encode_s.{c}"] = enc[c]
        L[f"stripe.decode_s.{c}"] = dec[c]
    L["stripe.encode_s"] = sum(enc.values())
    L["stripe.decode_s"] = sum(dec.values())


def kernel_figures(spans: list[dict], L: dict) -> None:
    """Kernel seconds per wrapped function, and the selector's useful
    trial ratio: one winning candidate per call over candidates encoded
    (encode_ints: one rle_v2.encode per candidate; encode_strings: direct,
    plus dict when its streams were built, plus FSST when a table was)."""
    total = defaultdict(float)
    kids = defaultdict(lambda: defaultdict(int))
    for s in spans:
        total[s["name"]] += s["end"] - s["start"]
        if s["parent"] is not None:
            kids[s["parent"]][s["name"]] += 1
    for mod, attr in KERNELS:
        name = span_name(mod, attr)
        key = ("bloom.probe_s" if attr == "might_contain_many"
               else f"{name}_s")
        if name in total:
            L[key] = total[name]
    calls = trials = 0
    for s in spans:
        k = kids[s["id"]]
        if s["name"] == "selector.encode_ints":
            calls += 1
            trials += k["codecs.rle_v2.encode"]
        elif s["name"] == "selector.encode_strings":
            calls += 1
            trials += (1 + (k["codecs.rle_v2.encode"] >= 3)
                       + k["codecs.fsst.build_table"])
    L["selector.useful_trials_ratio"] = calls / max(trials, 1)


def lineage_rewrite_ratios(spark, out: str) -> list[float]:
    """Per compaction: enc_bytes it tombstoned over enc_bytes committed
    by batches since the previous compaction (from lineage)."""
    lin = (spark.read.parquet(f"{out}/lineage")
           .groupBy("run_id", "status")
           .agg(F.min("committed_at").alias("t"),
                F.sum("enc_bytes").alias("enc"))
           .orderBy("t").collect())
    ratios, added = [], 0
    for r in lin:
        if r["run_id"].startswith("c") and r["status"] == "compacted":
            ratios.append(r["enc"] / max(added, 1))
            added = 0
        elif r["status"] == "ok" and not r["run_id"].startswith("c"):
            added += r["enc"]
    return ratios


def stream_probe(b, L: dict) -> None:
    """One availableNow encode_stream over PROBE_DROPS drops, compacting
    once at its last batch: the streaming layer and compaction. The
    compacted table must decode back to the input."""
    drops = make_drops(b, b.path("probe-drops"), PROBE_DROPS)
    out = b.path("tables", "probe-stream")
    saved, b.samples = b.samples, {}
    with wrapped(b.tracer, [(pipeline, "compact_job")],
                 phase="probe.compact"):
        ok = drain(b, drops, out, PROBE_FILES_PER_TRIGGER, PROBE_DROPS
                   // PROBE_FILES_PER_TRIGGER, "probe.stream", "probe-stream")
    if ok:
        b.op("probe.stream_verify", "pipeline.decode_job",
             lambda: digest(pipeline.decode_job(b.spark, out), COLS),
             b.check_digest(COLS))
        s = b.samples
        L["streaming.drain_s"] = s["drain_s"][0]
        L["streaming.plain_batch_s"] = statistics.median(s["plain_batch_s"])
        L["streaming.compact_batch_s"] = statistics.median(
            s["compact_batch_s"])
        compact_s = [x["end"] - x["start"] for x in b.tracer.spans
                     if x["name"] == "pipeline.compact_job"]
        ratios = lineage_rewrite_ratios(b.spark, out)
        if compact_s and ratios:
            L["pipeline.compact_s"] = statistics.median(compact_s)
            L["pipeline.compact_rewrite_ratio"] = statistics.median(ratios)
        st = b.stream_stats
        L["streaming.bytes_ratio"] = st["enc_bytes"] / st["raw_bytes"]
        L["streaming.active_stripes"] = st["n_stripes"]
    b.samples = saved


def traced_run(b, warm, measure) -> dict:
    """Steps 2-5 of the module docstring; returns the per-layer figures."""
    untraced, untraced_samples = dict(b.figures), b.samples
    enable_event_log(b.spark)
    b.restart_session()
    b.warm_up()
    warm(b)
    b.samples = {}
    b.tracer.enabled = True
    L: dict = {}
    with wrapped(b.tracer, [(pipeline, "commit")]):
        with b.tracer.span("bench.loop"):
            measure(b)
        L["trace.op_p50_s"] = b.figures["op_p50_s"]
        L["trace.untraced_op_p50_s"] = untraced["op_p50_s"]
        L["trace.overhead_s"] = b.figures["op_p50_s"] - untraced["op_p50_s"]
        L["trace.overhead_ratio"] = (L["trace.overhead_s"]
                                     / untraced["op_p50_s"])
        traced_samples = b.samples
        with b.tracer.span("bench.probes"):
            rows, arrow_schema, columns, keys = probes(b, L)
            stream_probe(b, L)
    replay(b, rows, arrow_schema, columns, keys, L)
    b.tracer.enabled = False
    b.spark.stop()  # flushes and closes the event log

    spans = b.tracer.spans
    kernel_figures(spans, L)
    # a layer or phase with no span or job stays missing, so the result
    # line counts it as not measured
    for layer, s in sorted(self_times(spans).items()):
        L[f"self_s.{layer}"] = s
    for phase, m in sorted(stage_metrics(b.path("eventlog"), spans).items()):
        prefix = (f"spark.{phase.removeprefix('probe.')}"
                  if phase.startswith("probe.") else f"loop.spark.{phase}")
        for k, v in m.items():
            L[f"{prefix}.{k}"] = v
    if L.get("spark.encode.executor_run_s"):
        L["stripe.encode_share"] = (L["stripe.encode_s"]
                                    / L["spark.encode.executor_run_s"])
    L["trace.spans"] = len(spans)
    with open(b.path("spans.json"), "w") as f:
        json.dump(spans, f)
    b.figures = untraced
    b.samples = {"untraced": untraced_samples, "traced": traced_samples}
    return L
