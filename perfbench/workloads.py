"""The workloads: input generation, set-up, the timed closed loop and the
output checks.

Every operation the benchmark times goes through ``Bench.op``, which counts
it as attempted, counts it as failed when it raises or its check fails, and
(in the traced run) records a span around it. Only the engine's public
functions are called: ``pipeline``, ``streaming`` and ``transcripts``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from orc_format_spark import pipeline, streaming, transcripts
from orc_format_spark.session import get_spark

from spans import Tracer

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
PROJ = ["conv_id", "turn_idx", "role", "tool", "ts"]  # no text
INPUT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC"))])
INPUT_FILES = 8
STRIPE_ROWS = 8192
SETUP_REPS = 3          # setup_s is the median of this many set-ups
LOOKUPS_PER_ROUND = 2   # read_mix: lookups after each full + projected scan
WARM_ENCODES = 2        # encodes keep speeding up for ~4 runs in a session
WARM_READ_ROUNDS = 2    # after one round the first timed scan is still slow

TARGET_TURNS = 100_000  # input size: one run stays near a minute on 4 cores
LOOKUP_POOL = 16        # read_mix: distinct lookup keys drawn per seed

# encode_job byte pins for seed 42 (stripe_rows=8192, default bloom on
# conv_id).
PIN_SEED = 42
PIN = {"enc_bytes": 2_456_778, "raw_bytes": 21_677_643, "n_stripes": 14,
       "n_rows": 102_520}


def n_convs_for_turns(seed: int, target_turns: int) -> int:
    """Number of leading conversations whose turns sum closest to
    ``target_turns``. The per-conversation turn count repeats the first two
    draws of transcripts._gen_conversation, so every seed yields an input of
    about the same size even though 1% of conversations hold 1,000-10,000
    turns. The real count is measured after generation."""
    total, best, best_gap, conv = 0, 1, target_turns, 0
    while total < target_turns:
        rng = np.random.default_rng([seed, conv])
        u = rng.random()
        if u < 0.90:
            total += int(rng.integers(2, 21))
        elif u < 0.99:
            total += int(rng.integers(21, 201))
        else:
            total += int(rng.integers(1_000, 10_001))
        conv += 1
        if abs(total - target_turns) <= best_gap:
            best, best_gap = conv, abs(total - target_turns)
    return best


def digest(df, cols) -> tuple[int, int, int]:
    """Order-insensitive digest of ``df``: row count and the sums of the
    low and high 32-bit halves of a per-row xxhash64 over ``cols``."""
    h = F.xxhash64(*cols)
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("lo"),
               F.sum(F.shiftright(h, 32)).alias("hi")).collect()[0]
    return int(r["n"]), int(r["lo"] or 0), int(r["hi"] or 0)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q: int):
    """q-th quartile (1..3) by statistics.quantiles; the median for one
    sample."""
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=4)[q - 1]


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {why}"[:500])

    def as_dict(self) -> dict:
        return {"attempted": self.attempted, "failed": self.failed,
                "errors": self.errors}


class Bench:
    """One benchmark run: the session, the generated input, its oracle
    values, the checks and the collected figures."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.checks = Checks()
        self.tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
        self.spark = None
        self.figures: dict = {}
        self.samples: dict[str, list] = {}
        self.env: dict = {}
        self.input_error: BaseException | None = None
        self._n_ops = 0

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        self.spark = get_spark(app=f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")

    def restart_session(self) -> None:
        """A new SparkContext in the same JVM, with new Python workers."""
        self.spark.stop()
        self.start_session()

    def warm_up(self) -> None:
        """Start every Python worker of the SparkContext and import the
        engine in it, so no timed operation pays for worker start-up."""
        cores = self.spark.sparkContext.defaultParallelism

        def load_engine(batches):
            import orc_format_spark.pipeline  # noqa: F401
            import orc_format_spark.streaming  # noqa: F401
            time.sleep(0.5)  # hold the worker so every core starts its own
            yield from batches

        (self.spark.range(cores, numPartitions=cores)
         .mapInArrow(load_engine, "id long")
         .write.format("noop").mode("overwrite").save())

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- operations --------------------------------------------------------
    def op(self, phase: str, name: str, fn, check=None):
        """Run and time one operation. Returns (result, seconds, ok).
        ``check(result)`` returns None when the output is right, otherwise
        a description of what is wrong. ``phase`` becomes the description
        of every Spark job the operation starts."""
        self.checks.attempted += 1
        self._n_ops += 1
        sc = self.spark.sparkContext
        self.last_group = f"{phase}-{self._n_ops}"
        sc.setJobGroup(self.last_group, phase)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, phase=phase):
                out = fn()
        except Exception as e:  # a failed operation is a result
            self.checks.fail(name, f"{type(e).__name__}: {e}")
            return None, time.perf_counter() - t0, False
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        dt = time.perf_counter() - t0
        problem = check(out) if check else None
        if problem:
            self.checks.fail(name, problem)
            return out, dt, False
        return out, dt, True

    def jobs_in_last_group(self) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(self.last_group))

    def sample(self, name: str, value) -> None:
        self.samples.setdefault(name, []).append(value)

    # -- input -------------------------------------------------------------
    def generate_input(self) -> None:
        """Write the seed's transcripts table as parquet, rows shuffled.
        Runs in the driver (transcripts.expected_pandas is the same table
        transcripts.generate distributes) on a thread, while the JVM starts;
        the engine only ever sees the parquet files."""
        try:
            seed = self.args.seed
            n_convs = n_convs_for_turns(seed, TARGET_TURNS)
            t0 = time.perf_counter()
            pdf = transcripts.expected_pandas(n_convs, seed)
            tbl = pa.Table.from_pandas(pdf, schema=INPUT_SCHEMA,
                                       preserve_index=False)
            tbl = tbl.take(np.random.default_rng([seed, 3])
                           .permutation(tbl.num_rows))
            self.input = self.path("input")
            write_parts(tbl, self.input, INPUT_FILES)
            self.input_table = tbl
            self.figures.update(input_gen_s=time.perf_counter() - t0,
                                input_convs=n_convs)
        except BaseException as e:  # re-raised on the main thread
            self.input_error = e

    def load_oracle(self) -> None:
        if self.input_error is not None:
            raise self.input_error
        df = self.input_df()
        self.oracle = digest(df, COLS)
        self.oracle_proj = digest(df, PROJ)
        self.turns = self.oracle[0]
        self.figures["input_turns"] = self.turns

    def input_df(self):
        return self.spark.read.parquet(self.input)

    # -- checks --------------------------------------------------------------
    def check_digest(self, cols):
        want = self.oracle if cols is COLS else self.oracle_proj

        def check(got):
            if got != want:
                return f"decoded digest {got} != input digest {want}"
            return None
        return check

    def check_encode(self, first: dict | None):
        """encode_job's result must count every input turn, repeat the
        first encode's bytes exactly, and hit the pins for PIN_SEED."""
        pins = PIN if self.args.seed == PIN_SEED else None

        def check(r):
            if r["n_rows"] != self.turns or r["resumed"]:
                return (f"n_rows {r['n_rows']} (resumed={r['resumed']}), "
                        f"input has {self.turns} turns")
            for k in ("enc_bytes", "raw_bytes", "n_stripes", "n_rows"):
                if first is not None and r[k] != first[k]:
                    return (f"{k} {r[k]} differs from the first encode's "
                            f"{first[k]}: encode is not deterministic")
                if pins and r[k] != pins[k]:
                    return f"{k} {r[k]} != pin {pins[k]}"
            return None
        return check

    def verify_table(self, out: str) -> None:
        """Decode the whole table once; it must equal the input."""
        self.op("verify", "pipeline.decode_job",
                lambda: digest(pipeline.decode_job(self.spark, out), COLS),
                self.check_digest(COLS))


def write_parts(tbl: pa.Table, path: str, n: int) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, tbl.num_rows, n + 1).astype(int)
    for i in range(n):
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def keep_running(end: float, done: int) -> bool:
    """Closed loop: start another operation while time is left (and
    always at least one)."""
    return done == 0 or time.perf_counter() < end


# ---------------------------------------------------------------------------
# encode_bulk
# ---------------------------------------------------------------------------


def encode_once(b: Bench, out: str, first: dict | None, phase: str):
    shutil.rmtree(out, ignore_errors=True)
    df = b.input_df()
    return b.op(phase, "pipeline.encode_job",
                lambda: pipeline.encode_job(b.spark, df, out,
                                            stripe_rows=STRIPE_ROWS),
                b.check_encode(first))


def encode_bulk_warm(b: Bench) -> None:
    b.first_encode = None
    for _ in range(WARM_ENCODES):
        r, _, _ = encode_once(b, b.path("tables", "warm"), b.first_encode,
                              "warm")
        b.first_encode = b.first_encode or r


def encode_bulk(b: Bench) -> None:
    """Closed loop of encode_job of the whole input into a fresh table."""
    end, i = time.perf_counter() + b.args.seconds, 0
    while keep_running(end, i):
        out = b.path("tables", f"encode-{i % 2}")
        _, dt, ok = encode_once(b, out, b.first_encode, "encode")
        if ok:
            b.sample("encode_s", dt)
        i += 1
    b.verify_table(out)
    b.table = out
    t, f, r = b.samples.get("encode_s", []), b.figures, b.first_encode
    f["encode_turns_per_s"] = b.turns / median(t)
    f["encode_p50_s"] = median(t)
    if r:
        f["encode_bytes_ratio"] = r["enc_bytes"] / r["raw_bytes"]
        f["encode_result"] = r
    f.update(turns_per_s=f["encode_turns_per_s"], op_p50_s=median(t),
             bytes_ratio=f.get("encode_bytes_ratio"))


# ---------------------------------------------------------------------------
# read_mix
# ---------------------------------------------------------------------------


def lookup(b: Bench, key: str):
    return (pipeline.decode_job(b.spark, b.table, key_equals=key)
            .filter(F.col("conv_id") == key).select(COLS).toArrow())


def check_lookup(b: Bench, key: str):
    def check(tbl):
        got = sorted(tbl.to_pylist(), key=lambda r: r["turn_idx"])
        if got != b.expected[key]:
            return (f"lookup {key}: {len(got)} rows, want "
                    f"{len(b.expected[key])} (or the contents differ)")
        return None
    return check


def read_round(b: Bench, k: int) -> int:
    """Full scan, projected scan, LOOKUPS_PER_ROUND lookups; returns the
    next lookup key index."""
    _, dt, ok = b.op(
        "decode", "pipeline.decode_job",
        lambda: digest(pipeline.decode_job(b.spark, b.table), COLS),
        b.check_digest(COLS))
    if ok:
        b.sample("scan_s", dt)
    _, dt, ok = b.op(
        "decode_proj", "pipeline.decode_job",
        lambda: digest(pipeline.decode_job(b.spark, b.table, columns=PROJ),
                       PROJ),
        b.check_digest(PROJ))
    if ok:
        b.sample("proj_scan_s", dt)
    for _ in range(LOOKUPS_PER_ROUND):
        key = b.pool[k % len(b.pool)]
        k += 1
        _, dt, ok = b.op("lookup", "pipeline.decode_job",
                         lambda: lookup(b, key), check_lookup(b, key))
        if ok:
            b.sample("lookup_s", dt)
            b.sample("lookup_spark_jobs", b.jobs_in_last_group())
    return k


def read_mix_prepare(b: Bench) -> None:
    """Encode the table the reads run against; draw the lookup keys by
    seed, one in ten from the >=1,000-turn tail, with the rows each must
    return."""
    b.table = b.path("tables", "read")
    b.table_result, _, _ = encode_once(b, b.table, None, "warm")
    counts = sorted((r["conv_id"], r["count"]) for r in
                    b.input_df().groupBy("conv_id").count().collect())
    tail = [c for c, n in counts if n >= 1_000]
    rest = [c for c, n in counts if n < 1_000]
    rng = np.random.default_rng([b.args.seed, 7])
    b.pool = []
    for i in range(LOOKUP_POOL):
        src = tail if (i % 10 == 0 and tail) else rest
        b.pool.append(src[int(rng.integers(len(src)))])
    rows = (b.input_df().filter(F.col("conv_id").isin(b.pool)).select(COLS)
            .toArrow().to_pylist())
    b.expected = {k: [] for k in b.pool}
    for r in rows:
        b.expected[r["conv_id"]].append(r)
    for k in b.expected:
        b.expected[k].sort(key=lambda r: r["turn_idx"])
    b.figures["lookup_tail_keys"] = sum(k in set(tail) for k in b.pool)


def read_mix_warm(b: Bench) -> None:
    for _ in range(WARM_READ_ROUNDS):
        for cols in (COLS, PROJ):
            b.op("warm", "pipeline.decode_job",
                 lambda: digest(pipeline.decode_job(b.spark, b.table,
                                                    columns=cols), cols),
                 b.check_digest(cols))
        for key in b.pool[-LOOKUPS_PER_ROUND:]:
            b.op("warm", "pipeline.decode_job", lambda: lookup(b, key),
                 check_lookup(b, key))


def read_mix(b: Bench) -> None:
    """Closed loop of rounds: full six-column scan, projected scan without
    ``text``, then LOOKUPS_PER_ROUND key lookups."""
    end, k, rounds = time.perf_counter() + b.args.seconds, 0, 0
    while keep_running(end, rounds):
        k = read_round(b, k)
        rounds += 1
    s, f = b.samples, b.figures
    f["scan_turns_per_s"] = b.turns / median(s.get("scan_s", []))
    f["proj_scan_turns_per_s"] = b.turns / median(s.get("proj_scan_s", []))
    f["lookup_p50_s"] = median(s.get("lookup_s", []))
    f["lookup_p75_s"] = quantile(s.get("lookup_s", []), 3)
    f["lookup_spark_jobs"] = sorted(set(s.get("lookup_spark_jobs", [])))
    r = b.table_result
    f["table_bytes_ratio"] = r["enc_bytes"] / r["raw_bytes"] if r else None
    f.update(turns_per_s=f["scan_turns_per_s"], op_p50_s=f["lookup_p50_s"],
             bytes_ratio=f["table_bytes_ratio"])


# ---------------------------------------------------------------------------
# streaming (the traced run's stream probe)
# ---------------------------------------------------------------------------


def make_drops(b: Bench, path: str, n: int) -> str:
    """Split the input into ``n`` time-ordered parquet drops."""
    tbl = b.input_table.sort_by([("ts", "ascending"),
                                 ("conv_id", "ascending"),
                                 ("turn_idx", "ascending")])
    write_parts(tbl, path, n)
    return path


def table_stats(spark, out: str) -> dict:
    """Totals over the table's ACTIVE stripes (tombstoned ones excluded)."""
    man = pipeline.read_manifest(spark, out)
    if pipeline.has_compactions(out):
        man = man.join(pipeline.active_stripe_ids(spark, out), "stripe_id",
                       "left_semi")
    r = man.agg(F.count(F.lit(1)).alias("n_stripes"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes")).collect()[0]
    return {k: int(r[k] or 0) for k in r.asDict()}


def drain(b: Bench, drops: str, out: str, files_per_trigger: int,
          compact_every: int, phase: str, tag: str) -> bool:
    """One availableNow encode_stream over every drop into a fresh table.
    Samples the drain time and its batches' addBatch durations; the turns
    are counted from the committed table's active set, not from
    recentProgress.numInputRows (which also counts each batch's isEmpty()
    probe)."""
    def run():
        stream = streaming.read_transcripts_stream(
            b.spark, drops, max_files_per_trigger=files_per_trigger)
        q = streaming.encode_stream(stream, out, b.path("checkpoints", tag),
                                    stripe_rows=STRIPE_ROWS,
                                    compact_every=compact_every)
        q.awaitTermination()  # availableNow: returns once drained
        return [dict(p) for p in q.recentProgress]

    progress, dt, ok = b.op(phase, "streaming.encode_stream", run)
    if not ok:
        return False
    stats = table_stats(b.spark, out)
    b.checks.attempted += 1
    if stats["n_rows"] != b.turns:
        b.checks.fail("stream table", f"{stats['n_rows']} active turns "
                      f"committed, input has {b.turns}")
        return False
    b.sample("drain_s", dt)
    for p in progress:
        s = p["durationMs"].get("addBatch", 0) / 1000
        b.sample("batch_s", s)
        compacting = (p["batchId"] + 1) % compact_every == 0
        b.sample("compact_batch_s" if compacting else "plain_batch_s", s)
    b.sample("batches", len(progress))
    b.stream_stats = stats
    return True


# name: (prepare the fixture once, one untimed operation in the measured
# session so its JVM paths are compiled and its workers have run the
# kernels, the timed loop)
WORKLOADS = {
    "encode_bulk": (None, encode_bulk_warm, encode_bulk),
    "read_mix": (read_mix_prepare, read_mix_warm, read_mix),
}


def run(args, work: str, memory, traced_run=None) -> dict:
    """One benchmark run; returns the full record (figures, per-layer
    figures from ``traced_run`` when given, checks, samples,
    environment). ``memory`` (a thread) is started and stopped around the
    timed loop, so its peak leaves out set-up and the fixture."""
    b = Bench(args, work)
    prepare, warm, measure = WORKLOADS[args.workload]
    gen = threading.Thread(target=b.generate_input)
    gen.start()
    t0 = time.perf_counter()
    b.start_session()
    b.figures["session_launch_s"] = time.perf_counter() - t0
    gen.join()
    b.load_oracle()
    if prepare:
        prepare(b)
    # set-up as a user pays it: a new session whose Python workers start
    # and load the engine; setup_s is the median of SETUP_REPS
    for _ in range(1 if args.trace else SETUP_REPS):
        t0 = time.perf_counter()
        b.restart_session()
        b.warm_up()
        b.sample("setup_s", time.perf_counter() - t0)
    b.figures["setup_s"] = median(b.samples["setup_s"])
    conf = b.spark.sparkContext.getConf()
    b.env.update(
        master=b.spark.sparkContext.master,
        spark_local_dir=conf.get("spark.local.dir"),
        max_records_per_batch=b.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"),
        shuffle_partitions=b.spark.conf.get("spark.sql.shuffle.partitions"))
    warm(b)
    memory.start()
    try:
        measure(b)
    finally:
        memory.stop()
    layer_figures = traced_run(b, warm, measure) if traced_run else {}
    f = b.figures
    f["error_rate"] = b.checks.failed / max(b.checks.attempted, 1)
    return {"figures": f, "layers": layer_figures, "samples": b.samples,
            "checks": b.checks.as_dict(), "env": b.env}
