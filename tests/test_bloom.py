"""Per-stripe bloom filters: point-lookup stripe pruning on hash-bucketed
keys (the BloomFilter-stream analog, reference src/proto.rs:100-111)."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from orc_format_spark import bloom, pipeline, transcripts


def test_bloom_membership_and_fp_rate():
    keys = [f"conv-{i:06d}" for i in range(2000)]
    blob = bloom.build(keys)
    assert all(bloom.might_contain(blob, k) for k in keys)  # no false negatives
    probes = [f"absent-{i:06d}" for i in range(5000)]
    fp = sum(bloom.might_contain(blob, p) for p in probes) / len(probes)
    assert fp < 0.02, f"false-positive rate too high: {fp}"
    assert len(blob) <= 8 * 1024  # ~1.5 bits/key/8 per byte + pow2 rounding


def test_bloom_int_keys():
    vals = np.arange(0, 100000, 7, dtype=np.int64)
    blob = bloom.build(vals)
    assert bloom.might_contain(blob, 7) and bloom.might_contain(blob, 99995)
    misses = sum(bloom.might_contain(blob, int(v)) for v in range(1, 5000, 7))
    assert misses < 100  # mostly pruned


def test_empty_bloom_never_prunes():
    assert bloom.might_contain(b"", "anything") is True


def test_point_lookup_prunes_stripes(spark, tmp_path):
    """decode_job(key_equals=...): only bloom-matching stripes are decoded;
    the result still contains exactly the looked-up conversation."""
    out = str(tmp_path / "enc")
    df = transcripts.generate(spark, n_convs=300, seed=21)
    pipeline.encode_job(spark, df, out, stripe_rows=500, n_buckets=16)

    target = df.select("conv_id").first()["conv_id"]
    got = (pipeline.decode_job(spark, out, key_equals=target)
           .filter(F.col("conv_id") == target)
           .orderBy("turn_idx").toPandas())
    exp = (df.filter(F.col("conv_id") == target)
           .orderBy("turn_idx").toPandas())
    import pandas as pd
    pd.testing.assert_frame_equal(exp.reset_index(drop=True),
                                  got[exp.columns.tolist()].reset_index(drop=True),
                                  check_dtype=False)

    # pruning really happens: the bloom probe keeps only a small fraction
    # of the 16 stripes (hash-bucketed conv_ids -> min/max never prunes)
    manifest = pipeline.read_manifest(spark, out).toPandas()
    hits = sum(bloom.might_contain(
        bytes(b) if b is not None else b"", target)
        for b in manifest["key_bloom"])
    assert hits <= 3, f"bloom pruned nothing: {hits}/16 stripes survive"
    assert hits >= 1


def test_absent_key_prunes_everything(spark, tmp_path):
    out = str(tmp_path / "enc2")
    df = transcripts.generate(spark, n_convs=100, seed=22)
    pipeline.encode_job(spark, df, out, stripe_rows=500, n_buckets=8)
    got = pipeline.decode_job(spark, out, key_equals="no-such-conversation")
    assert got.count() == 0


def test_legacy_unversioned_blob_never_prunes():
    """Blobs without the 0xB1 version byte (earlier builds of this engine,
    old stripes in a resumed table) must not be probed with today's hash
    scheme — mismatched hashes would yield false NEGATIVES that silently
    drop stripes. Unknown version => might_contain is True (no pruning)."""
    blob = bloom.build(["a", "b", "c"])
    assert blob[0] == bloom.VERSION_BYTE
    # legacy layout: varint k first (always < 0x80), no version byte
    legacy = blob[1:]
    assert legacy[0] < 0x80
    assert bloom.might_contain(legacy, "definitely-not-a-member") is True
    # and an explicitly foreign version byte
    foreign = bytes([0xB2]) + blob[1:]
    assert bloom.might_contain(foreign, "definitely-not-a-member") is True


def test_might_contain_many_matches_scalar_probe():
    """The vectorized manifest probe must agree bit-for-bit with the scalar
    probe on every blob shape: versioned hit/miss, differing n_bits sizes
    (mixed groups), empty, legacy-unversioned, foreign version byte."""
    import numpy as np
    small = bloom.build([f"conv-{i}" for i in range(10)])
    big = bloom.build([f"conv-{i}" for i in range(5000)])
    legacy = small[1:]
    foreign = bytes([0xB2]) + small[1:]
    blobs = [small, big, b"", legacy, foreign,
             bloom.build([]), bloom.build(["conv-3"], k=4)]
    for probe_val in ["conv-3", "conv-4999", "definitely-absent", 42]:
        want = [bloom.might_contain(bytes(b), probe_val) for b in blobs]
        got = bloom.might_contain_many(blobs, probe_val)
        assert got.tolist() == want, probe_val
    # int-keyed blooms through the batch path too
    iblobs = [bloom.build(np.arange(100)), bloom.build(np.arange(100, 200))]
    got = bloom.might_contain_many(iblobs, 150)
    assert got.tolist() == [bloom.might_contain(b, 150) for b in iblobs]


def test_might_contain_many_is_fast_at_manifest_scale():
    """100k-row manifest probe in well under a second (the r4-flagged
    per-row path re-parsed headers and unpacked whole bitsets per blob)."""
    import time
    blobs = [bloom.build([f"conv-{j}-{i}" for i in range(50)])
             for j in range(200)] * 500           # 100_000 blobs
    t0 = time.perf_counter()
    got = bloom.might_contain_many(blobs, "conv-7-13")
    dt = time.perf_counter() - t0
    assert len(got) == 100_000 and got.any()
    assert dt < 1.0, f"batch probe too slow: {dt:.2f}s for 100k blobs"


def test_truncated_blob_batch_probe_never_prunes():
    """A blob whose header claims more bitset bytes than it carries must
    never prune, in BOTH probes: the batch gather would otherwise read the
    NEXT blob's bytes, and the scalar unpackbits zero-pads the missing
    bits — either way a set bit can read as 0 and falsely drop a stripe."""
    from orc_format_spark import bloom
    good = bloom.build([1, 2, 3])
    truncated = good[: len(good) - 4]
    out = bloom.might_contain_many([good, truncated, good], 2)
    assert out.tolist() == [True, True, True]
    out2 = bloom.might_contain_many([good, truncated, good], 999)
    assert out2.tolist()[1] is True, "truncated blob must never prune"
    assert out2.tolist()[0] is False and out2.tolist()[2] is False
    assert bloom.might_contain(truncated, 2) is True
    assert bloom.might_contain(truncated, 999) is True


def test_scalar_and_batch_probes_agree():
    from orc_format_spark import bloom
    blobs = [bloom.build(list(range(i, i + 50))) for i in range(0, 300, 50)]
    for probe in (0, 49, 50, 120, 299, 5000, "x"):
        batch = bloom.might_contain_many(blobs, probe).tolist()
        scalar = [bloom.might_contain(b, probe) for b in blobs]
        assert batch == scalar, probe


# ---------------------------------------------------------------------------
# driver-side lookup planning: decode_job(key_equals=...) probes the
# manifest blooms with pyarrow on the driver
# ---------------------------------------------------------------------------

# Spark jobs of a full never-compacted-table lookup (decode_job plus a
# filter and a collect): the stripes scan's shuffle stage and the decode.
# The plan alone runs none.
LOOKUP_JOBS = 2


@pytest.fixture(scope="module")
def keyed(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lookup") / "enc")
    df = transcripts.generate(spark, n_convs=120, seed=23)
    df.cache().count()
    pipeline.encode_job(spark, df, out, stripe_rows=400, n_buckets=8)
    return df, out


def _scalar_survivors(spark, out: str, key) -> set[str]:
    """The reference plan: the scalar probe over read_manifest's rows."""
    return {r["stripe_id"] for r in
            pipeline.read_manifest(spark, out).collect()
            if bloom.might_contain(bytes(r["key_bloom"] or b""), key)}


def _assert_survivors_match(spark, out: str, keys) -> None:
    for key in keys:
        got = pipeline._bloom_survivors(out, key)
        assert len(got) == len(set(got)), f"{key}: duplicate ids {got}"
        assert set(got) == _scalar_survivors(spark, out, key), key


def _manifest_file(out: str) -> str:
    d = f"{out}/manifest"
    return next(f"{d}/{n}" for n in sorted(os.listdir(d))
                if n.endswith(".parquet"))


def test_driver_survivors_equal_scalar_probe(spark, keyed):
    """Every key of a small table, plus an absent one: the driver's
    survivor ids are exactly the scalar probe's over read_manifest."""
    df, out = keyed
    keys = [r["conv_id"] for r in df.select("conv_id").distinct().collect()]
    _assert_survivors_match(spark, out, keys + ["no-such-conversation"])
    assert pipeline._bloom_survivors(out, "no-such-conversation") == []


def test_driver_survivors_keep_legacy_and_empty_blooms(spark, keyed,
                                                       tmp_path):
    """Manifest rows with a null, empty or pre-version bloom are never
    pruned, for present and absent keys alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    df, src = keyed
    out = str(shutil.copytree(src, tmp_path / "enc"))
    man = pq.read_table(_manifest_file(out)).slice(0, 3)
    legacy = bloom.build(["a", "b"])[1:]  # no version byte
    man = (man.set_column(man.schema.get_field_index("stripe_id"),
                          "stripe_id", pa.array(["old-0", "old-1", "old-2"]))
           .set_column(man.schema.get_field_index("key_bloom"), "key_bloom",
                       pa.array([None, b"", legacy], pa.binary())))
    pipeline._publish(out, "manifest", man, "legacy")
    present = df.select("conv_id").first()["conv_id"]
    _assert_survivors_match(spark, out, [present, "no-such-conversation"])
    assert pipeline._bloom_survivors(out, "no-such-conversation") == [
        "old-0", "old-1", "old-2"]


def test_driver_survivors_dedupe_replayed_manifest_file(spark, keyed,
                                                        tmp_path):
    """A manifest file published twice (a crash replay) repeats every row:
    each surviving stripe is planned once."""
    df, src = keyed
    out = str(shutil.copytree(src, tmp_path / "enc"))
    f = _manifest_file(out)
    shutil.copy(f, f.replace("part-", "part-replay-"))
    keys = [r["conv_id"] for r in df.select("conv_id").distinct()
            .limit(10).collect()]
    _assert_survivors_match(spark, out, keys)
    assert pipeline._bloom_survivors(out, keys[0])


def test_key_equals_with_stripe_predicate(spark, keyed, monkeypatch):
    """Both arguments: the stripes handed to decode are the bloom
    survivors that also pass the manifest predicate, and the lookup still
    returns exactly the key's rows."""
    df, out = keyed
    key = df.select("conv_id").first()["conv_id"]
    pred = (F.col("key_min") <= F.lit(key)) & (F.col("key_max") >= F.lit(key))
    manifest = pipeline.read_manifest(spark, out)
    want = (set(pipeline._bloom_survivors(out, key))
            & {r["stripe_id"] for r in manifest.filter(pred).collect()})
    real, handed = pipeline.decode_dataframe, []

    def capture(stripes, *a, **kw):
        handed.append(stripes)
        return real(stripes, *a, **kw)

    monkeypatch.setattr(pipeline, "decode_dataframe", capture)
    got = pipeline.decode_job(spark, out, key_equals=key,
                              stripe_predicate=pred)
    assert {r["stripe_id"] for r in
            handed[0].select("stripe_id").distinct().collect()} == want
    rows = got.filter(F.col("conv_id") == key)
    assert rows.count() == df.filter(F.col("conv_id") == key).count() > 0
    assert rows.exceptAll(df.filter(F.col("conv_id") == key)
                          .select(rows.columns)).count() == 0
    none = pipeline.decode_job(spark, out, key_equals=key,
                               stripe_predicate=F.col("key_max") < F.lit(""))
    assert none.count() == 0


def test_lookup_on_compacted_table(spark, tmp_path):
    """Two batches leave every (bucket, salt) slot with two stripes;
    after compact_job a lookup returns exactly that conversation's rows,
    once each (tombstoned stripes stay in the manifest, so the bloom
    survivors include them and the active set must drop them)."""
    out = str(tmp_path / "enc")
    df = transcripts.generate(spark, n_convs=60, seed=24)
    ids = sorted(r["conv_id"] for r in df.select("conv_id").collect())
    params = {"n_buckets": 4, "stripe_rows": 400, "key_col": "conv_id",
              "order_col": "turn_idx", "index_rows": None,
              "bloom_cols": ["conv_id"], "sort_keys": None}
    half = F.col("conv_id") < F.lit(ids[len(ids) // 2])
    for i, part in enumerate((df.filter(half), df.filter(~half))):
        stripes = pipeline.encode_dataframe(
            part, "conv_id", "turn_idx", stripe_rows=400, n_buckets=4,
            bloom_cols=["conv_id"], stripe_prefix=f"b{i:08d}-")
        pipeline.commit(spark, stripes, out, "conv_id", "turn_idx",
                        run_id=f"batch{i}", params=params)
    assert pipeline.compact_job(spark, out)["compacted_stripes"] >= 2
    for key in (ids[0], ids[-1]):
        want = df.filter(F.col("conv_id") == key)
        got = (pipeline.decode_job(spark, out, key_equals=key)
               .filter(F.col("conv_id") == key).select(df.columns))
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_lookup_spark_job_count(spark, keyed):
    """On a never-compacted table, planning a lookup runs no Spark job and
    the whole lookup runs at most LOOKUP_JOBS."""
    df, out = keyed
    key = df.select("conv_id").first()["conv_id"]
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, sc.statusTracker().getJobIdsForGroup(group)

    lookup, plan_jobs = jobs("lookup-plan", lambda: pipeline.decode_job(
        spark, out, key_equals=key))
    assert plan_jobs == []
    rows, run_jobs = jobs("lookup-run", lambda: lookup.filter(
        F.col("conv_id") == key).collect())
    assert len(rows) == df.filter(F.col("conv_id") == key).count()
    assert 0 < len(run_jobs) <= LOOKUP_JOBS, run_jobs


@pytest.mark.parametrize("with_predicate", [False, True])
def test_lookup_semi_join_fallback(spark, keyed, monkeypatch,
                                   with_predicate):
    """Past _MAX_LITERAL_IDS survivors the plan narrows the stripes with a
    broadcast semi-join instead of a literal IN-list: same rows."""
    df, out = keyed
    key = df.select("conv_id").first()["conv_id"]
    monkeypatch.setattr(pipeline, "_MAX_LITERAL_IDS", 0)
    pred = (F.col("key_min") <= F.lit(key)) if with_predicate else None
    got = (pipeline.decode_job(spark, out, key_equals=key,
                               stripe_predicate=pred)
           .filter(F.col("conv_id") == key).select(df.columns))
    want = df.filter(F.col("conv_id") == key)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
