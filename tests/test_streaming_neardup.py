"""Streaming MinHash near-dup dedup (streaming/neardup.py): greedy-core
unit invariants, batch-twin equivalence under sorted arrival, and a
two-phase checkpoint restart with exactly-once match emission."""

from __future__ import annotations

import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bocadillo_spark.operators.dedup import (
    NEAR_DUP_STRIDE,
    augment_with_near_dups,
    jaccard_col,
    word_3gram_col,
)
from bocadillo_spark.streaming.neardup import (
    batch_neardup_matches,
    greedy_bucket_matches,
    make_neardup_op,
    pair_verdicts,
    run_neardup_stream,
)


def _empty_state():
    return np.empty(0, dtype=np.int64), np.empty((0, 64), dtype=np.int64)


def test_greedy_core_matching_and_promotion():
    rep_ids, rep_mat = _empty_state()
    a = np.arange(64, dtype=np.int64)
    near_a = a.copy()
    near_a[:8] += 1  # 56/64 agree → est 0.875
    far = a + 1000
    out, rep_ids, rep_mat = greedy_bucket_matches(
        np.array([1, 2, 3], dtype=np.int64),
        np.stack([a, near_a, far]),
        rep_ids,
        rep_mat,
        threshold=0.6,
        max_reps=50,
    )
    # doc 2 matches rep 1 and is NOT promoted; doc 3 becomes a second rep
    assert out == [(2, 1, 0.875)]
    assert rep_ids.tolist() == [1, 3]
    # a later doc near doc 2's signature still resolves to rep 1 (dups
    # never become the thing others dedup against)
    out2, rep_ids, rep_mat = greedy_bucket_matches(
        np.array([4], dtype=np.int64), near_a[None, :], rep_ids, rep_mat, 0.6, 50
    )
    assert out2 == [(4, 1, 0.875)]


def test_greedy_core_bucket_cap_bounds_state():
    rep_ids, rep_mat = _empty_state()
    sigs = np.stack([np.arange(64, dtype=np.int64) + 1000 * i for i in range(5)])
    out, rep_ids, rep_mat = greedy_bucket_matches(
        np.arange(5, dtype=np.int64), sigs, rep_ids, rep_mat, 0.6, max_reps=2
    )
    # mutually-distinct docs: first two become reps, the rest are neither
    # matched nor promoted — state stays ≤ max_reps signatures
    assert out == []
    assert rep_ids.tolist() == [0, 1] and rep_mat.shape == (2, 64)


def test_stream_op_rep_choice_ignores_arrow_chunking():
    """A bucket whose micro-batch rows arrive as two out-of-order Arrow
    chunks (doc 5, then doc 3, same signature) must resolve exactly as one
    doc_id-ordered pass — the batch twin's order: doc 3 becomes the rep
    and doc 5 matches it. Sorting each chunk separately made doc 5 the
    rep instead."""

    class StubState:
        hasTimedOut = False
        exists = False

        def update(self, value):
            self.value = value

    sig = np.arange(64, dtype=np.int64)
    chunks = [
        pd.DataFrame({"doc_id": [5], "sig": [sig]}),
        pd.DataFrame({"doc_id": [3], "sig": [sig]}),
    ]
    state = StubState()
    out = pd.concat(list(make_neardup_op()((77,), iter(chunks), state)))
    got = [tuple(r) for r in out.itertuples(index=False)]
    want, _, _ = greedy_bucket_matches(
        np.array([3, 5], dtype=np.int64), np.stack([sig, sig]), *_empty_state(), 0.6, 50
    )
    assert got == [(77, 5, 3, 1.0)] == [(77, *m) for m in want]
    assert state.value[0] == [3]


def _write_sorted_two_files(spark, docs, path):
    """Two parquet files whose listing/mtime order equals doc_id order, so
    streaming arrival order is globally doc_id-sorted."""
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    docs.where(F.col("doc_id") <= cut).coalesce(1).write.mode("append").parquet(path)
    docs.where(F.col("doc_id") > cut).coalesce(1).write.mode("append").parquet(path)


def test_streaming_equals_batch_twin_under_sorted_arrival(spark, sf_dir):
    docs = augment_with_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id", "text")
    expected = sorted(
        (r["band_key"], r["doc_id"], r["rep_id"], round(r["est_jaccard"], 9))
        for r in batch_neardup_matches(docs).collect()
    )
    assert expected, "fixture must produce matches"
    with tempfile.TemporaryDirectory() as tmp:
        _write_sorted_two_files(spark, docs, f"{tmp}/in")
        run_neardup_stream(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", max_files_per_trigger=1
        )
        got = sorted(
            (r["band_key"], r["doc_id"], r["rep_id"], round(r["est_jaccard"], 9))
            for r in spark.read.parquet(f"{tmp}/out").collect()
        )
    # row-for-row: greedy state carried across micro-batches under sorted
    # arrival is the same sequential pass the batch twin runs per bucket
    assert got == expected


def test_restart_exactly_once_and_planted_recall(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = augment_with_near_dups(base).select("doc_id", "text")
    originals = docs.where(F.col("doc_id") < NEAR_DUP_STRIDE)
    variants = docs.where(F.col("doc_id") >= NEAR_DUP_STRIDE)
    with tempfile.TemporaryDirectory() as tmp:
        in_dir, out_dir, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        # phase 1: originals only — builds rep state, emits ~no matches
        originals.coalesce(2).write.mode("append").parquet(in_dir)
        run_neardup_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=1)
        # phase 2: recrawl variants arrive as NEW files; a fresh query on
        # the SAME checkpoint resumes band-bucket state (T2 safepoint on
        # the near-dup operator)
        variants.coalesce(2).write.mode("append").parquet(in_dir)
        run_neardup_stream(spark, in_dir, out_dir, ckpt, max_files_per_trigger=1)

        sink = spark.read.parquet(out_dir)
        n_rows = sink.count()
        n_distinct = sink.select("band_key", "doc_id", "rep_id").distinct().count()
        assert n_rows == n_distinct  # no replayed duplicate emissions

        found = pair_verdicts(sink)
        sh = docs.select("doc_id", word_3gram_col(F.col("text")).alias("g"))
        a = sh.where(F.col("doc_id") < NEAR_DUP_STRIDE).select(
            F.col("doc_id").alias("doc_id_a"), F.col("g").alias("ga")
        )
        b = sh.where(F.col("doc_id") >= NEAR_DUP_STRIDE).select(
            F.col("doc_id").alias("doc_id_b"), F.col("g").alias("gb")
        )
        eligible = a.join(
            b, F.col("doc_id_b") == F.col("doc_id_a") + NEAR_DUP_STRIDE
        ).where(jaccard_col(F.col("ga"), F.col("gb")) >= 0.8)
        n_eligible = eligible.count()
        n_hit = eligible.join(found, ["doc_id_a", "doc_id_b"], "left_semi").count()
        assert n_eligible > 0
        # every planted variant arrived after its original, so the pair is
        # oriented (original=rep); ≥95% mirrors the batch LSH contract
        assert n_hit >= 0.95 * n_eligible
