"""Bloom-filter decontamination: zero false negatives vs the exact
semi-join form, observed FP rate within the filter's theoretical FPP,
and the distributed bitmap build checked against a python twin."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from impresso_ta.operators.corpus import (
    bloom_filter_build,
    bloom_parameters,
    contamination,
    contamination_bloom,
)


@pytest.fixture(scope="module")
def split(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return (
        docs.filter(F.col("doc_id") % 200 != 0),
        docs.filter(F.col("doc_id") % 200 == 0),
    )


def test_bloom_zero_false_negatives(split):
    """Every exact-contaminated shingle must also hit the bloom filter —
    even with a deliberately small, collision-heavy filter."""
    train, bench = split
    exact = {
        r["bench_id"]: r for r in contamination(train, bench, k=3).collect()
    }
    bloom = {
        r["bench_id"]: r
        for r in contamination_bloom(
            train, bench, k=3, m_bits=1 << 12, k_hashes=2
        ).collect()
    }
    assert set(bloom) == set(exact)
    for bid, e in exact.items():
        b = bloom[bid]
        assert b["n_shingles"] == e["n_shingles"]
        assert b["n_contaminated"] >= e["n_contaminated"], bid
        assert b["containment"] >= e["containment"], bid


def test_bloom_fp_rate_within_fpp(split):
    """Shingle-level false-positive rate stays within ~3x the standard
    (1-e^{-kn/m})^k bound (slack for hash-family variance)."""
    train, bench = split
    m_bits, k_hashes = 1 << 18, 4
    from impresso_ta.operators.dedup import word_shingles

    n_items = (
        train.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("s")
        )
        .distinct()
        .count()
    )
    fpp = (1.0 - math.exp(-k_hashes * n_items / m_bits)) ** k_hashes

    exact = contamination(train, bench, k=3).agg(
        F.sum("n_shingles").alias("n"), F.sum("n_contaminated").alias("c")
    ).collect()[0]
    bloom = contamination_bloom(
        train, bench, k=3, m_bits=m_bits, k_hashes=k_hashes
    ).agg(F.sum("n_contaminated").alias("c")).collect()[0]

    clean = exact["n"] - exact["c"]
    false_pos = bloom["c"] - exact["c"]
    assert false_pos >= 0
    assert false_pos <= max(5, 3 * fpp * clean), (false_pos, fpp, clean)


def test_bloom_parameters_sizing():
    m, k = bloom_parameters(1000, 0.01)
    assert m % 64 == 0 and m >= 9000 and 5 <= k <= 8
    m_tight, _ = bloom_parameters(1000, 0.001)
    assert m_tight > m
    # degenerate inputs stay sane
    m_min, k_min = bloom_parameters(1, 0.5)
    assert m_min >= 64 and k_min >= 1


def test_bloom_build_matches_python_twin(spark):
    """The distributed bit_or build yields exactly the bitmap a
    single-threaded python bloom insert produces."""
    rows = [(1, "the quick brown fox jumps"), (2, "pack my box with jugs")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m_bits, k_hashes, k = 1 << 10, 3, 3

    got = bloom_filter_build(
        df, k=k, m_bits=m_bits, k_hashes=k_hashes
    ).collect()[0]["_bloom"]

    want = [0] * (m_bits // 64)
    for _, text in rows:
        words = text.split()
        shingles = {
            " ".join(words[i : i + k]) for i in range(len(words) - k + 1)
        }
        for s in shingles:
            for i in range(k_hashes):
                pos = (
                    int(
                        hashlib.md5(f"{s}#b{i}".encode()).hexdigest()[:12], 16
                    )
                    % m_bits
                )
                w, b = divmod(pos, 64)
                want[w] |= 1 << b
    # python ints are unbounded; Spark longs wrap at 2^63
    want = [v - (1 << 64) if v >= 1 << 63 else v for v in want]
    assert list(got) == want


def test_bloom_build_rejects_unaligned_m_bits(spark):
    """The word-aligned size guard is a real exception, so it still fires
    under ``python -O``."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_filter_build(df, m_bits=100)
