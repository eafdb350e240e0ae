"""Bit-exactness of the numpy XXH64 chain against Spark's xxhash64.

The walk replay kernels re-derive Spark hash values inside numpy
(functions/xxh64.py); every branch (int step, long step, constant-string
step, multi-column chaining, pmod) must match Spark's column output
bit for bit on arbitrary inputs — otherwise a local-kernel corpus would
silently diverge from the distributed strategies.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cryptowalletcommunitydetection_spark.functions.xxh64 import (
    SPARK_DEFAULT_SEED,
    hash_bytes,
    hash_int,
    hash_long,
    pmod_u64,
    to_spark_long,
)


def _spark_hashes(spark, df, *cols):
    return np.array(
        [r["h"] for r in df.select(F.xxhash64(*cols).alias("h")).collect()],
        dtype=np.int64,
    )


@pytest.fixture(scope="module")
def strings_df(spark):
    import random

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789#_-"
    rows = [
        ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 40))),
         rng.randint(-(2 ** 31), 2 ** 31 - 1),
         rng.randint(-(2 ** 63), 2 ** 63 - 1))
        for _ in range(500)
    ]
    return spark.createDataFrame(rows, "s string, i int, l long").cache()


def test_int_step_matches_spark(spark, strings_df):
    got = _spark_hashes(spark, strings_df, F.col("i"))
    ints = np.array([r["i"] for r in strings_df.select("i").collect()],
                    dtype=np.int64)
    mine = to_spark_long(hash_int(ints, np.full(len(ints), SPARK_DEFAULT_SEED)))
    assert np.array_equal(got, mine)


def test_long_step_matches_spark(spark, strings_df):
    got = _spark_hashes(spark, strings_df, F.col("l"))
    longs = np.array([r["l"] for r in strings_df.select("l").collect()],
                     dtype=np.int64)
    mine = to_spark_long(
        hash_long(longs, np.full(len(longs), SPARK_DEFAULT_SEED))
    )
    assert np.array_equal(got, mine)


def test_chain_string_int_int_matches_spark(spark, strings_df):
    """xxhash64(s, 3, 99) == hash_int(99, hash_int(3, xxhash64(s))) —
    the exact decomposition the walk kernels rely on."""
    got = _spark_hashes(spark, strings_df, F.col("s"), F.lit(3), F.lit(99))
    base = _spark_hashes(spark, strings_df, F.col("s")).view(np.uint64)
    mine = to_spark_long(hash_int(99, hash_int(3, base)))
    assert np.array_equal(got, mine)


@pytest.mark.parametrize("lit", ["coin", "alias", "accept", "x", "#", "abcdefgh", "abcdefghi", "twelve_bytes"])
def test_const_string_step_matches_spark(spark, strings_df, lit):
    got = _spark_hashes(spark, strings_df, F.col("s"), F.lit(7), F.lit(lit))
    base = _spark_hashes(spark, strings_df, F.col("s")).view(np.uint64)
    mine = to_spark_long(
        hash_bytes(lit.encode("utf-8"), hash_int(7, base))
    )
    assert np.array_equal(got, mine)


def test_string_hash_matches_spark(spark):
    """hash_bytes over a string array equals ``F.xxhash64(s)`` for every
    byte length 0-80: the < 32-byte tail branches and the four-lane
    stripe loop, with multi-byte UTF-8 characters."""
    import random

    import pyarrow as pa

    rng = random.Random(11)
    alpha = "abc#0123456789xyzé中🙂"
    strings = []
    for n in range(81):  # one string of exactly n UTF-8 bytes per length
        s = ""
        while len(s.encode("utf-8")) < n:
            c = rng.choice(alpha)
            s += c if len((s + c).encode("utf-8")) <= n else "a"
        strings.append(s)
    strings += ["0x" + "".join(rng.choice("0123456789abcdef") for _ in range(40)) + "#7"
                for _ in range(20)]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = _spark_hashes(spark, df, F.col("s"))
    mine = to_spark_long(hash_bytes(pa.array(strings), SPARK_DEFAULT_SEED))
    assert [len(s.encode("utf-8")) for s in strings[:81]] == list(range(81))
    assert np.array_equal(got, mine)


def test_big_int_literal_chain_matches_spark(spark, strings_df):
    """F.lit(i) for i outside int32 becomes a LongType literal (8-byte
    branch); hash_py_int mirrors that typing."""
    from cryptowalletcommunitydetection_spark.functions.xxh64 import (
        hash_py_int,
    )

    big = 2 ** 31 + 7
    got = _spark_hashes(spark, strings_df, F.col("s"), F.lit(3), F.lit(big))
    base = _spark_hashes(spark, strings_df, F.col("s")).view(np.uint64)
    mine = to_spark_long(hash_py_int(big, hash_int(3, base)))
    assert np.array_equal(got, mine)
    # and the int32 boundary itself still routes through the int branch
    small = 2 ** 31 - 1
    got2 = _spark_hashes(spark, strings_df, F.col("s"), F.lit(small))
    mine2 = to_spark_long(hash_py_int(small, base))
    assert np.array_equal(got2, mine2)


def test_pmod_matches_spark(spark, strings_df):
    got = np.array(
        [
            r["m"]
            for r in strings_df.select(
                F.pmod(F.xxhash64("s", F.lit(5)), F.lit(97)).alias("m")
            ).collect()
        ],
        dtype=np.int64,
    )
    base = _spark_hashes(spark, strings_df, F.col("s")).view(np.uint64)
    mine = pmod_u64(hash_int(5, base), 97)
    assert np.array_equal(got, mine)
