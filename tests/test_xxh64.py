"""Bit-exactness of the numpy XXH64 chain against Spark's xxhash64.

The walk replay kernels re-derive Spark hash values inside numpy
(functions/xxh64.py); every branch (int step, long step, constant-string
step, multi-column chaining, pmod) must match Spark's column output
bit for bit on arbitrary inputs — otherwise a local-kernel corpus would
silently diverge from the distributed strategies. The run manifest key
the driver-side kernels compute (``arrow_identity``) must equal Spark's
``content_identity`` too, or a run dir would not cross strategies.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cryptowalletcommunitydetection_spark.functions.xxh64 import (
    SPARK_DEFAULT_SEED,
    hash_bytes,
    hash_double,
    hash_int,
    hash_long,
    pmod_u64,
    to_spark_long,
)
from cryptowalletcommunitydetection_spark.plans.checkpoint import (
    arrow_identity,
    content_identity,
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


def _nan(bits):
    return np.array([bits], dtype=np.uint64).view(np.float64)[0]


# weights a run manifest must key alike on both paths: -0.0 (Spark hashes
# it as 0.0), NaNs with non-canonical payloads (Java canonicalizes NaN
# before hashing), nulls (skipped by the chain) and ordinary values
_WEIGHTS = [1.5, -0.0, 0.0, _nan(0x7FF0000000000001), _nan(0xFFF8000000000123),
            float("nan"), None, -2.25, 1e300]


@pytest.mark.parametrize("case", ["int64", "string", "long_weight", "empty"])
def test_arrow_identity_equals_content_identity(spark, case):
    """The manifest key a driver-side kernel computes over its collected
    rows (``arrow_identity``) equals Spark's ``content_identity`` of the
    same rows bit for bit, weights hashed as the doubles the kernel
    collects. The string keys are non-ASCII and up to 160 bytes, so the
    four-lane stripe loop runs."""
    import random

    rng = random.Random(11)
    n = 0 if case == "empty" else 300
    if case == "string":
        keys = pa.array(["wällét-τ" * rng.randint(0, 16) + str(i) for i in range(n)])
    else:
        keys = pa.array([rng.randint(-(2 ** 63), 2 ** 63 - 1) for _ in range(n)], pa.int64())
    if case == "long_weight":
        weight = pa.array([rng.randint(-(2 ** 62), 2 ** 62) if i % 7 else None
                           for i in range(n)], pa.int64())
    else:
        weight = pa.array([_WEIGHTS[i % len(_WEIGHTS)] for i in range(n)], pa.float64())
    table = pa.table({"src": keys, "dst": keys.take(pa.array(range(n)[::-1], pa.int64())),
                      "weight": weight})
    df = spark.createDataFrame(table) if n else spark.createDataFrame(
        [], "src long, dst long, weight double")
    w = F.col("weight").cast("double")
    collected = df.select("src", "dst", w.alias("w")).toArrow()
    want = content_identity(df, "src", "dst", w)
    assert arrow_identity(collected.columns) == want
    assert arrow_identity(table.select(["src", "dst"]).columns + [
        table.column("weight").cast(pa.float64(), safe=False)]) == want
    # the original column types hash alike too (the long branch)
    assert arrow_identity(df.toArrow().columns) == content_identity(df, "src", "dst", "weight")
    if case == "empty":
        assert want == [0, 0, 0]


def test_double_hash_semantics_match_spark(spark):
    """What the numpy twin relies on, checked in Spark: -0.0 hashes as
    0.0, every NaN as the canonical NaN, and a null argument leaves the
    chain as it was: xxhash64(x, null) == xxhash64(x)."""
    vals = [0.0, -0.0, float("nan"), _nan(0x7FF0000000000001), _nan(0xFFF8000000000123)]
    df = spark.createDataFrame(pa.table({"x": pa.array([7] * 6, pa.int64()),
                                         "w": pa.array(vals + [None], pa.float64())}))
    both = _spark_hashes(spark, df, F.col("x"), F.col("w"))
    alone = _spark_hashes(spark, df, F.col("x"))
    assert both[0] == both[1] and both[2] == both[3] == both[4]
    assert both[5] == alone[5]
    seed = np.full(5, SPARK_DEFAULT_SEED)
    mine = to_spark_long(hash_double(np.array(vals), hash_long(np.full(5, 7), seed)))
    assert np.array_equal(mine, both[:5])


def test_arrow_identity_other_column_types(spark):
    """Narrow integers hash as Spark's ints, booleans as 0/1 ints, dates
    as their day number and timestamps as their microseconds; nulls are
    skipped in every type."""
    import datetime

    n = 50
    table = pa.table({
        "i": pa.array([i * 7919 - 10 ** 5 if i % 5 else None for i in range(n)], pa.int32()),
        "s": pa.array([i - 25 for i in range(n)], pa.int16()),
        "b": pa.array([None if i % 7 == 0 else i % 2 == 0 for i in range(n)]),
        "d": pa.array([datetime.date(1969, 12, 1) + datetime.timedelta(days=37 * i)
                       for i in range(n)]),
        "t": pa.array([datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)
                       + datetime.timedelta(seconds=9973 * i, microseconds=i)
                       for i in range(n)], pa.timestamp("us", tz="UTC")),
    })
    df = spark.createDataFrame(table)
    assert arrow_identity(df.toArrow().columns) == content_identity(df, *table.column_names)
