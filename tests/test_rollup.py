"""Bipartite group rollup vs get_group_full semantics (SURVEY.md §5 item 3).

Golden check on a planted synthetic fixture and on the three seeded
stand-ins for the reference's community-assignment CSVs (conftest.py).
"""

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import bipartite_group_rollup
from tests.oracles import expected_rollup


def _check(spark, pairs_pdf):
    pairs = spark.createDataFrame(
        pairs_pdf, schema="from_address string, to_address string"
    )
    got = {
        r["component"]: r
        for r in bipartite_group_rollup(spark, pairs).collect()
    }
    want = expected_rollup(pairs_pdf)
    assert len(got) == len(want)
    for w in want:
        g = got[w["component"]]
        assert list(g["user_wallets"]) == w["user_wallets"]
        assert list(g["deposit_wallets"]) == w["deposit_wallets"]
        assert g["num_user"] == w["num_user"]
        assert g["num_depo"] == w["num_depo"]
        assert sorted((e["src"], e["dst"]) for e in g["edges"]) == w["edges"]
        assert g["group_id"] is not None and len(g["group_id"]) == 64


def test_rollup_synthetic(spark):
    _check(spark, datagen.gen_wallet_pairs_pdf(n_components=5))


def test_rollup_reference_fixture(spark, reference_pairs_pdf):
    _check(spark, reference_pairs_pdf)


def test_rollup_deterministic_group_ids(spark):
    pairs = datagen.gen_wallet_pairs(spark, n_components=3)
    a = {r["component"]: r["group_id"] for r in bipartite_group_rollup(spark, pairs).collect()}
    b = {r["component"]: r["group_id"] for r in bipartite_group_rollup(spark, pairs).collect()}
    assert a == b


def test_rollup_salted_equals_plain(spark):
    """nsalt routing through salted_collect must not change results."""
    pdf = datagen.gen_wallet_pairs_pdf(n_components=4)
    pairs = spark.createDataFrame(pdf)
    plain = bipartite_group_rollup(spark, pairs)
    salted = bipartite_group_rollup(spark, pairs, nsalt=4)
    key = lambda df: sorted(
        (r["component"], list(r["user_wallets"]), list(r["deposit_wallets"]),
         r["num_user"], r["num_depo"])
        for r in df.select("component", "user_wallets", "deposit_wallets",
                           "num_user", "num_depo").collect()
    )
    assert key(plain) == key(salted)


def test_rollup_self_pair_singleton(spark):
    """A wallet whose ONLY pair is a self-transfer still appears as a
    singleton community (canonicalize drops the self-loop edge, but the
    vertex set keeps the endpoint — nx.Graph/reference semantics)."""
    import pandas as pd

    pdf = pd.DataFrame(
        [
            ("a", "a"),          # self-pair only -> singleton community, user
            ("u1", "d1"),        # normal pair
            ("u1", "u1"),        # self-pair on a connected wallet: no-op
        ],
        columns=["from_address", "to_address"],
    )
    _check(spark, pdf)
