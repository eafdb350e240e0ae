"""Connected components vs NetworkX oracle (SURVEY.md §5 item 2a)."""

import pytest

from cryptowalletcommunitydetection_spark import datagen
from cryptowalletcommunitydetection_spark.graph import connected_components
from tests.oracles import nx_components

SHAPES = {
    "ring": datagen.ring(12),
    "star": datagen.star(15),
    "two_cliques": datagen.two_cliques_bridge(5),
    "erdos_renyi": datagen.erdos_renyi(40, 0.04, seed=7),
    "disconnected": datagen.ring(5) + [(100, 101), (102, 103), (101, 102)],
    # 50 has only a self-loop: a singleton component of its own
    "self_loops": datagen.ring(6) + [(0, 0), (3, 3), (50, 50), (51, 52)],
}


@pytest.mark.parametrize("local", [None, False], ids=["local-auto", "distributed"])
@pytest.mark.parametrize("name", sorted(SHAPES))
def test_cc_matches_networkx(spark, name, local):
    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    got = {
        r["id"]: r["component"]
        for r in connected_components(spark, edges, local=local).collect()
    }
    assert got == nx_components(pairs)


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_cc_pre_contracted_matches_networkx(spark, name):
    """The hash-to-min pre-contraction phase (forced below its auto
    size gate) + star loop + anchor composition produces exactly the
    oracle labels on every shape — including `disconnected` (multiple
    components) and `ring` (diameter > the pre-rounds, so the
    star loop genuinely finishes the closure the pre-phase left
    incomplete)."""
    pairs = SHAPES[name]
    edges = datagen.edges_df(spark, pairs)
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            spark, edges, local=False, pre_contract=True
        ).collect()
    }
    assert got == nx_components(pairs)


def test_cc_pre_contracted_strings_and_isolated(spark):
    """Pre-contraction on string keys + isolated vertices: labels equal
    the plain distributed run's bit for bit."""
    pairs = datagen.gen_wallet_pairs_pdf(n_components=4, seed=23)
    edges = spark.createDataFrame(
        pairs.rename(columns={"from_address": "src", "to_address": "dst"}),
        schema="src string, dst string",
    )
    verts = spark.createDataFrame([("zzz_isolated",)], "id string")
    kw = dict(vertices=verts, local=False)
    plain = {
        r["id"]: r["component"]
        for r in connected_components(
            spark, edges, pre_contract=False, **kw
        ).collect()
    }
    pre = {
        r["id"]: r["component"]
        for r in connected_components(
            spark, edges, pre_contract=True, **kw
        ).collect()
    }
    assert pre == plain
    assert pre["zzz_isolated"] == "zzz_isolated"


def test_cc_reference_fixture(spark, reference_pairs_pdf):
    pairs = list(
        reference_pairs_pdf.itertuples(index=False, name=None)
    )
    edges = spark.createDataFrame(
        reference_pairs_pdf.rename(
            columns={"from_address": "src", "to_address": "dst"}
        ),
        schema="src string, dst string",
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(spark, edges).collect()
    }
    assert got == nx_components(pairs)


def test_cc_isolated_vertices(spark):
    edges = datagen.edges_df(spark, [(1, 2)])
    verts = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(spark, edges, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 1, 9: 9}


def test_cc_empty(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(spark, edges).count() == 0


def test_cc_encoded_equals_unencoded(spark, monkeypatch):
    """Int64 re-keying is a pure physical optimization: labels (and the
    min-original-key component representative) must be identical to the
    string-key run, including encoded isolated vertices. The distributed
    path re-keys from ``ENCODE_MIN_EDGES`` distinct edges on; the gate
    is moved to 0 (every string graph re-keys) and out of reach."""
    from cryptowalletcommunitydetection_spark.graph import cc

    pairs = datagen.gen_wallet_pairs_pdf(n_components=5, seed=11)
    edges = spark.createDataFrame(
        pairs.rename(columns={"from_address": "src", "to_address": "dst"}),
        schema="src string, dst string",
    )
    verts = spark.createDataFrame([("zz_isolated",)], "id string")

    rekeyed = []
    encode_keys = cc._encode_keys
    monkeypatch.setattr(
        cc, "_encode_keys", lambda *a: rekeyed.append(1) or encode_keys(*a)
    )

    def labels(gate):
        monkeypatch.setattr(cc, "ENCODE_MIN_EDGES", gate)
        out = cc.connected_components(spark, edges, vertices=verts, local=False)
        return {r["id"]: r["component"] for r in out.collect()}

    enc = labels(0)
    plain = labels(10**18)
    assert rekeyed == [1]  # only the gate-0 run took the re-keyed path
    assert enc == plain
    assert enc["zz_isolated"] == "zz_isolated"
    # every component label is the minimum of its member keys
    from collections import defaultdict

    members = defaultdict(list)
    for k, c in enc.items():
        members[c].append(k)
    assert all(min(v) == c for c, v in members.items())


def test_cc_local_equals_distributed(spark, reference_pairs_pdf):
    """The single-task union-find fast path is a pure physical strategy:
    labels must equal the distributed star loop's bit-for-bit, isolated
    vertices included."""
    edges = spark.createDataFrame(
        reference_pairs_pdf.rename(
            columns={"from_address": "src", "to_address": "dst"}
        ),
        schema="src string, dst string",
    )
    verts = spark.createDataFrame([("zz_isolated",)], "id string")
    # plus non-ASCII keys (min ids in UTF-8 byte order: U+E000 sorts
    # before U+1F600 there, after it in UTF-16), int64 keys with
    # self-loop rows and a self-loop-only vertex, and an empty table
    uni = [("中", "é"), ("é", "\U0001F600"), ("\U0001F600", "\ue000"), ("ÿ", "Z"),
           ("Z", "a"), ("ñ", "ñ")]
    ints = [(a * 1_000_003, b * 1_000_003) for a, b in datagen.ring(5)]
    ints += [(7, 7), (0, 0), (9, 8)]
    cases = [
        (edges, verts, "zz_isolated"),
        (spark.createDataFrame(uni, "src string, dst string"),
         spark.createDataFrame([("ñ_isolated",)], "id string"), "ñ_isolated"),
        (spark.createDataFrame(ints, "src long, dst long"),
         spark.createDataFrame([(-3,), (7,)], "id long"), -3),
        (spark.createDataFrame([], "src string, dst string"), None, None),
    ]
    for edges, verts, isolated in cases:
        loc = {
            r["id"]: r["component"]
            for r in connected_components(
                spark, edges, vertices=verts, local=True
            ).collect()
        }
        dist = {
            r["id"]: r["component"]
            for r in connected_components(
                spark, edges, vertices=verts, local=False
            ).collect()
        }
        assert loc == dist
        assert isolated is None or loc[isolated] == isolated


def test_cc_nonconvergence_raises_unless_opted_out(spark):
    """A capped run must not silently return labels from a non-fixpoint
    star set (they can be duplicated/inconsistent)."""
    import pytest

    pairs = datagen.erdos_renyi(60, 0.05, seed=3)
    edges = datagen.edges_df(spark, pairs)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(spark, edges, max_iter=1, local=False)
    # opt-out returns best-effort labels without raising
    assert (
        connected_components(
            spark, edges, max_iter=1, strict=False, local=False
        ).count()
        > 0
    )
