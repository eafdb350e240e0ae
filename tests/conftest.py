import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cryptowalletcommunitydetection_spark import build_session  # noqa: E402
from cryptowalletcommunitydetection_spark.datagen import gen_wallet_pairs_pdf  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="cwcd-tests", shuffle_partitions=8)
    yield s


# Seeded stand-ins for the three reference community-assignment fixtures
# (data/*_wallets_pairs.csv, schema (index, x, y) — x = user, y = deposit
# wallet), sized near the originals' 615 / 8,659 / 23,779 pairs (these
# give 615 — a perfect matching, like the original — 8,672 and 23,781).
# Each consuming test checks the engine against its oracle on every one.
WALLET_FIXTURES = {
    "social": dict(n_components=615, users_per_component=1, depos_per_component=1),
    "0x1": dict(n_components=439, users_per_component=10, depos_per_component=3),
    "0x38": dict(n_components=793, users_per_component=20, depos_per_component=2),
}


@pytest.fixture(scope="session", params=sorted(WALLET_FIXTURES))
def reference_pairs_pdf(request):
    """Parametrized over every fixture: each test consuming this fixture
    runs against all three workload shapes."""
    return gen_wallet_pairs_pdf(**WALLET_FIXTURES[request.param], seed=1)
