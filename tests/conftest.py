import pytest

from openie_with_entities_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def steal_ratio():
    """Host-steal ratio for steal-aware wall-clock bounds (the sandbox VM
    sees bursts of 2-3x host steal with zero local load — see
    openie_with_entities_spark/noise.py).  Quick reading (~2-4s, once per
    session): 1 wave of one half-size busy-loop per core, so the probe
    measures steal, not oversubscription.  Correctness assertions must
    NEVER depend on this — only timing bounds scale with it."""
    from openie_with_entities_spark.noise import measure_steal

    r = measure_steal(n=2_000_000, waves=1, repeats=2)
    print(f"\n[steal probe] {r}")
    return r.ratio


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "real_models: opt-in real-backend smoke tests (torch/flair/spaCy; "
        "skipped automatically when the libraries are absent)",
    )
