import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from cobweb_spark.session import get_spark

    spark = get_spark(app_name="cobweb-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sample_site_corpus():
    from cobweb_spark.testkit import fixtures as fx

    if not os.path.isdir(fx.REFERENCE_SAMPLES):
        pytest.skip("reference sample fixtures not available")
    return fx.build_sample_site_corpus()


@pytest.fixture(scope="session", autouse=True)
def no_leaked_bank_scratch():
    """Fail the session if any SeenFilterBank scratch directory made
    during it survives once the banks are garbage-collected."""
    import gc
    import glob

    from cobweb_spark.operators.filters import bank_scratch_base

    pattern = os.path.join(bank_scratch_base(), "seenbank-*")
    before = set(glob.glob(pattern))
    yield
    gc.collect()
    leaked = sorted(set(glob.glob(pattern)) - before)
    assert not leaked, f"seenbank scratch leaked by the suite: {leaked}"
