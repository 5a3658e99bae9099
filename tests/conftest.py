import pytest


@pytest.fixture(scope="session")
def spark():
    from anomalydetector_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages(spark):
    from anomalydetector_spark.datagen import generate_pages

    df = generate_pages(spark, 30_000).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="session")
def ref():
    """The reference package imported verbatim from /root/reference with
    our (golden-fixture-validated) median filter injected for the
    uncompilable Cython symbol. Session-scoped; shared by the parity
    test modules."""
    import importlib
    import sys
    import types

    from anomalydetector_spark.kernel.filters import median_filter

    if not __import__("pathlib").Path(
        "/root/reference/msanomalydetector/spectral_residual.py"
    ).exists():
        pytest.skip("reference repo not available")

    stub = types.ModuleType("msanomalydetector._anomaly_kernel_cython")
    stub.median_filter = median_filter

    saved_path = list(sys.path)
    saved_mods = {
        k: sys.modules[k]
        for k in list(sys.modules)
        if k.startswith("msanomalydetector")
    }
    for k in saved_mods:
        del sys.modules[k]
    sys.modules["msanomalydetector._anomaly_kernel_cython"] = stub
    sys.path.insert(0, "/root/reference")
    sys.dont_write_bytecode = True
    try:
        yield importlib.import_module("msanomalydetector")
    finally:
        sys.dont_write_bytecode = False
        sys.path[:] = saved_path
        for k in list(sys.modules):
            if k.startswith("msanomalydetector"):
                del sys.modules[k]
        sys.modules.update(saved_mods)


class _GroupStateStub:
    """Minimal stand-in for pyspark's GroupState (exists/get/update), for
    driving applyInPandasWithState functions directly."""

    def __init__(self):
        self._v, self.exists = None, False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True


@pytest.fixture
def group_state():
    """Factory of fresh GroupState stubs: ``state = group_state()``."""
    return _GroupStateStub
