import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataclass_array_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", cpus="8")


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def force_distributed(monkeypatch):
    """Context manager under which every bounded driver fold takes its
    distributed path: ``core.table.collect_bounded`` reports every frame
    as over its cap (consumers import it lazily, at call time)."""
    import contextlib

    from dataclass_array_spark.core import table

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(table, "collect_bounded", lambda df, cap=1 << 16: None)
            yield

    return forced


# plan-node markers of Python evaluation; a tier-1 (Catalyst-traced) plan
# contains none of them
PYTHON_PLAN_NODES = ("MapInPandas", "MapInArrow", "BatchEvalPython", "ArrowEvalPython", "PythonUDF")


def to_np_cell(v, spec) -> np.ndarray:
    """One ``to_pandas()`` cell → ndarray.  Arrow hands a rank≥2 cell back
    as an object array of row arrays, which ``np.asarray(v, dtype)``
    cannot convert: stack its rows instead."""
    if isinstance(v, np.ndarray) and v.dtype == object and v.size:
        return np.stack([to_np_cell(x, spec) for x in v])
    return np.asarray(v, dtype=spec.np_dtype)


def assert_np_equal(table, expected: dict[str, np.ndarray], rtol=1e-6):
    """Tree-aware compare of a DcaTable against numpy arrays (shape,
    dtype-kind, values) — analog of reference testing.py:38-86."""
    got = table.to_numpy_fields()
    assert set(got) == set(expected), f"fields {set(got)} != {set(expected)}"
    for k, exp in expected.items():
        g = got[k]
        assert g.shape == exp.shape, f"{k}: shape {g.shape} != {exp.shape}"
        np.testing.assert_allclose(
            g.astype(np.float64, copy=False) if g.dtype.kind in "fiu" else g,
            exp.astype(np.float64, copy=False) if exp.dtype.kind in "fiu" else exp,
            rtol=rtol,
            err_msg=f"field {k}",
        )
