"""scripts/make_scaled_data.py refuses inputs whose keys would collide
across replicas."""

from __future__ import annotations

import importlib.util
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _load():
    spec = importlib.util.spec_from_file_location(
        "make_scaled_data",
        os.path.join(
            os.path.dirname(__file__), "..", "scripts", "make_scaled_data.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_key_at_offset_fails_before_writing(tmp_path, monkeypatch):
    mod = _load()
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    for t, keys in mod.FACT_KEYS.items():
        cols = {k: pa.array([1, 2], pa.int64()) for k in keys}
        if t == "orders":
            cols["o_custkey"] = pa.array([1, mod.OFFSET], pa.int64())
        pq.write_table(pa.table(cols), src / f"{t}.parquet")
    monkeypatch.setattr(sys, "argv", ["make_scaled_data.py", str(src), str(out), "2"])
    with pytest.raises(ValueError, match=r"orders\.o_custkey"):
        mod.main()
    assert not out.exists()


@pytest.mark.parametrize(
    "values, ok",
    [([0, 9_999_999], True), ([5, 10_000_000], False), ([-1, 3], False)],
)
def test_check_key_range(values, ok):
    mod = _load()
    tb = pa.table({"doc_id": pa.array(values, pa.int64())})
    if ok:
        mod.check_key_range("documents", tb, ["doc_id"])
    else:
        with pytest.raises(ValueError, match=r"documents\.doc_id"):
            mod.check_key_range("documents", tb, ["doc_id"])
