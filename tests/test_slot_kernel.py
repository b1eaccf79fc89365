"""The Arrow slot kernel (``slot_arrow``) against the pure-Python core, and
the zip-importer guard (``zipshim``) — neither needs a Spark session."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, strategies as st

from duckdb_cluster_hash_spark.core import get_slot
from duckdb_cluster_hash_spark.functions.clusterhash import slot_arrow, slot_batch
from tests.test_core import GOLDENS, _utf8_chars

# braces drawn as often as any other character, so tags are common
_tagged_text = st.text(alphabet=st.one_of(_utf8_chars, st.sampled_from("{}")))


def _expected(keys):
    return [None if k is None else get_slot(k) for k in keys]


@given(st.lists(st.one_of(st.none(), _tagged_text), max_size=40))
def test_slot_arrow_matches_core(keys):
    assert slot_arrow(pa.array(keys, pa.string())).to_pylist() == _expected(keys)


# ROADMAP S2's edge keys: NULL, empty key, empty tag, empty first tag, two
# tags, a tag mid-key, a non-ASCII tag
S2_EDGE_KEYS = [None, "", "{}", "{}{a}", "{a}{b}", "a{b}c", "{ключ}:x"]


def test_slot_arrow_goldens_and_edge_keys():
    keys = [k for k, *_ in GOLDENS] + S2_EDGE_KEYS
    got = slot_arrow(pa.array(keys)).to_pylist()
    assert got[: len(GOLDENS)] == [slot for _, slot, *_ in GOLDENS]
    assert got == _expected(keys)


@pytest.mark.parametrize(
    "keys",
    [
        pa.array(["x", "{a}y", "user:1000", None, "z{b}"]).slice(1, 3),
        pa.chunked_array([["{a}b", None], [], ["user:1000", "{a}c"]]),
        pa.array(["foo", "{user:1000}:x", None], pa.large_string()),
        pa.array([], pa.string()),
        pa.array([None, None, None], pa.string()),
        pa.array(["{hot}:k"] * 10_000),
    ],
    ids=["sliced", "chunked", "large_string", "empty", "all_null", "one_key_10k"],
)
def test_slot_arrow_layouts(keys):
    got = slot_arrow(keys)
    assert got.type == pa.int32()
    assert got.to_pylist() == _expected(keys.to_pylist())


def test_slot_arrow_casts_integers_to_decimal_text():
    assert slot_arrow(pa.array([7, None, -12])).to_pylist() == _expected(["7", None, "-12"])


def test_slot_batch_keeps_index_and_nulls():
    keys = pd.Series(["user:1000", None, "{}"], index=[5, 6, 7])
    out = slot_batch(keys)
    assert str(out.dtype) == "Int32"
    assert list(out.index) == [5, 6, 7]
    assert out.tolist() == [1649, pd.NA, 15257]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zipshim_rereads_changed_archive_only(tmp_path, monkeypatch):
    import duckdb_cluster_hash_spark  # noqa: F401 -- installs the shim

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zs_mod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zs_mod_a", "zs_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zs_mod_a").NAME == "zs_mod_a"
    importlib.invalidate_caches()  # the importer now holds the archive's stamp

    # a rewritten archive (new size) is re-read: its new module imports
    _write_zip(archive, ["zs_mod_a", "zs_mod_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("zs_mod_b").NAME == "zs_mod_b"

    # an unchanged archive is not re-read at all
    calls = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: calls.append(a) or read(a))
    importlib.invalidate_caches()
    assert calls == []
    for name in ("zs_mod_a", "zs_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
