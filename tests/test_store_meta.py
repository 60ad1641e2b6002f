"""Store meta files (operators/store_meta): absent and earlier-layout
stores read as None, commits replace the file whole, and a meta that
exists but cannot be parsed raises instead of reading as absent."""

from __future__ import annotations

import json
import os

import pytest

from sparkit_learn_spark.operators.store_meta import (
    read_meta,
    require_meta,
    write_meta,
)


def test_absent_and_parquet_meta_layout_read_as_none(tmp_path):
    assert read_meta(str(tmp_path / "missing")) is None
    old = tmp_path / "old"
    (old / "meta").mkdir(parents=True)  # the earlier parquet-table meta
    (old / "meta" / "part-0.parquet").write_bytes(b"PAR1")
    assert read_meta(str(old)) is None
    with pytest.raises(FileNotFoundError):
        require_meta(str(old))


def test_commit_replaces_whole_file(tmp_path):
    path = str(tmp_path / "store")
    write_meta(path, {"n_docs": 3, "source_fingerprint": "a"})
    write_meta(path, {"n_docs": 5, "source_fingerprint": "b"})
    assert read_meta(path) == {"n_docs": 5, "source_fingerprint": "b"}
    assert require_meta(path) == read_meta(path)
    assert os.listdir(path) == ["_meta.json"]  # no temp file left


def test_corrupt_meta_raises(tmp_path):
    (tmp_path / "_meta.json").write_text('{"source_fingerprint": ')
    with pytest.raises(json.JSONDecodeError):
        read_meta(str(tmp_path))
