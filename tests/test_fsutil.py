"""Driver-side sidecar I/O (timely_spark.fsutil) — the r12 replacement
for one-row-parquet model sidecars.

The contract every persistent index (IvfPq / Decon / MinHash) and the
hot-cache archive rely on: a dict of parameters round-trips byte-exactly
through the Hadoop FileSystem API (doubles via shortest-repr JSON),
missing files read as None, and delete retires a stale directory layout.
"""

import os

from timely_spark.fsutil import (
    sidecar_delete,
    sidecar_read_json,
    sidecar_write_json,
)


def test_sidecar_json_roundtrip_exact(spark, tmp_path):
    path = str(tmp_path / "model.json")
    obj = {
        "dim": 64,
        "m": 16,
        "threshold": 0.8500000000000001,  # repr-exact double
        "codebook": [0.1, -2.5e-17, 3.0],
        "name": "ivfpq",
        "none_field": None,
    }
    sidecar_write_json(spark, path, obj)
    back = sidecar_read_json(spark, path)
    assert back == obj
    # doubles survive BYTE-exactly (shortest-repr JSON round trip)
    assert back["threshold"].hex() == obj["threshold"].hex()
    assert [v.hex() for v in back["codebook"]] == [
        v.hex() for v in obj["codebook"]
    ]


def test_sidecar_overwrite_and_missing(spark, tmp_path):
    path = str(tmp_path / "model.json")
    assert sidecar_read_json(spark, path) is None  # missing -> None
    sidecar_write_json(spark, path, {"v": 1})
    sidecar_write_json(spark, path, {"v": 2})  # overwrite, not append
    assert sidecar_read_json(spark, path) == {"v": 2}


def test_sidecar_delete_retires_directory_layout(spark, tmp_path):
    # writers call sidecar_delete on the pre-r12 one-row-parquet DIR so
    # the two layouts can never disagree after an overwrite
    stale = tmp_path / "model"
    stale.mkdir()
    (stale / "part-00000.parquet").write_bytes(b"x")
    sidecar_delete(spark, str(stale))
    assert not os.path.exists(str(stale))
    # deleting a non-existent path is a no-op, not an error
    sidecar_delete(spark, str(stale))


def test_replace_dir_swaps_and_restores_a_parked_directory(spark, tmp_path):
    """``replace_dir`` swaps a directory in; a directory a crash left
    parked at ``__old`` (current already moved aside) is restored, not
    deleted, before the next swap."""
    from timely_spark.fsutil import replace_dir

    cur, new = tmp_path / "t", tmp_path / "t_new"
    cur.mkdir()
    (cur / "a").write_text("old")
    new.mkdir()
    (new / "a").write_text("new")
    replace_dir(spark, str(new), str(cur))
    assert (cur / "a").read_text() == "new"
    assert not new.exists() and not (tmp_path / "t__old").exists()

    os.rename(cur, tmp_path / "t__old")  # crash between the two renames
    new.mkdir()
    (new / "a").write_text("newer")
    replace_dir(spark, str(new), str(cur))
    assert (cur / "a").read_text() == "newer"
    assert not (tmp_path / "t__old").exists()
