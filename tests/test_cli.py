"""CLI entry smoke (reference O23: the Luigi task invocation surface)."""

from __future__ import annotations

import os
import shutil

from gjenbruksstasjoner_kotid_estimering_spark.__main__ import main

REF_JPG = "/root/reference/test/data/station_id_41_20200506T094000.jpg"


def test_cli_list(capsys):
    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "queue_estimate\toracle" in out


def test_cli_query(capsys):
    assert main(["--query", "scan_limit1", "--show", "1"]) == 0
    assert "scan_limit1: 1 rows" in capsys.readouterr().out


def test_cli_unknown_query():
    assert main(["--query", "nope"]) == 2


def test_cli_images_path_prefix(tmp_path, capsys):
    """--images + --path-prefix is the Luigi --prefix= analog: only frames
    under the prefix are processed (tasks.py:14,44-45)."""
    import pytest

    if not os.path.exists(REF_JPG):
        pytest.skip("reference fixture not present")
    d = tmp_path / "frames"
    d.mkdir()
    shutil.copy(REF_JPG, d / os.path.basename(REF_JPG))
    shutil.copy(REF_JPG, d / "station_id_7_20200506T094000.jpg")
    out_dir = str(tmp_path / "features")
    rc = main(
        [
            "--images", str(d),
            "--path-prefix", "station_id_41",
            "--out", out_dir,
            "--show", "2",
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "1 frames" in text  # prefix filtered 2 -> 1
    from gjenbruksstasjoner_kotid_estimering_spark.session import get_spark

    feats = get_spark().read.parquet(out_dir)
    assert feats.count() == 1
    assert feats.collect()[0].station_id == 41


def test_cli_images_decodes_jpegs(spark, tmp_path, capsys):
    """--images runs the real JPEG decoder, and --path-prefix keeps the .jpg filter: a non-JPEG file under the
    prefix must not reach the decoder."""
    import numpy as np

    from gjenbruksstasjoner_kotid_estimering_spark.sources import images as im
    from gjenbruksstasjoner_kotid_estimering_spark.sources import jpeg

    d = tmp_path / "frames"
    d.mkdir()
    yy, xx = np.mgrid[0 : im.RAW_H, 0 : im.RAW_W]
    frame = np.dstack([(xx // 5) % 256, (yy + xx // 9) % 256, (2 * yy) % 256])
    (d / "station_id_41_20200506T094000.jpg").write_bytes(
        jpeg.encode(frame.astype(np.uint8), quality=90)
    )
    (d / "station_id_41_notes.txt").write_bytes(b"not a jpeg")

    expected = im.preprocess_images(
        im.read_images(spark, str(d)), decoder=im.jpeg_decoder()
    ).collect()
    assert len(expected) == 1
    expected = [(r.station_id, r.epoch, list(r.features)) for r in expected]

    for argv, out_dir in (
        ([], tmp_path / "all"),
        (["--path-prefix", "station_id_41"], tmp_path / "prefixed"),
    ):
        rc = main(["--images", str(d), *argv, "--out", str(out_dir)])
        assert rc == 0
        assert "1 frames" in capsys.readouterr().out
        got = [
            (r.station_id, r.epoch, list(r.features))
            for r in spark.read.parquet(str(out_dir)).collect()
        ]
        assert got == expected
