# ---------------------------------------------------------------- binaryFile


def _tiny_png():
    import numpy as np

    from tests.test_multimodal import _png_with_filters

    return _png_with_filters(
        np.arange(4 * 3 * 3, dtype="uint8").reshape(4, 3, 3))


def test_binary_file_source_discover_read(spark, tmp_path):
    from tap_airbyte_wrapper_spark.sources.base import get_source

    (tmp_path / "a.png").write_bytes(_tiny_png())
    (tmp_path / "b.wav").write_bytes(b"RIFF0000WAVEfmt ")
    (tmp_path / "c.bin").write_bytes(b"\x00\x01")

    src = get_source("binary_files", {"path": str(tmp_path)})
    cat = src.discover(spark)
    (entry,) = cat.streams
    assert entry.replication_key == "modificationTime"
    rows = {r.media_type for r in src.read(spark, entry).collect()}
    assert rows == {"image/png", "audio/wav", "application/octet-stream"}


def test_binary_file_source_glob_and_incremental(spark, tmp_path):
    from tap_airbyte_wrapper_spark.sources.base import get_source

    (tmp_path / "a.png").write_bytes(_tiny_png())
    src = get_source("binary_files", {"path": str(tmp_path), "glob": "*.png"})
    (entry,) = src.discover(spark).streams
    first = src.read(spark, entry).collect()
    assert len(first) == 1
    bookmark = max(r.modificationTime for r in first)
    # nothing new -> empty incremental read
    assert src.read_incremental(spark, entry, bookmark).count() == 0
    import time as _t
    _t.sleep(1.1)
    (tmp_path / "z.png").write_bytes(_tiny_png())
    inc = src.read_incremental(spark, entry, bookmark).collect()
    assert [r.path.endswith("z.png") for r in inc] == [True]


def test_binary_file_source_feeds_real_png_decode(spark, tmp_path):
    from tap_airbyte_wrapper_spark.functions import decode_image, with_media_metadata
    from tap_airbyte_wrapper_spark.sources.base import get_source

    (tmp_path / "a.png").write_bytes(_tiny_png())
    src = get_source("binary_files", {"path": str(tmp_path), "glob": "*.png"})
    (entry,) = src.discover(spark).streams
    df = src.read(spark, entry)
    media = with_media_metadata(df, "content", "image/png").select(
        "path", "media_bundle")
    out = decode_image(media, "media_bundle").collect()
    assert [(r.width, r.height, r.channels) for r in out] == [(3, 4, 3)]

