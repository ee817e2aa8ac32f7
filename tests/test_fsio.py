"""Hadoop-FS-backed small-file IO: round-trip, probes, and the resume
contract on a missing/partial directory."""

from __future__ import annotations

from angle_spark import fsio


def test_text_roundtrip_and_probes(spark, tmp_path):
    p = str(tmp_path / "nested" / "meta.json")
    assert not fsio.exists(spark, p)
    fsio.write_text(spark, p, '{"a": 1, "unicode": "δ"}')
    assert fsio.exists(spark, p)
    assert fsio.read_text(spark, p) == '{"a": 1, "unicode": "δ"}'
    # overwrite semantics
    fsio.write_text(spark, p, "x")
    assert fsio.read_text(spark, p) == "x"


def test_has_files_with_suffix(spark, tmp_path):
    d = str(tmp_path / "lineage")
    assert not fsio.has_files_with_suffix(spark, d)  # missing dir: graceful
    fsio.mkdirs(spark, d)
    assert not fsio.has_files_with_suffix(spark, d)  # empty dir
    fsio.write_text(spark, d + "/_started", "")
    assert not fsio.has_files_with_suffix(spark, d)  # non-parquet only
    fsio.write_text(spark, d + "/sub/part-0.parquet", "stub")
    assert fsio.has_files_with_suffix(spark, d)  # recursive hit


def test_committed_segments_empty_on_fresh_dir(spark, tmp_path):
    from angle_spark.index.build import committed_segments

    assert committed_segments(spark, str(tmp_path / "nowhere")) == set()


def test_sink_format_seam(spark, tmp_path):
    """the index sink is format-pluggable: the generic format().save()
    path works for any available DataSource (exercised with the built-in
    json source), and an unavailable format (no Iceberg jar in this
    sandbox) fails loudly with the data-source name, not silently."""
    import pytest

    from angle_spark.index.build import _read_table, _write

    df = spark.range(5).selectExpr("id AS x")
    _write(df, str(tmp_path / "t"), "json", "overwrite")
    assert _read_table(spark, str(tmp_path / "t"), "json", "x long").count() == 5
    with pytest.raises(Exception, match="(?i)iceberg|data.?source|failed to find"):
        _write(df, str(tmp_path / "t2"), "iceberg", "overwrite")
